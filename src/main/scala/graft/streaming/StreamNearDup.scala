package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming MinHash-LSH near-duplicate detection — the continuous
  * twin of [[graft.functions.Dedup.minhashNearDups]] for ingest
  * pipelines: as each document arrives, pair it against the
  * previously-seen documents it shares an LSH bucket with, rerank the
  * candidates with the EXACT Jaccard over the same xxhash64 shingle
  * sets the batch operator uses, and emit each qualifying pair once.
  *
  * Parity with the batch operator (same `shingleN`/`numHashes`/
  * `bands`/`threshold`): the per-row signature is the identical
  * min-over-shingles of `xxhash64(i, shingle)`, the bucket key the
  * identical band-slice hash, and the emitted `jaccard` the identical
  * round(|A∩B| / |A∪B|, 4) — so over any finite replay the appended
  * output equals the batch pair set, independent of arrival order
  * (a pair forms when its LATER member arrives; whichever band
  * bucket sees it, the min-band rule below picks the same one).
  *
  * Exactly-once across bands WITHOUT a second stateful operator: a
  * pair sharing several bands would be emitted by each band's bucket
  * group, and Spark does not allow a streaming dropDuplicates behind
  * flatMapGroupsWithState. But band co-presence is a pure function
  * of the two signatures — bucket keys are slice hashes — so every
  * group can locally decide "am I the FIRST shared band of this
  * pair?" and only that group emits. No coordination, no extra
  * state, no duplicate rows. (A bucket shared via xxhash64 slice
  * COLLISION rather than slice equality has no shared band; such a
  * pair — P ≈ 2⁻⁶⁴ per bucket — is skipped, where batch would have
  * reranked it. DedupSpec pins zero collisions on the graded
  * corpora.)
  *
  * State shape at scale: each (band, bucket) group holds its member
  * docs' (id, signature, shingle-hash set) — the shingle sets are
  * the exact-rerank payload, duplicated `bands` times across groups.
  * That is the honest cost of EXACT streaming near-dup; production
  * deployments bound it four ways: `maxBucket` caps any one
  * bucket's membership (degenerate buckets stop pairing at the cap —
  * the streaming form of the batch operator's dropped-bucket
  * guard — and their state stops growing; unlike batch, a pair whose
  * FIRST shared band overflowed is not recovered via a later shared
  * band, so the cap trades recall for state exactly where batch
  * trades it for candidate volume), `maxPairsPerTrigger` caps each
  * bucket's candidate EMISSION per micro-batch (see below),
  * [[pairsWithinWatermark]] evicts idle buckets by event time so
  * state is O(active window) like [[StreamDedup.withinWatermark]],
  * and production banding (r ≥ 2) keeps buckets sparse exactly as it
  * bounds batch candidates (SCALE.md's r=1 banding lesson).
  *
  * EMISSION budget — the streaming form of the batch operator's
  * rerank-payload gate (Dedup.minhashNearDups gate 2): `maxBucket`
  * bounds STATE, but on a blocking-saturated feed each trigger's
  * bucket-local pair expansion could still examine and emit
  * O(members²) candidates across many (band, bucket) groups — an
  * unbounded per-trigger shuffle/sink mass (measured at sf10: the
  * unbudgeted form filled a 77 GB disk). Batch measures BEFORE it
  * runs; a stream cannot (the corpus arrives forever), so it
  * degrades AS it runs: each (band, bucket) group RERANKS at most
  * `maxPairsPerTrigger` candidate pairs per micro-batch. The budget
  * is charged only for candidates the group OWNS (first shared band
  * == this band — the pairs it alone may emit); candidates owned by
  * another band cost the cheap signature walk and are never charged,
  * so the budget prices exactly the expensive Jaccard rerank and a
  * flood of non-emittable co-bucketed docs cannot crowd out the
  * group's own emittable pairs. Past the budget the group stops
  * reranking for that bucket-trigger and counts each OWNED remainder
  * into two observable drop metrics (named accumulators, visible in
  * the Spark UI and via [[emissionMetrics]]):
  * `graft.<site>.dropped_candidates` (owned pairs skipped
  * unexamined) and `graft.<site>.exhausted_bucket_triggers`
  * (bucket-triggers that hit the budget). At the default budget
  * (2¹⁶) the output is exact unless a single band's bucket owes more
  * than 65536 true reranks in ONE micro-batch — a saturation level
  * where re-banding, not a bigger budget, is the fix (SCALE.md's
  * r=1 banding lesson). A dropped candidate is dropped FOREVER — append
  * mode emits once or never, and the first-shared-band rule means no
  * other band's group re-examines it — so a non-zero drop metric
  * signals recall loss on a saturated feed, the same trade
  * `maxBucket` already makes for state (re-band at r >= 2 is the
  * fix, not a bigger budget). State updates are NOT budgeted: new
  * docs still join their bucket (up to `maxBucket`) after the
  * budget is spent, so a quiet bucket's later pairs still form.
  * Metric semantics are at-least-once (accumulators double-count on
  * task retry) — they are a saturation signal, not an exact ledger.
  */
object StreamNearDup {

  // `et` rides along as a real timestamp so the watermark metadata
  // survives into the stateful operator (see StreamAsOf.MergedEt)
  final case class Banded(band: Int, bucket: Long, docId: Long,
                          sig: Array[Long], sh: Array[Long],
                          et: java.sql.Timestamp)
  final case class Pair(id_a: Long, id_b: Long, jaccard: Double)
  // public: the state encoder's generated code instantiates them
  final case class BucketDoc(docId: Long, sig: Array[Long],
                             sh: Array[Long])
  final case class BucketState(docs: List[BucketDoc])

  /** First band index (0-based) at which the two signatures share a
    * bucket by slice equality; -1 if none (collision-only bucket).
    */
  private def firstSharedBand(a: Array[Long], b: Array[Long],
                              bands: Int, rows: Int): Int = {
    var band = 0
    while (band < bands) {
      var i = band * rows
      val end = i + rows
      while (i < end && a(i) == b(i)) i += 1
      if (i == end) return band
      band += 1
    }
    -1
  }

  /** Linear merge intersection count over two sorted distinct
    * arrays — the Scala twin of [[graft.plans.SortedIntersectCount]].
    */
  private def intersectCount(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    n
  }

  /** round(x, 4) with Spark's Round semantics (HALF_UP on the
    * decimal form) so the streamed jaccard is bit-identical to the
    * batch column.
    */
  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Stateless prep: per-doc signature + sorted shingle-hash set,
    * exploded to one row per band — the batch operator's own per-doc
    * projection ([[graft.functions.Dedup.minhashDocs]], blank/null
    * docs excluded) and band keys
    * ([[graft.functions.Dedup.bandBuckets]]), so signatures, buckets
    * and rerank sets equal the batch ones by construction. `docs`
    * carries the event time as `__et`.
    */
  private def banded(docs: DataFrame, id: Column, text: Column,
                     shingleN: Int, numHashes: Int,
                     bands: Int): Dataset[Banded] = {
    import graft.functions.Dedup
    implicit val enc = Encoders.product[Banded]
    Dedup.minhashDocs(Dedup.nonBlank(docs, text), id.cast("long"), text,
        shingleN, numHashes, "__et")
      .select(col("doc_id"), col("sig"), col("sh"), col("__et"),
        posexplode(Dedup.bandBuckets(col("sig"), bands)))
      .toDF("docId", "sig", "sh", "et", "band", "bucket")
      .as[Banded]
  }

  /** Per-trigger drop metrics of one operator instance — named
    * accumulators (`graft.<site>.dropped_candidates` /
    * `graft.<site>.exhausted_bucket_triggers`), so the Spark UI shows
    * them per micro-batch and tests/monitors read the totals.
    */
  final case class EmissionMetrics(
      droppedCandidates: org.apache.spark.util.LongAccumulator,
      exhaustedBucketTriggers: org.apache.spark.util.LongAccumulator,
      // phase-ledger nanos, populated only when the operator is built
      // with ledger=true (Profile --streamphases): time inside the
      // O(numHashes) first-shared-band signature walks vs time inside
      // the exact-Jaccard reranks — the two in-operator phases the
      // progress-derived ledger (addBatch / state commit / checkpoint)
      // cannot separate
      sigWalkNanos: org.apache.spark.util.LongAccumulator,
      rerankNanos: org.apache.spark.util.LongAccumulator)

  private val metricsReg =
    new java.util.concurrent.ConcurrentHashMap[String, EmissionMetrics]()

  /** The drop metrics of the most recent operator built with `site`
    * (each [[pairs]]/[[pairsWithinWatermark]] call re-registers). */
  def emissionMetrics(site: String = "stream_neardup"): Option[EmissionMetrics] =
    Option(metricsReg.get(site))

  private def checkParams(numHashes: Int, bands: Int, maxBucket: Int,
                          maxPairsPerTrigger: Int): Unit =
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0 &&
      maxBucket >= 1 && maxPairsPerTrigger >= 1,
      s"bands ($bands) must divide numHashes ($numHashes), " +
        s"maxBucket ($maxBucket) and maxPairsPerTrigger " +
        s"($maxPairsPerTrigger) must be >= 1")

  private def pairsImpl(in: Dataset[Banded], numHashes: Int, bands: Int,
                        threshold: Double, maxBucket: Int,
                        ttlMs: Option[Long], maxPairsPerTrigger: Int,
                        site: String, ledger: Boolean): Dataset[Pair] = {
    val rows = numHashes / bands
    val sc = in.sparkSession.sparkContext
    val metrics = EmissionMetrics(
      sc.longAccumulator(s"graft.$site.dropped_candidates"),
      sc.longAccumulator(s"graft.$site.exhausted_bucket_triggers"),
      sc.longAccumulator(s"graft.$site.sig_walk_nanos"),
      sc.longAccumulator(s"graft.$site.rerank_nanos"))
    metricsReg.put(site, metrics)
    implicit val outEnc = Encoders.product[Pair]
    implicit val keyEnc = Encoders.product[(Int, Long)]
    implicit val stateEnc = Encoders.product[BucketState]
    val timeout = if (ttlMs.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    in.groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState[BucketState, Pair](
        OutputMode.Append(), timeout) {
        (key: (Int, Long), batch: Iterator[Banded],
         state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var cur = state.getOption.map(_.docs.reverse).getOrElse(Nil)
            val seen = scala.collection.mutable.Set(cur.map(_.docId): _*)
            val out = List.newBuilder[Pair]
            var maxEt = Long.MinValue
            var budget = maxPairsPerTrigger
            var droppedHere = 0L
            // ledger=false keeps the hot loop free of nanoTime calls
            // (two per candidate would cost ~1 s per 20M candidates)
            var sigNs = 0L
            var rerankNs = 0L
            // docId order makes within-batch pairing arrival-order
            // independent; re-delivered ids (same doc replayed) are
            // already-seen and skipped like the batch DISTINCT
            batch.toSeq.sortBy(_.docId).foreach { d =>
              if (d.et.getTime > maxEt) maxEt = d.et.getTime
              if (!seen.contains(d.docId) && seen.size < maxBucket) {
                cur.foreach { e =>
                  // the budget prices the EXPENSIVE step — the exact
                  // Jaccard rerank over the shingle sets — so it is
                  // charged only for candidates this group OWNS
                  // (first shared band == this band). Candidates
                  // owned by another band cost only the O(numHashes)
                  // signature walk and are never charged nor counted:
                  // they were never this group's to emit, so they
                  // cannot crowd out emittable pairs. Past the
                  // budget, owned candidates are skipped unexamined
                  // and counted; state below still grows.
                  val tw = if (ledger) System.nanoTime() else 0L
                  val owned =
                    firstSharedBand(d.sig, e.sig, bands, rows) == key._1
                  if (ledger) sigNs += System.nanoTime() - tw
                  if (owned) {
                    if (budget > 0) {
                      budget -= 1
                      val tr = if (ledger) System.nanoTime() else 0L
                      val inter = intersectCount(d.sh, e.sh)
                      val j = round4(inter.toDouble /
                        (d.sh.length + e.sh.length - inter))
                      if (ledger) rerankNs += System.nanoTime() - tr
                      if (j >= threshold)
                        out += Pair(math.min(d.docId, e.docId),
                          math.max(d.docId, e.docId), j)
                    } else droppedHere += 1
                  }
                }
                cur = BucketDoc(d.docId, d.sig, d.sh) :: cur
                seen += d.docId
              }
            }
            if (droppedHere > 0) {
              metrics.droppedCandidates.add(droppedHere)
              metrics.exhaustedBucketTriggers.add(1L)
            }
            if (ledger) {
              if (sigNs > 0) metrics.sigWalkNanos.add(sigNs)
              if (rerankNs > 0) metrics.rerankNanos.add(rerankNs)
            }
            state.update(BucketState(cur.reverse))
            ttlMs.foreach(t => state.setTimeoutTimestamp(math.max(
              maxEt + t, state.getCurrentWatermarkMs() + 1)))
            out.result().iterator
          }
      }
  }

  /** Unbounded-state form (NoTimeout) — for bounded corpora and
    * replays, like [[StreamDedup.exact]]; prefer
    * [[pairsWithinWatermark]] on open-ended streams.
    */
  def pairs(docs: DataFrame, id: Column, text: Column,
            shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
            threshold: Double = 0.7, maxBucket: Int = 4096,
            maxPairsPerTrigger: Int = 1 << 16,
            site: String = "stream_neardup",
            ledger: Boolean = false): Dataset[Pair] = {
    checkParams(numHashes, bands, maxBucket, maxPairsPerTrigger)
    pairsImpl(
      banded(docs.withColumn("__et", timestamp_millis(lit(0L))), id, text,
        shingleN, numHashes, bands),
      numHashes, bands, threshold, maxBucket, ttlMs = None,
      maxPairsPerTrigger, site, ledger)
  }

  /** Watermark-bounded form: near-dup pairs among documents within
    * `ttlMs` of event time of each other (per bucket). `tsCol` is an
    * epoch-millis long column; the watermark delay is the late-data
    * allowance (rows older than the watermark are dropped by FMGWS,
    * like [[StreamAsOf.enrichMerged]]). A bucket idle for `ttlMs`
    * of event time is evicted whole, so state is O(active window).
    */
  def pairsWithinWatermark(docs: DataFrame, id: Column, text: Column,
                           tsCol: Column, ttlMs: Long,
                           allowedLatenessMs: Long = 0L,
                           shingleN: Int = 3, numHashes: Int = 32,
                           bands: Int = 8, threshold: Double = 0.7,
                           maxBucket: Int = 4096,
                           maxPairsPerTrigger: Int = 1 << 16,
                           site: String = "stream_neardup",
                           ledger: Boolean = false): Dataset[Pair] = {
    checkParams(numHashes, bands, maxBucket, maxPairsPerTrigger)
    require(ttlMs > 0, s"ttlMs must be positive, got $ttlMs")
    val withEt = docs.withColumn("__et", timestamp_millis(tsCol))
      .withWatermark("__et", s"$allowedLatenessMs milliseconds")
    pairsImpl(
      banded(withEt, id, text, shingleN, numHashes, bands),
      numHashes, bands, threshold, maxBucket, ttlMs = Some(ttlMs),
      maxPairsPerTrigger, site, ledger)
  }
}
