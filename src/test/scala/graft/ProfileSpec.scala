package graft

/** `graft.Profile`'s kept modes: the statestore point holds one state
  * row per key on both providers, and the argument check turns away
  * anything but exactly one kept mode.
  */
class ProfileSpec extends SparkSpec {

  test("statestore point holds one state row per key on heap and " +
      "rocksdb") {
    val keys = 20000L
    for (p <- Seq("heap", "rocksdb")) {
      val record = Profile.stateStore(spark, keys, p)
      val rows = """"state_rows":(\d+)""".r.findFirstMatchIn(record)
        .getOrElse(fail(s"no state_rows in $record")).group(1).toLong
      assert(record.contains(s""""provider":"$p","keys":$keys,"""), record)
      assert(rows == keys, s"$p: $record")
    }
  }

  test("argument check accepts one kept mode and rejects removed, " +
      "unknown or missing ones") {
    assert(Profile.mode(Seq("--statestore", "--rocksdb"))
      .contains("--statestore"))
    assert(Profile.mode(Seq("--streamphases", "q_stream_cms", "sf0.01"))
      .contains("--streamphases"))
    assert(Profile.mode(Seq("--lsh")).isEmpty)
    assert(Profile.mode(Seq.empty).isEmpty)
    assert(Profile.mode(Seq("--statestore", "--lsh")).isEmpty)
    assert(Profile.mode(Seq("--statestore", "--streamphases")).isEmpty)
    assert(Profile.Usage.contains("--statestore") &&
      Profile.Usage.contains("--streamphases"))
  }
}
