package graft.plans

import graft.{Graft, SparkSpec}
import graft.functions.Similarity
import org.apache.spark.sql.functions._

class CosineSimSpec extends SparkSpec {

  test("native CosineSim is bit-equal to the composable form on real embeddings") {
    val e = Graft.table(spark, sf, "embeddings").limit(200)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv")).collect().head.getSeq[Float](0)
    val qlit = lit(q.toArray)
    val both = e.select(
      Similarity.cosine(col("embedding"), qlit).as("native"),
      Similarity.cosineComposable(col("embedding"), qlit).as("composable"))
    val rows = both.collect()
    assert(rows.length == 200)
    rows.foreach { r =>
      assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0,
        s"${r.getDouble(0)} != ${r.getDouble(1)}")
    }
  }

  test("parity holds for zero-norm vs mismatched-length edge") {
    import spark.implicits._
    // regression: the composable witness's zero-norm guard fired
    // before its (null) mismatched-length numerator, returning 0.0
    // where the native expression returns null
    val df = Seq(
      (Seq(0.0f, 0.0f), Seq(1.0f)),       // zero norm AND mismatch -> null
      (Seq(0.0f, 0.0f), Seq(1.0f, 2.0f)), // zero norm, same len -> 0.0
      (Seq(1.0f, 2.0f), Seq(3.0f))        // mismatch -> null
    ).toDF("a", "b")
    val rows = df.select(
      Similarity.cosine(col("a"), col("b")).as("n"),
      Similarity.cosineComposable(col("a"), col("b")).as("c")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), r.toString)
      if (!r.isNullAt(0))
        assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0)
    }
    assert(rows(0).isNullAt(0) && !rows(1).isNullAt(0) && rows(2).isNullAt(0))
  }

  test("native CosineSim participates in codegen (no fallback errors) and nulls propagate") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(1.0f, 2.0f))),
      (None, Some(Seq(1.0f, 0.0f)))).toDF("a", "b")
    val got = df.select(Similarity.cosine($"a", $"b")).collect()
    assert(math.abs(got(0).getDouble(0) - 1.0) < 1e-12)
    assert(got(1).isNullAt(0))
  }

  test("CosineSim nulls on length mismatch and double arrays score correctly") {
    import spark.implicits._
    val mismatched = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f)))
      .toDF("a", "b")
    assert(mismatched.select(Similarity.cosine($"a", $"b")).collect()
      .head.isNullAt(0))
    val doubles = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0))).toDF("a", "b")
    assert(math.abs(doubles.select(Similarity.cosine($"a", $"b"))
      .collect().head.getDouble(0) - 1.0) < 1e-12)
  }
}

class FileStreamSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.streaming.EventWindows

  test("file-source streaming: events parquet replayed as a stream matches batch") {
    withTempDirs("graft-fs") { case Seq(dir) =>
      val batch = graft.Graft.table(spark, sf, "events")
        .withColumn("ts2", (col("ts") / 1000000000L).cast("timestamp"))
        .select("ts2", "event_type", "value")
      batch.write.parquet(s"$dir/in")

      val stream = spark.readStream
        .schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/in")
      // watermark must exceed the fixture's full time span (~30 days,
      // unordered): a shorter one would drop late rows if the replay
      // ever splits into multiple micro-batches
      val agg = EventWindows.tumbling(stream, "ts2",
        col("event_type"), "60 days", "1 day", col("value"))
      val q = agg.writeStream.outputMode("update")
        .format("memory").queryName("fs_win").start()
      try {
        q.processAllAvailable()
        val streamed = spark.table("fs_win")
          .groupBy("event_type").agg(sum("n").as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val expected = batch.groupBy("event_type").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        // update-mode memory sink may hold several updates per window;
        // take the final counts via max per (window, type) instead
        val finalCounts = spark.table("fs_win")
          .groupBy("w_start", "event_type").agg(max("n").as("n"))
          .groupBy("event_type").agg(sum("n").as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(finalCounts == expected, s"$streamed vs $expected")
      } finally q.stop()
    }
  }
}

class StreamDedupSpec extends SparkSpec {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import graft.streaming.StreamDedup

  case class Doc(ts: java.sql.Timestamp, fp: String, text: String)

  test("streaming dedup drops repeats within the watermark window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[Doc]
    val out = StreamDedup.withinWatermark(input.toDF(), "ts", "10 minutes",
      Seq("fp"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sdedup").start()
    try {
      input.addData(
        Doc(ts("2024-01-01 00:00:00"), "A", "first"),
        Doc(ts("2024-01-01 00:01:00"), "A", "dup within watermark"),
        Doc(ts("2024-01-01 00:02:00"), "B", "other"))
      q.processAllAvailable()
      input.addData(Doc(ts("2024-01-01 00:03:00"), "A", "still dup"))
      q.processAllAvailable()
      val got = spark.table("sdedup").select($"fp", $"text").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == Set(("A", "first"), ("B", "other")))
    } finally q.stop()
  }
}

class EventWindowsSpec extends SparkSpec {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import graft.streaming.EventWindows

  case class Ev(ts: java.sql.Timestamp, kind: String, v: Double)

  test("streaming tumbling windows with watermark aggregate by event time") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val out = EventWindows.tumbling(input.toDF(), "ts",
      col("kind"), "10 seconds", "1 minute", col("v"))
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("win_test").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        Ev(ts("2024-01-01 00:00:10"), "a", 1.0),
        Ev(ts("2024-01-01 00:00:50"), "a", 2.0),
        Ev(ts("2024-01-01 00:01:10"), "b", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_test")
        .select(col("w_start").cast("string"), col("kind"), col("n"), col("total"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows.contains(("2024-01-01 00:00:00", "a", 2L, 3.0)))
      assert(rows.contains(("2024-01-01 00:01:00", "b", 1L, 5.0)))
    } finally q.stop()
  }
}
