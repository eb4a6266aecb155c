package graft
package queries

import org.apache.spark.sql.{DataFrame, Row}

/** Restart equivalence for the stateful operators that had no
  * stop/restart test: each graded stream query, stopped after k of its
  * replay's slices and resumed from the same checkpoint
  * ([[Streamed.resumed]]), returns its uninterrupted run row for row,
  * doubles compared by raw bits.
  */
class StreamRestartSpec extends SparkSpec {

  private def declared(name: String): Streamed =
    SparkEntry.registry.find(_.name == name).flatMap(_.stream).get(spark, sf)

  // a row's values with doubles as raw bits, rows in a canonical order
  private def canon(df: DataFrame): Seq[String] = {
    def bits(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case r: Row => r.toSeq.map(bits)
      case xs: scala.collection.Seq[_] => xs.map(bits)
      case o => o
    }
    df.collect().toSeq.map(r => bits(r).toString).sorted
  }

  for (name <- Seq("q_stream_asof", "q_stream_cms", "q_stream_heavy",
      "q_stream_windows", "q_stream_sessions", "q_stream_neardup",
      "q_stream_sketch")) {
    test(s"$name: stop after k slices and resume equals the run") {
      val expected = canon(SparkEntry.queries(name)(spark, sf))
      assert(expected.nonEmpty, s"$name is empty at $sf")
      for (k <- Seq(1, 4, 7))
        assert(canon(declared(name).resumed(k)) == expected,
          s"$name diverged after a stop at slice $k")
    }
  }
}
