package graft

/** Plan inspector: `runMain graft.Explain [sfDir] [query ...]` prints
  * the formatted physical plan per query — the review loop for
  * pushdown (PushedFilters/ReadSchema), join strategy (broadcast vs
  * SMJ), exchange reuse, and whole-stage codegen coverage.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = Graft.querySession("graft-explain")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
