package graft

import org.apache.spark.sql.SparkSession

/** Plan inspector: `runMain graft.Explain [sfDir] [query ...]` prints
  * the formatted physical plan per query — the review loop for
  * pushdown (PushedFilters/ReadSchema), join strategy (broadcast vs
  * SMJ), exchange reuse, and whole-stage codegen coverage. A stream
  * query prints its unstarted stateful plan; no stream is started.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = Graft.querySession("graft-explain")
    names.foreach { name =>
      Graft.isolate(spark)
      println(s"\n========== $name ==========")
      println(plan(spark, sfDir, name))
    }
    spark.stop()
  }

  /** The plan text of query `name` over `sfDir`. */
  def plan(spark: SparkSession, sfDir: String, name: String): String =
    SparkEntry.registry.find(_.name == name).get.plan(spark, sfDir)
}
