package graft.plans

import graft.{Replay, SparkSpec}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Every native expression answers the same, bit for bit, interpreted
  * (`nullSafeEval`, the path a higher-order function's lambda takes)
  * and through whole-stage codegen (`doGenCode`).
  *
  * Each row of the table is read back from parquet: over a
  * `LocalRelation`, Spark's `ConvertToLocalRelation` folds the
  * projection at optimization time with the interpreted projection, so
  * the generated code would never run. The codegen leg asserts that
  * its plan holds the expression under `WholeStageCodegen`, the
  * interpreted leg that its plan holds none.
  */
class CodegenParitySpec extends SparkSpec {
  import spark.implicits._

  private case class Case(expr: Class[_], rows: () => DataFrame, cols: Seq[Column])

  private val t = col("t")

  private def texts(ss: Seq[String]): () => DataFrame = () => (ss :+ null).toDF("t")

  private def frame(ddl: String, rows: Row*): () => DataFrame = () =>
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType.fromDDL(ddl))

  private def bytes(xs: Int*): Seq[Any] = xs.map(_.toByte)

  private val prose = Seq("The cat sat on the mat, and the cat slept.",
    "Le chat et la souris; la souris!", "", "   ", "one", "a b a b a b",
    "café naïve 汉字 -- ...?!", "tabs\tand\nnewlines")

  private val sets = frame("a array<string>",
    Row(Seq("a", "b", "c")), Row(Seq()), Row(Seq("solo")),
    Row(Seq("x", null, "y")), Row(null), Row(Seq("café", "汉字")))

  private val table: Seq[Case] = Seq(
    Case(classOf[BpeishTokens], texts(BpeishTokensSpec.cases), Seq(BpeishTokens(t))),
    Case(classOf[HashedBpeishTokens], texts(HashedBpeishTokensSpec.cases),
      Seq(HashedBpeishTokens(t))),
    Case(classOf[WhitespaceTokens], texts(WhitespaceTokensSpec.cases),
      Seq(WhitespaceTokens(t))),
    Case(classOf[UnicodeNormalize],
      texts(Seq("ascii", "café", "café", "", "mix ü x")),
      Seq(UnicodeNormalize(t, "NFC"))),
    Case(classOf[PunctCount], texts(prose), Seq(PunctCount(t))),
    Case(classOf[TokenStats], texts(prose), Seq(TokenStats(t))),
    Case(classOf[TopGram], texts(prose), Seq(TopGram(t, 1), TopGram(t, 2))),
    Case(classOf[StopwordCounts], texts(prose),
      Seq(StopwordCounts(t, Seq(Seq("the", "and", "on"), Seq("le", "la", "et"))))),
    Case(classOf[WordShingles], texts(prose),
      Seq(WordShingles(t, 2, distinct = false), WordShingles(t, 2, distinct = true))),
    Case(classOf[MinhashSig], sets, Seq(MinhashSig(col("a"), 8))),
    Case(classOf[SimhashSig], sets, Seq(SimhashSig(col("a")))),
    Case(classOf[SortedXxhash64Array], sets, Seq(SortedXxhash64Array(col("a")))),
    Case(classOf[CosineSim],
      frame("fa array<float>, fb array<float>, da array<double>, db array<double>",
        Row(Seq(1f, 2f, 3f), Seq(4f, -5f, 6f), Seq(1.0, 2.0, 3.0), Seq(0.5, -1.0, 2.0)),
        Row(Seq(0f, 0f), Seq(1f, 2f), Seq(0.0, 0.0), Seq(1.0, 2.0)), // zero vector
        Row(Seq(1f, 2f), Seq(1f), Seq(1.0), Seq(1.0, 2.0)), // mismatched lengths
        Row(Seq(1f, null), Seq(1f, 2f), Seq(1.0, null), Seq(3.0, 4.0)), // null element
        Row(Seq(Float.NaN, 1f), Seq(1f, 2f), Seq(Double.NaN, 1.0), Seq(1.0, 2.0)),
        // a NaN before a null element, and beside a length mismatch
        Row(Seq(Float.NaN, null), Seq(1f, 2f), Seq(Double.NaN), Seq(1.0, 2.0)),
        // Inf / Inf: NaN with no NaN element
        Row(Seq(Float.MaxValue), Seq(Float.MaxValue), Seq(1e200), Seq(1e200)),
        Row(Seq(), Seq(), Seq(), Seq()),
        Row(null, Seq(1f), null, Seq(1.0))), // null input
      Seq(CosineSim(col("fa"), col("fb")), CosineSim(col("da"), col("db")),
        CosineSim(col("fa"), col("db")), CosineSim(col("da"), col("fb")))),
    Case(classOf[HyperplaneSig],
      frame("f array<float>, d array<double>",
        Row(Seq(1f, -2f, 0.5f, 3f), Seq(1.0, -2.0, 0.5, 3.0)),
        Row(Seq(1f, null), Seq(1.0, null)), // null element
        Row(Seq(Float.NaN, 1f), Seq(Double.NaN, 1.0)),
        Row(Seq(), Seq()),
        Row(null, null)), // null input
      Seq(HyperplaneSig(col("f"), 16), HyperplaneSig(col("d"), 64))),
    Case(classOf[Int8Dot],
      frame("a array<tinyint>, b array<tinyint>",
        Row(bytes(3, -2), bytes(10, 5)),
        Row(bytes(-128, 127, -128), bytes(-128, -128, 127)),
        Row(bytes(1, 2), bytes(1)), // mismatched lengths
        Row(Seq(1.toByte, null), bytes(1, 2)), // null element
        Row(Seq(), Seq()),
        Row(null, bytes(1))), // null input
      Seq(Int8Dot(col("a"), col("b")))),
    Case(classOf[PqAdc],
      frame("codes array<tinyint>, tbl array<double>",
        Row(bytes(0, 1), Seq(0.5, 1.5, 2.5, 3.5)),
        Row(bytes(0, 5), Seq(0.5, 1.5, 2.5, 3.5)), // code past the table
        Row(bytes(0, 255), Seq(0.5, 1.5, 2.5, 3.5)), // unsigned code past it
        Row(Seq(0.toByte, null), Seq(0.5, 1.5, 2.5, 3.5)), // null code
        Row(bytes(0, 1), Seq(0.5, 1.5, 2.5, null)), // null entry looked up
        Row(bytes(0, 0), Seq(0.5, 1.5, 2.5, null)), // null entry not looked up
        Row(bytes(0, 1), Seq(Double.NaN, 1.5, 2.5, 3.5)), // NaN entry
        Row(bytes(0, 9), Seq(Double.NaN, 1.5, 2.5, 3.5)), // NaN, then past
        Row(null, Seq(0.5))), // null input
      Seq(PqAdc(col("codes"), col("tbl"), 2))),
    Case(classOf[PqEncode],
      frame("v array<double>, cb array<double>",
        Row(Seq(0.1, 0.2, 3.0, 3.1), Seq(0.0, 0.0, 1.0, 1.0, 3.0, 3.0, 0.0, 0.0)),
        Row(Seq(0.5, 0.5, 1.5, 1.5), Seq(0.0, 0.0, 1.0, 1.0, 1.0, 1.0, 2.0, 2.0)), // ties
        Row(Seq(Double.NaN, 0.2, 3.0, 3.1), Seq(0.0, 0.0, 1.0, 1.0, 3.0, 3.0, 0.0, 0.0)),
        Row(Seq(0.1, null, 3.0, 3.1), Seq(0.0, 0.0, 1.0, 1.0, 3.0, 3.0, 0.0, 0.0)),
        Row(null, Seq(0.0))), // null input
      Seq(PqEncode(col("v"), col("cb"), 2, 2))),
    Case(classOf[SortedIntersectCount],
      frame("sa array<string>, sb array<string>, la array<bigint>, lb array<bigint>",
        Row(Seq("a", "b", "c"), Seq("b", "c", "d"), Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),
        Row(Seq("a"), Seq("b"), Seq(-5L), Seq(5L)),
        Row(Seq(), Seq("a"), Seq(), Seq(1L)),
        Row(Seq("a", null), Seq("a", "b"), Seq(1L, null), Seq(1L, 2L)), // null visited
        Row(null, Seq("a"), null, Seq(1L))), // null input
      Seq(SortedIntersectCount(col("sa"), col("sb")),
        SortedIntersectCount(col("la"), col("lb")))))

  // raw bits, so NaN payloads and -0.0 count
  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case f: Float => java.lang.Float.floatToRawIntBits(f)
    case r: Row => r.toSeq.map(bits)
    case s: scala.collection.Seq[_] => s.map(bits)
    case o => o
  }

  private def holds(plan: SparkPlan, expr: Class[_]): Boolean =
    plan.expressions.exists(_.exists(expr.isInstance))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // one leg: the projection planned and run with codegen on or off;
  // returns the plan's whole-stage-codegen subtrees and the rows
  private def leg(dir: String, cols: Seq[Column], codegen: Boolean)
      : (Seq[SparkPlan], Seq[Any]) =
    withConf("spark.sql.codegen.wholeStage" -> codegen.toString,
        "spark.sql.codegen.factoryMode" ->
          (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")) {
      val df = spark.read.parquet(dir).select(cols: _*)
      val rows = df.collect().toSeq.map(bits)
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      (plan.collect { case w: WholeStageCodegenExec => w.child }, rows)
    }

  table.foreach { c =>
    test(s"${c.expr.getSimpleName}: interpreted eval and codegen agree bit for bit") {
      val dir = java.nio.file.Files.createTempDirectory("codegen-parity").toFile
      try {
        val path = new java.io.File(dir, "rows").toString
        c.rows().coalesce(1).write.parquet(path)
        val (generated, viaCodegen) = leg(path, c.cols, codegen = true)
        val (interpretedStages, interpreted) = leg(path, c.cols, codegen = false)
        assert(generated.exists(_.exists(holds(_, c.expr))),
          s"no whole-stage codegen stage holds ${c.expr.getSimpleName}")
        assert(interpretedStages.isEmpty)
        assert(interpreted.nonEmpty && interpreted == viaCodegen)
      } finally Replay.rmTree(dir)
    }
  }
}
