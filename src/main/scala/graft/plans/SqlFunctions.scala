package graft.plans

import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

/** SQL-text surface for the native expressions: after
  * `SqlFunctions.registerAll(spark)`, `spark.sql` queries can call
  * `cosine_sim(a, b)`, `hyperplane_sig(v, bits)`,
  * `word_shingles(text, n, distinct)`, `sorted_intersect_count(a, b)`,
  * `int8_dot(a, b)` and `unicode_normalize(text[, form])` directly —
  * the same extension
  * point `SparkSessionExtensions.injectFunction` serves at
  * session-build time, exposed for live sessions (the reference's
  * user-code hooks are job-conf class names, SURVEY §2.10; here the
  * hook is Catalyst's function registry).
  *
  * SQL null semantics are the raw expressions' (null input → null
  * result); the Column factories ([[graft.functions.Similarity]],
  * [[graft.functions.Dedup]]) additionally coalesce to match their
  * composable witnesses — use those from Scala.
  */
object SqlFunctions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def boolArg(e: Expression, what: String): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got $other")
  }

  // `build` covers the accepted argument lists; any other is an
  // arity error naming the function and `arity`
  private def register(spark: SparkSession, name: String, arity: String)(
      build: PartialFunction[Seq[Expression], Expression]): Unit =
    GraftColumnBridge.registerFunction(spark, name, args =>
      build.applyOrElse(args, (a: Seq[Expression]) =>
        throw new IllegalArgumentException(
          s"$name expects $arity arguments, got ${a.length}")))

  def registerAll(spark: SparkSession): Unit = {
    register(spark, "cosine_sim", "2") { case Seq(a, b) => CosineSim(a, b) }
    register(spark, "hyperplane_sig", "2") {
      case Seq(v, bits) => HyperplaneSig(v, intArg(bits, "bits"))
    }
    register(spark, "word_shingles", "2-3") {
      case Seq(t, n) => WordShingles(t, intArg(n, "n"), distinct = false)
      case Seq(t, n, d) =>
        WordShingles(t, intArg(n, "n"), boolArg(d, "distinct"))
    }
    register(spark, "sorted_intersect_count", "2") {
      case Seq(a, b) => SortedIntersectCount(a, b)
    }
    register(spark, "int8_dot", "2") { case Seq(a, b) => Int8Dot(a, b) }
    register(spark, "unicode_normalize", "1-2") {
      case Seq(t) => UnicodeNormalize(t, "NFC")
      case Seq(t, f) => UnicodeNormalize(t, f match {
        case Literal(v, _) if v != null => v.toString
        case other => throw new IllegalArgumentException(
          s"form must be a string literal, got $other")
      })
    }
  }
}
