package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.Native

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions so `spark.sql("SELECT rolling_hash(text)")`
  * works alongside the Column API.
  *
  * Usage: `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`; for an existing session,
  * `GraftExtensions.register(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.rollingHash)
    e.injectFunction(GraftExtensions.floatCosine)
    e.injectFunction(GraftExtensions.shingleRows)
    // `spark.sql("MERGE INTO …")`, UPDATE and DELETE lowered to graft
    // commands, plus catalog VIEW DDL (GraftSqlParser.lower); `VERSION AS
    // OF` / `TIMESTAMP AS OF` stay Spark's own, answered by the catalog
    e.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    // catalog VIEW resolution for the NON-SQL read paths (`spark.table`):
    // SQL text expands views at the parser seam, but a programmatic read
    // never parses — this analyzer rule applies the same expansion (the
    // shared depth guard still catches definition cycles)
    e.injectResolutionRule(_ => graft.plans.ViewResolutionRule)
  }
}

object GraftExtensions {
  private type FnDesc =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private val rollingHash: FnDesc = (
    FunctionIdentifier("rolling_hash"),
    new ExpressionInfo(classOf[Native.RollingHash].getName, "rolling_hash"),
    (children: Seq[Expression]) => Native.RollingHash(children.head))

  private val floatCosine: FnDesc = (
    FunctionIdentifier("float_cosine"),
    new ExpressionInfo(classOf[Native.FloatCosine].getName, "float_cosine"),
    (children: Seq[Expression]) => Native.FloatCosine(children(0), children(1)))

  /** The shingle GENERATOR as a SQL table function:
    * `LATERAL VIEW shingle_rows(text, 3) t AS s` (or directly in SELECT).
    * The width must be a foldable integer — it shapes the generated rows,
    * not a per-row value. */
  private def mkShingle(children: Seq[Expression]): Expression = {
    require(children.size == 2 && children(1).foldable,
      "shingle_rows(text, n): n must be an integer literal")
    val n = children(1).eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"shingle_rows(text, n): n must be an integer literal, got $other")
    }
    Native.ShingleGenerate(children.head, n)
  }

  private val shingleRows: FnDesc = (
    FunctionIdentifier("shingle_rows"),
    new ExpressionInfo(classOf[Native.ShingleGenerate].getName, "shingle_rows"),
    mkShingle _)

  /** Register on an already-built session (temp functions). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rolling_hash", exprs => Native.RollingHash(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "float_cosine", exprs => Native.FloatCosine(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "shingle_rows", mkShingle, "built-in")
  }
}
