package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{BloomSet, FloatDotProduct, FreqSketch, JaroWinklerSimilarity, SeededAggs, TokenGramStrings, WindowHashes}

/** Engine packaging: registers the custom functions with the session's
  * FunctionRegistry so plain `spark.sql` users get them as first-class
  * (window-)functions:
  *
  *   SELECT seeded_ema(close, 10) OVER (PARTITION BY symbol ORDER BY time
  *          ROWS UNBOUNDED PRECEDING) FROM bars
  *   SELECT wilder_rma(tr, 14) OVER (...), wilder_adx(pdm, ndm, tr, 14) OVER (...)
  *   SELECT float_dot(a.embedding, b.embedding) FROM ...
  *
  * Install via `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  * (the conf `graft.SqlShell` passes to [[graft.GraftSession.local]]), or
  * call `GraftExtensions.register(spark)` on an existing session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (id, info, builder) =>
      ext.injectFunction((id, info, builder))
    }
}

object GraftExtensions {

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal INT length, got $other")
  }

  private def dblArg(e: Expression, fn: String): Double = e match {
    case Literal(v: Double, _) => v
    // SQL fractional literals parse as Literal(Decimal, DecimalType)
    // — the form every SQL user types first (e.g. 0.2, not 0.2D)
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$fn expects literal DOUBLE smoothing factors, got $other")
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("seeded_ema"),
      new ExpressionInfo(classOf[SeededAggs.EmaAgg].getName, "seeded_ema"),
      (args: Seq[Expression]) => {
        val n = intArg(args(1), "seeded_ema")
        SeededAggs.EmaAgg(args.head, n, 2.0 / (n + 1)).toAggregateExpression()
      }),
    (new FunctionIdentifier("wilder_rma"),
      new ExpressionInfo(classOf[SeededAggs.EmaAgg].getName, "wilder_rma"),
      (args: Seq[Expression]) => {
        val n = intArg(args(1), "wilder_rma")
        SeededAggs.EmaAgg(args.head, n, 1.0 / n).toAggregateExpression()
      }),
    (new FunctionIdentifier("wilder_adx"),
      new ExpressionInfo(classOf[SeededAggs.AdxAgg].getName, "wilder_adx"),
      (args: Seq[Expression]) => {
        val n = intArg(args(3), "wilder_adx")
        SeededAggs.AdxAgg(args(0), args(1), args(2), n).toAggregateExpression()
      }),
    // SELECT holt_smooth(close, 0.2, 0.1, 2) OVER (PARTITION BY symbol
    //   ORDER BY time ROWS UNBOUNDED PRECEDING) -- part: 0=level 1=trend
    //   2=one-step forecast
    (new FunctionIdentifier("holt_smooth"),
      new ExpressionInfo(classOf[SeededAggs.HoltAgg].getName, "holt_smooth"),
      (args: Seq[Expression]) => {
        SeededAggs.HoltAgg(args.head, dblArg(args(1), "holt_smooth"),
          dblArg(args(2), "holt_smooth"),
          intArg(args(3), "holt_smooth")).toAggregateExpression()
      }),
    // SELECT holt_winters(close, 24, 0.2, 0.1, 0.25, 3) OVER (PARTITION
    //   BY symbol ORDER BY time ROWS UNBOUNDED PRECEDING) -- part:
    //   0=level 1=trend 2=season 3=one-step forecast
    (new FunctionIdentifier("holt_winters"),
      new ExpressionInfo(classOf[SeededAggs.HoltWintersAgg].getName, "holt_winters"),
      (args: Seq[Expression]) => {
        SeededAggs.HoltWintersAgg(args.head, intArg(args(1), "holt_winters"),
          dblArg(args(2), "holt_winters"), dblArg(args(3), "holt_winters"),
          dblArg(args(4), "holt_winters"),
          intArg(args(5), "holt_winters")).toAggregateExpression()
      }),
    // SELECT kalman_1d(close, 0.01, 1.0, 1.0, 0) OVER (PARTITION BY
    //   symbol ORDER BY time ROWS UNBOUNDED PRECEDING) -- part:
    //   0=level 1=gain 2=covariance
    (new FunctionIdentifier("kalman_1d"),
      new ExpressionInfo(classOf[SeededAggs.KalmanAgg].getName, "kalman_1d"),
      (args: Seq[Expression]) => {
        SeededAggs.KalmanAgg(args.head, dblArg(args(1), "kalman_1d"),
          dblArg(args(2), "kalman_1d"), dblArg(args(3), "kalman_1d"),
          intArg(args(4), "kalman_1d")).toAggregateExpression()
      }),
    (new FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatDotProduct].getName, "float_dot"),
      (args: Seq[Expression]) => FloatDotProduct(args(0), args(1))),
    (new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerSimilarity].getName, "jaro_winkler"),
      (args: Seq[Expression]) => JaroWinklerSimilarity(args(0), args(1))),
    // SELECT window_hashes(text, 12) — every stride-1 hash60 window of a
    // string in one linear pass (the substring-dedup fast path), SQL
    // surface congruent with the Column API (Dedup.substringWindows)
    (new FunctionIdentifier("window_hashes"),
      new ExpressionInfo(classOf[WindowHashes].getName, "window_hashes"),
      (args: Seq[Expression]) =>
        WindowHashes(args.head, intArg(args(1), "window_hashes"))),
    // SELECT token_grams(text, 3) — every word n-gram of a single-space-
    // joined string as zero-copy byte slices (the r19 shingle fast path),
    // SQL surface congruent with the Column API (TokenGrams.tokenGrams)
    (new FunctionIdentifier("token_grams"),
      new ExpressionInfo(classOf[TokenGramStrings].getName, "token_grams"),
      (args: Seq[Expression]) =>
        TokenGramStrings(args.head, intArg(args(1), "token_grams"))),
    // mergeable sketch family: SELECT mg_merge(sk, 16) FROM (SELECT
    //   mg_sketch(token, 16) AS sk FROM toks GROUP BY source)
    (new FunctionIdentifier("mg_sketch"),
      new ExpressionInfo(classOf[FreqSketch.MgSketchAgg].getName, "mg_sketch"),
      (args: Seq[Expression]) => FreqSketch.MgSketchAgg(args.head,
        intArg(args(1), "mg_sketch")).toAggregateExpression()),
    (new FunctionIdentifier("mg_merge"),
      new ExpressionInfo(classOf[FreqSketch.MgMergeAgg].getName, "mg_merge"),
      (args: Seq[Expression]) => FreqSketch.MgMergeAgg(args.head,
        intArg(args(1), "mg_merge")).toAggregateExpression()),
    (new FunctionIdentifier("bloom_set_agg"),
      new ExpressionInfo(classOf[BloomSet.BloomAgg].getName, "bloom_set_agg"),
      (args: Seq[Expression]) => BloomSet.BloomAgg(args.head,
        intArg(args(1), "bloom_set_agg"),
        intArg(args(2), "bloom_set_agg")).toAggregateExpression()))

  /** Register into an already-built session (extensions only apply at
    * session construction; this covers shells/notebooks). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
