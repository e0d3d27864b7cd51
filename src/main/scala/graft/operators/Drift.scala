package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.EntryMath.r

/** Dataset drift metrics between two corpus snapshots (reference vs
  * current): per-bin population stability index (PSI) terms and
  * Jensen-Shannon divergence terms over a fixed-width histogram of a
  * numeric column.
  *
  * The monitoring question a training-data pipeline asks between crawls:
  * "did the length / quality / score distribution move?" PSI > 0.25 is the
  * classic re-examine threshold; JS is the bounded symmetric cousin.
  *
  * Scale shape: one aggregation per side (map-side partial combine, ~nBins
  * output rows each), a full outer join on the tiny bin table, and
  * broadcast totals — no global sort, no window over the full data, cost
  * is two scans regardless of corpus size. Fixed-width binning with a
  * known cap (not quantile binning) is deliberate: it needs no global
  * pass over either snapshot.
  *
  * Conventions (mirrored exactly in the DuckDB oracle):
  *   - empty bins are ε-clamped (1e-6) inside PSI's log ratio;
  *   - JS uses the 0·ln(0) = 0 convention, no clamp;
  *   - per-bin terms are rounded to 4 dp BEFORE the total sums, making the
  *     totals order-independent double sums (each addend is a small
  *     multiple of 1e-4, so partition summation order cannot move the
  *     result across a rounding boundary).
  */
object Drift {

  private val Eps = 1e-6

  /** Per-bin drift table between `ref` and `cur` on `valueCol`.
    * Output: bin, cnt_ref, cnt_cur, p_ref, p_cur, psi_term, js_term,
    * psi, js (totals repeated per row; all doubles 4-dp rounded). */
  def drift(ref: DataFrame, cur: DataFrame, valueCol: String,
      binWidth: Double, maxBin: Int): DataFrame = {
    def hist(df: DataFrame, cnt: String): DataFrame = df
      .select(least(floor(col(valueCol) / binWidth), lit(maxBin))
        .cast("int").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as(cnt))

    val joined = hist(ref, "cnt_ref")
      .join(hist(cur, "cnt_cur"), Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("cnt_ref"), lit(0L)).as("cnt_ref"),
        coalesce(col("cnt_cur"), lit(0L)).as("cnt_cur"))

    val totals = joined.agg(
      sum(col("cnt_ref")).as("tot_ref"), sum(col("cnt_cur")).as("tot_cur"))

    val p = col("cnt_ref").cast("double") / col("tot_ref").cast("double")
    val q = col("cnt_cur").cast("double") / col("tot_cur").cast("double")
    val pAdj = when(col("p_ref") === 0.0, lit(Eps)).otherwise(col("p_ref"))
    val qAdj = when(col("p_cur") === 0.0, lit(Eps)).otherwise(col("p_cur"))
    val m = (col("p_ref") + col("p_cur")) / lit(2.0)
    val jsP = when(col("p_ref") > 0.0, col("p_ref") * log(col("p_ref") / m))
      .otherwise(lit(0.0))
    val jsQ = when(col("p_cur") > 0.0, col("p_cur") * log(col("p_cur") / m))
      .otherwise(lit(0.0))

    val terms = joined.crossJoin(broadcast(totals))
      .withColumn("p_ref", p)
      .withColumn("p_cur", q)
      .withColumn("psi_term", r((col("p_cur") - col("p_ref")) * log(qAdj / pAdj)))
      .withColumn("js_term", r(lit(0.5) * jsP + lit(0.5) * jsQ))

    val grand = terms.agg(
      sum(col("psi_term")).as("psi"), sum(col("js_term")).as("js"))

    terms.crossJoin(broadcast(grand))
      .select(col("bin"), col("cnt_ref"), col("cnt_cur"),
        r(col("p_ref")).as("p_ref"), r(col("p_cur")).as("p_cur"),
        col("psi_term"), col("js_term"),
        r(col("psi")).as("psi"), r(col("js")).as("js"))
  }
}
