package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.EntryMath.{r => r4}

/** Table profiling (the ANALYZE/data-quality primitive): per-column
  * row/null/distinct counts and min/max, in ONE scan of the table.
  *
  * All per-column metrics are computed in a single wide aggregate — the
  * plan is one scan + one Expand-based aggregation (Spark rewrites the
  * multiple COUNT DISTINCTs into grouping sets), then a `stack` unpivot
  * of the single result row into long format. No per-column scans, no
  * driver-side loop over columns.
  *
  * min/max are computed on the TYPED column and cast to string afterwards
  * (so "min of a long" is numeric order, not lexicographic), which keeps
  * one output schema for any column mix.
  *
  * At 100 TB exact COUNT DISTINCT is the expensive metric (it's what the
  * Expand shuffles); [[approxProfile]] swaps it for HyperLogLog++
  * `approx_count_distinct` — same shape, one ordinary aggregate, the
  * variant a cluster job would run (engine-specific sketch ⇒ no DuckDB
  * oracle, spec-tested instead).
  */
object Profile {

  private def aggs(cols: Seq[String], exact: Boolean) =
    count(lit(1)).as("__total") +: cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__cnt_$c"),
        (if (exact) countDistinct(col(c))
         else approx_count_distinct(col(c))).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }

  /** The same metrics split into TWO single-row aggregates that are then
    * cross-joined (optimization r18, guide §7.2): one wide aggregate
    * mixing exact COUNT DISTINCT (which plans as an Expand with the
    * distinct values as grouping keys) with string-typed min/max (whose
    * var-length buffers force SortAggregate) made Spark SORT the whole
    * expanded frame — rows × (cols+1) wide rows through a full sort
    * before any reduction. Split, the distinct side is pure
    * HashAggregate (count buffers only; the Expand dedups map-side with
    * no sort anywhere) and the min/max side is a grouping-free single
    * pass (SortAggregate with no keys needs no sort). Two scans instead
    * of one, but the scan is the cheap part of the profile — the sort of
    * the expanded frame was the expensive one. */
  private def ndAggs(cols: Seq[String]) =
    cols.map(c => countDistinct(col(c)).as(s"__nd_$c"))

  private def mmAggs(cols: Seq[String]) =
    count(lit(1)).as("__total") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"__cnt_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }

  private def unpivot(one: DataFrame, cols: Seq[String]): DataFrame = {
    val stackArgs = cols
      .map(c => s"'$c', __total - __cnt_$c, __nd_$c, __mn_$c, __mx_$c")
      .mkString(", ")
    one.selectExpr("__total AS n_rows",
      s"stack(${cols.size}, $stackArgs) AS (col_name, n_null, n_distinct, min_s, max_s)")
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("min_s"), col("max_s"))
  }

  /** Exact profile (oracle-checkable). */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val nd = ndAggs(cols)
    val mm = mmAggs(cols)
    val one = df.agg(mm.head, mm.tail: _*)
      .crossJoin(broadcast(df.agg(nd.head, nd.tail: _*)))
    unpivot(one, cols)
  }

  /** HLL++ profile — the 100 TB variant (approximate n_distinct). */
  def approxProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val a = aggs(cols, exact = false)
    unpivot(df.agg(a.head, a.tail: _*), cols)
  }

  /** Referential-integrity audit: for each declared (child, fk) →
    * (parent, pk) relationship, count child rows whose key has no parent —
    * the data-quality gate a warehouse load runs before publishing. Each
    * check is one left-anti join (keyed shuffle; the parent side is
    * key-projected and deduplicated first, so at 100 TB the probe build is
    * the parent's KEY cardinality, not its row count) plus one total
    * count; results union into one small report. Null FKs are counted
    * separately — a null is "relationship absent", not "dangling". */
  def integrity(checks: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame =
    checks.map { case (name, child, fk, parent, pk) =>
      val keys = parent.select(col(pk).as("__pk")).distinct()
      val c = child.select(col(fk).as("__fk"))
      val nonNull = c.filter(col("__fk").isNotNull)
      nonNull.join(keys, col("__fk") === col("__pk"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .crossJoin(broadcast(c.agg(count(lit(1)).as("n_rows"),
          count(when(col("__fk").isNull, 1)).as("n_null_fk"))))
        .select(lit(name).as("relationship"), col("n_rows"), col("n_null_fk"),
          col("n_orphans"), (col("n_orphans") === 0).as("ok"))
    }.reduce(_.unionByName(_))

  /** Winsorized robust aggregate: per group, clip `value` into its own
    * [lo, hi] percentile band, then report the clipped mean next to the
    * raw mean — the outlier-resistant summary (a single fat-fingered print
    * moves a raw mean arbitrarily; the winsorized mean is bounded by the
    * percentile band). Two keyed aggregates over the same grouping (exact
    * percentiles, then the clipped fold) plus one keyed join of the
    * per-group bounds back onto the rows; the bounds table is
    * |groups|-sized, so the join broadcasts at any corpus scale. Means
    * are summed as integer cents so the result is partition-order
    * independent and engine-stable. */
  def winsorized(df: DataFrame, group: String, value: String,
      lo: Double, hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, "need 0 <= lo < hi <= 1")
    val bounds = df.groupBy(col(group))
      .agg(percentile(col(value), lit(lo)).as("p_lo"),
        percentile(col(value), lit(hi)).as("p_hi"))
    val cents = (c: org.apache.spark.sql.Column) =>
      floor(c * 100 + lit(0.5)).cast("long")
    df.join(bounds, group)
      .withColumn("__clip", least(greatest(col(value), col("p_lo")), col("p_hi")))
      .groupBy(col(group))
      .agg(count(lit(1)).as("n"),
        (sum(cents(col(value))) / 100.0 / count(lit(1))).as("mean_raw"),
        (sum(cents(col("__clip"))) / 100.0 / count(lit(1))).as("mean_wins"),
        r4(min(col("p_lo"))).as("p_lo"),
        r4(min(col("p_hi"))).as("p_hi"))
      .select(col(group), col("n"),
        r4(col("mean_raw")).as("mean_raw"),
        r4(col("mean_wins")).as("mean_wins"),
        col("p_lo"), col("p_hi"))
  }
}
