package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.EntryMath._
import graft.OracleSql.withTicksBars
import graft.operators.{Layout, RangeJoin, Resample, Signals, Skew}
import graft.sources.Tables

/** Relational / time-series / event-analytics query entries (split from
  * ExtendedEntries): TPC-H-style aggregates and joins, as-of joins,
  * incremental bars, profiling, grouping sets, range joins, z-order,
  * sampling-free exact percentiles, the signals family, and the event
  * analytics family — each with its DuckDB oracle. */
private[graft] object RelationalEntries {

  /** TPC-H-Q1-style pricing summary; money in integer cents. */
  private def qAggPricing(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val dp = cents(col("l_discount"))  // discount in integer percent-of-100
    val tp = cents(col("l_tax"))
    // revenue/charge per-row products reach ~1e9/~1e11 cents³: sum as
    // DECIMAL(38,0) so large scale factors can't wrap int64 (Spark's
    // non-ANSI sum(long) wraps silently; DuckDB widens to HUGEINT)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(cents(col("l_quantity"))).as("sq"),
        sum(cents(col("l_extendedprice"))).as("se"),
        sum(dp).as("sd"),
        sum((cents(col("l_extendedprice")) * (lit(100L) - dp))
          .cast("decimal(38,0)")).as("srev"),
        sum((cents(col("l_extendedprice")) * (lit(100L) - dp) * (lit(100L) + tp))
          .cast("decimal(38,0)")).as("sch"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("l_linestatus"),
        (col("sq") / lit(100.0)).as("sum_qty"),
        (col("se") / lit(100.0)).as("sum_base_price"),
        (col("srev").cast("double") / lit(10000.0)).as("sum_disc_price"),
        (col("sch").cast("double") / lit(1000000.0)).as("sum_charge"),
        (col("sq") / lit(100.0) / col("n")).as("avg_qty"),
        (col("se") / lit(100.0) / col("n")).as("avg_price"),
        (col("sd") / lit(100.0) / col("n")).as("avg_disc"),
        col("n").as("count_order"))
  }

  /** Star join: orders ⋈ customer ⋈ nation (dims broadcast), revenue per
    * nation. */
  private def qJoinRevenue(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(cents(col("o_totalprice"))).as("revc"),
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .select(col("n_name"), (col("revc") / lit(100.0)).as("revenue"),
        col("n_orders"), col("n_customers"))
  }

  /** As-of join: each tick enriched with the prevailing hourly bar
    * (most recent bar at-or-before the tick). */
  private def qAsofJoin(s: SparkSession, dir: String): DataFrame =
    operators.AsOfJoin.asof(Tables.ticks(s, dir), Tables.bars(s, dir),
      "symbol", "time", Seq("close", "volume"))
      .select(col("symbol"), col("time"), col("price"),
        col("asof_time"), col("asof_close"), col("asof_volume"))

  /** Forward as-of with tolerance: each tick attaches the NEXT hourly bar
    * (right.time >= tick.time) if it arrives within 2 h of event time. */
  private def qAsofFwd(s: SparkSession, dir: String): DataFrame =
    operators.AsOfJoin.asof(Tables.ticks(s, dir), Tables.bars(s, dir),
      "symbol", "time", Seq("close", "volume"),
      direction = "forward", toleranceUs = 7200000000L)
      .select(col("symbol"), col("time"), col("price"),
        col("asof_time"), col("asof_close"), col("asof_volume"))

  /** Nearest as-of (ties → backward, pandas semantics). */
  private def qAsofNearest(s: SparkSession, dir: String): DataFrame =
    operators.AsOfJoin.asof(Tables.ticks(s, dir), Tables.bars(s, dir),
      "symbol", "time", Seq("close", "volume"), direction = "nearest")
      .select(col("symbol"), col("time"), col("price"),
        col("asof_time"), col("asof_close"), col("asof_volume"))

  /** Incremental bar maintenance: base (¾ of ticks) and delta (¼) are
    * aggregated to mergeable partials independently, then merged — the
    * oracle recomputes from all ticks at once, proving the merge algebra. */
  private def qBarsIncremental(s: SparkSession, dir: String): DataFrame = {
    val ticks = Tables.events(s, dir).select(
      col("user_id").cast("string").as("symbol"),
      col("ts").as("time"),
      col("value").as("price"),
      (col("event_id") % 97 + 1).cast("long").as("volume"),
      col("event_id"))
    val base = ticks.filter(col("event_id") % 4 =!= 0).drop("event_id")
    val delta = ticks.filter(col("event_id") % 4 === 0).drop("event_id")
    operators.Incremental.finalizeBars(operators.Incremental.mergeBars(
      operators.Incremental.partialBars(base),
      operators.Incremental.partialBars(delta)))
  }

  /** Columns profiled by q_profile (query and oracle share the list). */
  private val ProfileCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  /** Single-scan table profile over orders (ANALYZE analog). */
  private def qProfile(s: SparkSession, dir: String): DataFrame =
    operators.Profile.profile(Tables.orders(s, dir), ProfileCols)

  /** ROLLUP aggregation (grouping-sets family). */
  private def qRollupRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(sum(cents(col("o_totalprice"))).as("revc"), count(lit(1)).as("n_orders"))
      .select(col("o_orderpriority"), col("o_orderstatus"),
        (col("revc") / lit(100.0)).as("revenue"), col("n_orders"))

  /** CUBE — all four grouping combinations in one pass (rollup's sibling;
    * Spark plans both as a single Expand + hash aggregate, so the cost is
    * one scan regardless of the grouping-set count). */
  private def qCubeRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(sum(cents(col("o_totalprice"))).as("revc"), count(lit(1)).as("n_orders"))
      .select(col("o_orderpriority"), col("o_orderstatus"),
        (col("revc") / lit(100.0)).as("revenue"), col("n_orders"))

  /** Top-k per key (ORDER BY + LIMIT per group). */
  private def qTopkPerKey(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("user_id"), col("rk"), col("event_id"), col("ts"), col("value"))
  }

  /** Two-phase salted aggregation over the most frequent event type —
    * same result as the plain aggregate (asserted in SkewSpec); exists as
    * the skew-mitigation pattern for power-law keys. */
  private def qSaltedAgg(s: SparkSession, dir: String): DataFrame =
    Skew.saltedAgg(
      Tables.events(s, dir).select(col("event_type"),
        cents(col("value")).as("vc")),
      "event_type", "vc", 16)
      .select(col("event_type"), (col("total") / lit(100.0)).as("total_value"), col("n"))

  /** Set operators: purchasers who never raised an error (EXCEPT) and
    * users who did both (INTERSECT). */
  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def users(t: String) = ev.filter(col("event_type") === t).select(col("user_id"))
    val onlyBuy = users("purchase").except(users("error"))
      .select(col("user_id"), lit("purchase_no_error").as("cohort"))
    val both = users("purchase").intersect(users("error"))
      .select(col("user_id"), lit("purchase_and_error").as("cohort"))
    onlyBuy.unionByName(both)
  }

  /** Pivot: events per user × event_type as columns. */
  private def qPivot(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot(col("event_type"), Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)

  /** Exact interpolated percentiles (vs the approximate sketches in
    * q_sketches). */
  private def qPercentiles(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        r(expr("percentile(value, 0.5)")).as("p50"),
        r(expr("percentile(value, 0.9)")).as("p90"),
        r(expr("percentile(value, 0.99)")).as("p99"),
        count(lit(1)).as("n"))

  /** Interval-overlap analytics on the binned range join: deterministic
    * 45-minute windows (anchored at every event_id ≡ 0 mod 1000) joined
    * to the events they cover, aggregated per window. The bare range
    * predicate would plan as BroadcastNestedLoopJoin — [[RangeJoin.binned]]
    * turns it into one keyed shuffle on 30-minute buckets. */
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_id"), col("ts"), col("value"))
    val iv = ev.filter(pmod(col("event_id"), lit(1000)) === 0)
      .select(col("event_id").as("interval_id"), col("ts").as("start_ts"),
        (col("ts") + expr("INTERVAL 45 MINUTES")).as("end_ts"))
    RangeJoin.binned(ev, col("ts"), iv, col("start_ts"), col("end_ts"),
        bucketWidthUs = 30L * 60 * 1000000)
      .groupBy(col("interval_id"), col("start_ts"), col("end_ts"))
      .agg(count(lit(1)).as("n_events"),
        (sum(cents(col("value"))).cast("double") / lit(100.0)).as("sum_value"))
  }

  /** Z-order key assignment over (time-bucket, user-bucket) — the layout
    * key a 100 TB event table is range-partitioned and sorted by at write
    * time so min/max row-group stats prune reads filtered on EITHER
    * dimension ([[Layout]]). Pure int64 bit math, no shuffle. */
  private def qZorder(s: SparkSession, dir: String): DataFrame = {
    val hourIdx = floor(unix_micros(col("ts")) / lit(3600000000.0)).cast("long")
      .bitwiseAND(lit(65535L))
    val ub = pmod(col("user_id"), lit(65536)).cast("long")
    Tables.events(s, dir)
      .select(col("event_id"), hourIdx.as("hour_idx"), ub.as("user_bucket"))
      .withColumn("zkey",
        Layout.zorder2(col("hour_idx"), col("user_bucket"), 16))
  }

  private def qResampleFfill(s: SparkSession, dir: String): DataFrame =
    Resample.ffill(
      Tables.bars(s, dir).select(col("symbol"), col("time"), col("close"), col("volume")),
      "symbol", "time", "1 hour", Seq("close", "volume"))

  /** Long-form OHLC (melt) — the inverse of q_pivot's widening, via the
    * native `unpivot` (one scan, no join, no shuffle). */
  private def qUnpivot(s: SparkSession, dir: String): DataFrame =
    Tables.bars(s, dir).unpivot(
      Array(col("symbol"), col("time")),
      Array(col("open"), col("high"), col("low"), col("close")),
      "field", "value")

  /** Daily mean value per event type — the dense aligned series feeding
    * the rolling-correlation query. The mean is 4dp-rounded BEFORE the
    * correlation so both engines correlate identical inputs. */
  private def dailyTypeSeries(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type").as("key"),
        date_trunc("day", col("ts")).as("time"))
      .agg(r(avg(col("value"))).as("value"))

  /** Event-type pairs for the rolling-correlation query (query + oracle). */
  private val CorrPairs = Seq(("click", "view"), ("purchase", "view"),
    ("error", "signup"))

  /** Funnel step sequence (query and oracle read the same value). */
  private val FunnelSteps = Seq("view", "click", "purchase")

  /** Ordered-funnel oracle: layered windows mirror EventAnalytics.funnel
    * (strictly-before = ROWS UNBOUNDED..1 PRECEDING on (ts, event_id)). */
  private def oFunnel(steps: Seq[String]): String = {
    val layers = steps.zipWithIndex.tail.map { case (step, k) =>
      s"""l$k AS (
         |  SELECT *, CASE WHEN event_type = '$step'
         |      AND coalesce(max(hit${k - 1}) OVER w, 0) = 1 THEN 1 ELSE 0 END AS hit$k
         |  FROM l${k - 1}
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |)""".stripMargin
    }
    val maxes = steps.indices.map(k => s"max(hit$k) AS s$k").mkString(", ")
    val rows = steps.zipWithIndex.map { case (step, k) =>
      s"SELECT ${k + 1} AS step, '$step' AS event_type, CAST(sum(s$k) AS BIGINT) AS n_users FROM u"
    }.mkString("\nUNION ALL ")
    s"""WITH e AS (
       |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
       |  FROM events
       |), l0 AS (
       |  SELECT *, CASE WHEN event_type = '${steps.head}' THEN 1 ELSE 0 END AS hit0
       |  FROM e
       |),
       |${layers.mkString(",\n")},
       |u AS (SELECT user_id, $maxes FROM l${steps.size - 1} GROUP BY user_id)
       |$rows""".stripMargin
  }

  val entries: Seq[Query] = Seq(
    // same 30-min session cut as q_sessionize; path = first 3 event types
    // in (ts, event_id) order, top 20 by (count desc, path)
    Query("q_paths", (s, dir) =>
      operators.EventAnalytics.topPaths(Tables.events(s, dir), 30, 3, 20), Some(
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      - lag(epoch_us(CAST(ts AS TIMESTAMP)))
        |        OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap
        |  FROM events
        |), s AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM e
        |), p AS (
        |  SELECT user_id, sid,
        |    array_to_string((list(event_type ORDER BY ts, event_id))[1:3], ' > ')
        |      AS path
        |  FROM s GROUP BY user_id, sid
        |)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin)),
    // same session CTE as q_sessionize, then the sweep: +1 at clipped
    // start / -1 after clipped end per overlapped day, running sum with
    // starts-first tie order, per-day max (tie order within a delta class
    // cannot move the max - see EventAnalytics.peakConcurrency)
    Query("q_peak_concurrency", (s, dir) =>
      operators.EventAnalytics.peakConcurrency(Tables.events(s, dir), 30), Some(
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      - lag(epoch_us(CAST(ts AS TIMESTAMP)))
        |        OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap
        |  FROM events
        |), s AS (
        |  SELECT user_id, event_id, ts,
        |    sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM e
        |), sess AS (
        |  SELECT user_id, sid, min(ts) AS st, max(ts) AS en
        |  FROM s GROUP BY user_id, sid
        |), byday AS (
        |  SELECT unnest(generate_series(CAST(st AS DATE), CAST(en AS DATE),
        |      INTERVAL 1 DAY))::DATE AS day, st, en
        |  FROM sess
        |), clipped AS (
        |  SELECT day,
        |    greatest(st, CAST(day AS TIMESTAMP)) AS cs,
        |    least(en, CAST(day + INTERVAL 1 DAY AS TIMESTAMP)) AS ce
        |  FROM byday
        |), points AS (
        |  SELECT day, cs AS t, 1 AS delta FROM clipped
        |  UNION ALL SELECT day, ce AS t, -1 AS delta FROM clipped
        |), sweep AS (
        |  SELECT day, sum(delta) OVER (PARTITION BY day ORDER BY t, delta DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM points
        |)
        |SELECT day, CAST(max(c) AS BIGINT) AS peak_concurrent,
        |  CAST(count(*) / 2 AS BIGINT) AS n_sessions
        |FROM sweep GROUP BY day""".stripMargin)),
    // exact per-group percentile clip, integer-cents means
    Query("q_winsorize", (s, dir) =>
      operators.Profile.winsorized(Tables.events(s, dir), "event_type", "value",
        0.05, 0.95), Some(
      """WITH b AS (
        |  SELECT event_type, quantile_cont(value, 0.05) AS plo,
        |    quantile_cont(value, 0.95) AS phi
        |  FROM events GROUP BY event_type
        |)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
        |  floor(CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |    / 100.0 / count(*) * 10000 + 0.5) / 10000 AS mean_raw,
        |  floor(CAST(sum(CAST(floor(least(greatest(e.value, b.plo), b.phi) * 100
        |      + 0.5) AS BIGINT)) AS DOUBLE)
        |    / 100.0 / count(*) * 10000 + 0.5) / 10000 AS mean_wins,
        |  floor(min(b.plo) * 10000 + 0.5) / 10000 AS p_lo,
        |  floor(min(b.phi) * 10000 + 0.5) / 10000 AS p_hi
        |FROM events e JOIN b USING (event_type)
        |GROUP BY e.event_type""".stripMargin)),
    Query("q_transitions", (s, dir) =>
      operators.EventAnalytics.transitions(Tables.events(s, dir)), Some(
      """WITH nx AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
        |  FROM events
        |), c AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT from_type, to_type, n,
        |  floor(n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE)
        |    * 10000 + 0.5) / 10000 AS p
        |FROM c""".stripMargin)),
    Query("q_resample_ffill", qResampleFfill, Some(withTicksBars(
      """, span AS (
        |  SELECT symbol, min(time) AS t0, max(time) AS t1 FROM bars GROUP BY symbol
        |), grid AS (
        |  SELECT symbol, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS time
        |  FROM span
        |), j AS (
        |  SELECT g.symbol, g.time, b.close, b.volume
        |  FROM grid g LEFT JOIN bars b ON b.symbol = g.symbol AND b.time = g.time
        |)
        |SELECT symbol, time,
        |  last_value(close IGNORE NULLS) OVER w AS close,
        |  CAST(last_value(volume IGNORE NULLS) OVER w AS BIGINT) AS volume,
        |  CASE WHEN close IS NULL THEN 1 ELSE 0 END AS filled
        |FROM j
        |WINDOW w AS (PARTITION BY symbol ORDER BY time
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin))),
    // mirrors Resample.gaps: islands key = grid slot ordinal − row_number
    Query("q_gaps", (s, dir) => Resample.gaps(
      Tables.bars(s, dir), "symbol", "time", "1 hour"), Some(withTicksBars(
      """, span AS (
        |  SELECT symbol, min(time) AS t0, max(time) AS t1 FROM bars GROUP BY symbol
        |), grid AS (
        |  SELECT symbol, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS time
        |  FROM span
        |), gslot AS (
        |  SELECT symbol, time,
        |    row_number() OVER (PARTITION BY symbol ORDER BY time) AS slot
        |  FROM grid
        |), missing AS (
        |  SELECT g.symbol, g.time, g.slot
        |  FROM gslot g LEFT JOIN bars b ON b.symbol = g.symbol AND b.time = g.time
        |  WHERE b.symbol IS NULL
        |), isl AS (
        |  SELECT symbol, time,
        |    slot - row_number() OVER (PARTITION BY symbol ORDER BY time) AS island
        |  FROM missing
        |)
        |SELECT symbol, min(time) AS gap_start, max(time) AS gap_end,
        |  count(*) AS gap_slots
        |FROM isl GROUP BY symbol, island""".stripMargin))),
    Query("q_unpivot", qUnpivot, Some(withTicksBars(
      """SELECT symbol, time, field, value FROM (
        |  SELECT symbol, time, 'open' AS field, open AS value FROM bars
        |  UNION ALL SELECT symbol, time, 'high', high FROM bars
        |  UNION ALL SELECT symbol, time, 'low', low FROM bars
        |  UNION ALL SELECT symbol, time, 'close', close FROM bars
        |) u""".stripMargin))),
    Query("q_integrity", (s, dir) => operators.Profile.integrity(Seq(
      ("lineitem.l_orderkey -> orders.o_orderkey",
        Tables.lineitem(s, dir), "l_orderkey", Tables.orders(s, dir), "o_orderkey"),
      ("orders.o_custkey -> customer.c_custkey",
        Tables.orders(s, dir), "o_custkey", Tables.customer(s, dir), "c_custkey"),
      ("customer.c_nationkey -> nation.n_nationkey",
        Tables.customer(s, dir), "c_nationkey", Tables.nation(s, dir), "n_nationkey"),
      ("supplier.s_nationkey -> nation.n_nationkey",
        Tables.supplier(s, dir), "s_nationkey", Tables.nation(s, dir), "n_nationkey"))), Some {
      def chk(name: String, child: String, fk: String, parent: String,
          pk: String) =
        s"""SELECT '$name' AS relationship,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $child) AS n_rows,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $child WHERE $fk IS NULL)
           |    AS n_null_fk,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $child c
           |   WHERE c.$fk IS NOT NULL
           |     AND NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$fk))
           |    AS n_orphans,
           |  (SELECT count(*) FROM $child c
           |   WHERE c.$fk IS NOT NULL
           |     AND NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$fk)) = 0
           |    AS ok""".stripMargin
      Seq(
        chk("lineitem.l_orderkey -> orders.o_orderkey",
          "lineitem", "l_orderkey", "orders", "o_orderkey"),
        chk("orders.o_custkey -> customer.c_custkey",
          "orders", "o_custkey", "customer", "c_custkey"),
        chk("customer.c_nationkey -> nation.n_nationkey",
          "customer", "c_nationkey", "nation", "n_nationkey"),
        chk("supplier.s_nationkey -> nation.n_nationkey",
          "supplier", "s_nationkey", "nation", "n_nationkey"))
        .mkString("\nUNION ALL\n")
    }),
    // same market CTE as q_rolling_beta; both return series 1e-4-quantized
    // to integers, hour-shifted equi-join, exact-long Pearson sums
    Query("q_leadlag", (s, dir) =>
      Signals.leadLagMarket(Tables.bars(s, dir), 2, 10), Some(withTicksBars(
      """, mkt AS (
        |  SELECT time,
        |    CAST(sum(CAST(floor(close * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      / (count(*) * 100.0) AS mkt_close
        |  FROM bars GROUP BY time
        |), mr AS (
        |  SELECT CAST(floor(epoch(time) / 3600) AS BIGINT) AS mth,
        |    CAST(floor((CASE WHEN mkt_close > 0 AND (lag(mkt_close) OVER wm) > 0
        |      THEN ln(mkt_close / lag(mkt_close) OVER wm) END) * 10000 + 0.5)
        |      AS BIGINT) AS mrq
        |  FROM mkt WINDOW wm AS (ORDER BY time)
        |), mrn AS (SELECT * FROM mr WHERE mrq IS NOT NULL
        |), rt AS (
        |  SELECT symbol, CAST(floor(epoch(time) / 3600) AS BIGINT) AS th,
        |    CAST(floor((CASE WHEN close > 0 AND (lag(close) OVER w) > 0
        |      THEN ln(close / lag(close) OVER w) END) * 10000 + 0.5)
        |      AS BIGINT) AS r
        |  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY time)
        |), rn AS (SELECT * FROM rt WHERE r IS NOT NULL
        |), lagged AS (
        |  SELECT rn.symbol, lg.lag, rn.r, mrn.mrq
        |  FROM rn CROSS JOIN (SELECT unnest([-2, -1, 0, 1, 2]) AS lag) lg
        |       JOIN mrn ON mrn.mth = rn.th + lg.lag
        |), g AS (
        |  SELECT symbol, lag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(r) AS BIGINT) AS sy, CAST(sum(mrq) AS BIGINT) AS sx,
        |    CAST(sum(r * r) AS BIGINT) AS syy,
        |    CAST(sum(mrq * mrq) AS BIGINT) AS sxx,
        |    CAST(sum(r * mrq) AS BIGINT) AS sxy
        |  FROM lagged GROUP BY 1, 2 HAVING count(*) >= 10
        |)
        |SELECT symbol, lag, n,
        |  floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |    / nullif(sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |        * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 0)
        |    * 10000 + 0.5) / 10000 AS corr
        |FROM g""".stripMargin))),
    // exact-integer Pearson over 1e-4-quantized log returns, same guarded
    // log and quantization as the Spark side
    Query("q_corr_matrix", (s, dir) =>
      Signals.corrMatrix(Tables.bars(s, dir), 10), Some(withTicksBars(
      """, rr AS (
        |  SELECT symbol, time,
        |    CAST(floor(
        |      CASE WHEN close > 0 AND lag(close) OVER w > 0
        |           THEN ln(close / (lag(close) OVER w)) END * 10000 + 0.5)
        |      AS BIGINT) AS r
        |  FROM bars
        |  WINDOW w AS (PARTITION BY symbol ORDER BY time)
        |), rn AS (SELECT * FROM rr WHERE r IS NOT NULL
        |), g AS (
        |  SELECT a.symbol AS symbol_a, b.symbol AS symbol_b,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(a.r) AS BIGINT) AS sx, CAST(sum(b.r) AS BIGINT) AS sy,
        |    CAST(sum(a.r * a.r) AS BIGINT) AS sxx,
        |    CAST(sum(b.r * b.r) AS BIGINT) AS syy,
        |    CAST(sum(a.r * b.r) AS BIGINT) AS sxy
        |  FROM rn a JOIN rn b ON a.time = b.time AND a.symbol < b.symbol
        |  GROUP BY 1, 2 HAVING count(*) >= 10
        |)
        |SELECT symbol_a, symbol_b, n,
        |  floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |    / nullif(sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |        * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 0)
        |    * 10000 + 0.5) / 10000 AS corr
        |FROM g""".stripMargin))),
    // CUSUM via the prefix-sum identity: running sum minus its running
    // minimum, same two-layer cumulative windows as the Spark side
    Query("q_cusum", (s, dir) => Signals.cusum(Tables.bars(s, dir), 0.5, 5.0), Some(withTicksBars(
      """, dd AS (
        |  SELECT symbol, time, close,
        |    close - lag(close) OVER (PARTITION BY symbol ORDER BY time) AS d
        |  FROM bars
        |), zz AS (
        |  SELECT symbol, time, close,
        |    floor(((d - avg(d) OVER wa) / nullif(stddev_samp(d) OVER wa, 0))
        |      * 10000 + 0.5) / 10000 AS z
        |  FROM dd
        |  WINDOW wa AS (PARTITION BY symbol)
        |), ss AS (
        |  SELECT symbol, time, close, z,
        |    sum(z - 0.5) OVER wc AS sp,
        |    sum(-z - 0.5) OVER wc AS sn
        |  FROM zz
        |  WINDOW wc AS (PARTITION BY symbol ORDER BY time
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), mm AS (
        |  SELECT symbol, time, close, z,
        |    floor((sp - least(min(sp) OVER wc, 0)) * 10000 + 0.5) / 10000 AS cusum_pos,
        |    floor((sn - least(min(sn) OVER wc, 0)) * 10000 + 0.5) / 10000 AS cusum_neg
        |  FROM ss
        |  WINDOW wc AS (PARTITION BY symbol ORDER BY time
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT symbol, time, close, z, cusum_pos, cusum_neg,
        |  cusum_pos > 5.0 OR cusum_neg > 5.0 AS alarm
        |FROM mm WHERE z IS NOT NULL""".stripMargin))),
    Query("q_zscore_outliers", (s, dir) =>
      Signals.zscoreOutliers(Tables.bars(s, dir), 20, 2.0), Some(withTicksBars(
      """, w1 AS (
        |  SELECT symbol, time, close,
        |    count(close) OVER wn AS c,
        |    avg(close) OVER wn AS m,
        |    stddev_samp(close) OVER wn AS sd
        |  FROM bars
        |  WINDOW wn AS (PARTITION BY symbol ORDER BY time
        |                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |), zz AS (
        |  SELECT symbol, time, close,
        |    CASE WHEN c = 20
        |      THEN floor(((close - m) / nullif(sd, 0)) * 10000 + 0.5) / 10000 END AS z
        |  FROM w1
        |)
        |SELECT symbol, time, close, z, abs(z) > 2.0 AS is_outlier
        |FROM zz WHERE z IS NOT NULL""".stripMargin))),
    // mirrors Signals.robustOutliers: same sorted-list median/MAD, same
    // 1.4826 consistency factor, threshold on the ROUNDED z
    Query("q_robust_outliers", (s, dir) =>
      Signals.robustOutliers(Tables.bars(s, dir), 20, 3.0), Some(withTicksBars(
      """, w1 AS (
        |  SELECT symbol, time, close,
        |    count(close) OVER wn AS cnt,
        |    list_sort(list(close) OVER wn) AS l
        |  FROM bars
        |  WINDOW wn AS (PARTITION BY symbol ORDER BY time
        |                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |), w2 AS (
        |  SELECT *, (l[10] + l[11]) / 2 AS med FROM w1
        |), w3 AS (
        |  SELECT *, list_sort(list_transform(l, v -> abs(v - med))) AS madl FROM w2
        |), w4 AS (
        |  SELECT *, (madl[10] + madl[11]) / 2 AS mad FROM w3
        |), zz AS (
        |  SELECT symbol, time, close,
        |    CASE WHEN mad <> 0
        |      THEN floor(((close - med) / (1.4826 * mad)) * 10000 + 0.5) / 10000
        |    END AS robust_z
        |  FROM w4 WHERE cnt = 20
        |)
        |SELECT symbol, time, close, robust_z, abs(robust_z) > 3.0 AS is_outlier
        |FROM zz""".stripMargin))),
    // mirrors Signals.returnsVol (incl. the positive-price guard)
    Query("q_returns_vol", (s, dir) =>
      Signals.returnsVol(Tables.bars(s, dir), 20), Some(withTicksBars(
      """, w0 AS (
        |  SELECT symbol, time, close,
        |    CASE WHEN close > 0 AND (lag(close) OVER w) > 0
        |      THEN ln(close / lag(close) OVER w) END AS ret
        |  FROM bars
        |  WINDOW w AS (PARTITION BY symbol ORDER BY time)
        |), w1 AS (
        |  SELECT symbol, time, close, ret,
        |    count(ret) OVER wn AS cnt,
        |    stddev_samp(ret) OVER wn AS sd
        |  FROM w0
        |  WINDOW wn AS (PARTITION BY symbol ORDER BY time
        |                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |)
        |SELECT symbol, time, close,
        |  floor(ret * 10000 + 0.5) / 10000 AS log_ret,
        |  floor((CASE WHEN cnt = 20 THEN sd END) * 10000 + 0.5) / 10000 AS vol_20
        |FROM w1""".stripMargin))),
    // mirrors Signals.seasonality: returns quantized at 1e9 before the
    // group mean (group sums are cross-partition, unlike window frames)
    Query("q_seasonality", (s, dir) =>
      Signals.seasonality(Tables.bars(s, dir)), Some(withTicksBars(
      """, w0 AS (
        |  SELECT symbol, time, volume,
        |    CASE WHEN close > 0 AND (lag(close) OVER w) > 0
        |      THEN ln(close / lag(close) OVER w) END AS ret
        |  FROM bars
        |  WINDOW w AS (PARTITION BY symbol ORDER BY time)
        |)
        |SELECT symbol, CAST(hour(time) AS INTEGER) AS hod,
        |  floor((CAST(sum(CAST(floor(ret * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
        |         / (count(ret) * 1e9)) * 10000 + 0.5) / 10000 AS mean_ret,
        |  CAST(sum(volume) AS BIGINT) AS volume,
        |  count(ret) AS n_rets
        |FROM w0 GROUP BY 1, 2""".stripMargin))),
    // mirrors Signals.rollingBeta: cents-quantized equal-weight index,
    // complete-case guaranteed by the cnt gate (see Scaladoc)
    Query("q_rolling_beta", (s, dir) =>
      Signals.rollingBeta(Tables.bars(s, dir), 20), Some(withTicksBars(
      """, mkt AS (
        |  SELECT time,
        |    CAST(sum(CAST(floor(close * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      / (count(*) * 100.0) AS mkt_close
        |  FROM bars GROUP BY time
        |), mr AS (
        |  SELECT time,
        |    CASE WHEN mkt_close > 0 AND (lag(mkt_close) OVER wm) > 0
        |      THEN ln(mkt_close / lag(mkt_close) OVER wm) END AS mret
        |  FROM mkt
        |  WINDOW wm AS (ORDER BY time)
        |), rt AS (
        |  SELECT symbol, time,
        |    CASE WHEN close > 0 AND (lag(close) OVER w) > 0
        |      THEN ln(close / lag(close) OVER w) END AS ret
        |  FROM bars
        |  WINDOW w AS (PARTITION BY symbol ORDER BY time)
        |), j AS (
        |  SELECT rt.symbol, rt.time, rt.ret, mr.mret
        |  FROM rt JOIN mr ON rt.time = mr.time
        |), w1 AS (
        |  SELECT symbol, time,
        |    count(ret) OVER wn AS cnt,
        |    sum(mret) OVER wn AS sx, sum(ret) OVER wn AS sy,
        |    sum(mret * mret) OVER wn AS sxx, sum(mret * ret) OVER wn AS sxy
        |  FROM j
        |  WINDOW wn AS (PARTITION BY symbol ORDER BY time
        |                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |)
        |SELECT symbol, time,
        |  floor((CASE WHEN cnt = 20 AND (20 * sxx - sx * sx) <> 0
        |    THEN (20 * sxy - sx * sy) / (20 * sxx - sx * sx) END) * 10000 + 0.5) / 10000
        |    AS beta_20
        |FROM w1""".stripMargin))),
    // mirrors Signals.rollingOls: absolute row-number x (shift-invariant),
    // decomposable window sums only
    Query("q_rolling_ols", (s, dir) =>
      Signals.rollingOls(Tables.bars(s, dir), 20), Some(withTicksBars(
      """, w0 AS (
        |  SELECT symbol, time, close AS y,
        |    CAST(row_number() OVER (PARTITION BY symbol ORDER BY time) AS DOUBLE) AS x
        |  FROM bars
        |), w1 AS (
        |  SELECT symbol, time,
        |    count(y) OVER wn AS cnt,
        |    sum(x) OVER wn AS sx, sum(y) OVER wn AS sy,
        |    sum(x * x) OVER wn AS sxx, sum(x * y) OVER wn AS sxy,
        |    sum(y * y) OVER wn AS syy
        |  FROM w0
        |  WINDOW wn AS (PARTITION BY symbol ORDER BY time
        |                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |)
        |SELECT symbol, time,
        |  floor((CASE WHEN cnt = 20
        |    THEN (20 * sxy - sx * sy) / (20 * sxx - sx * sx) END) * 10000 + 0.5) / 10000
        |    AS slope_20,
        |  floor((CASE WHEN cnt = 20 AND (20 * syy - sy * sy) <> 0
        |    THEN (20 * sxy - sx * sy) * (20 * sxy - sx * sy)
        |         / ((20 * sxx - sx * sx) * (20 * syy - sy * sy)) END) * 10000 + 0.5) / 10000
        |    AS r2_20
        |FROM w1""".stripMargin))),
    Query("q_sma_crossovers", (s, dir) =>
      Signals.smaCrossovers(Tables.bars(s, dir), 10, 20), Some(withTicksBars(
      """, w1 AS (
        |  SELECT symbol, time,
        |    CASE WHEN count(close) OVER w10 = 10 THEN avg(close) OVER w10 END AS s10,
        |    CASE WHEN count(close) OVER w20 = 20 THEN avg(close) OVER w20 END AS s20
        |  FROM bars
        |  WINDOW w10 AS (PARTITION BY symbol ORDER BY time
        |                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
        |         w20 AS (PARTITION BY symbol ORDER BY time
        |                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |), w2 AS (
        |  SELECT symbol, time,
        |    floor(s10 * 10000 + 0.5) / 10000 AS sma_10,
        |    floor(s20 * 10000 + 0.5) / 10000 AS sma_20,
        |    floor((s10 - s20) * 10000 + 0.5) / 10000 AS spread
        |  FROM w1
        |), w3 AS (
        |  SELECT symbol, time, sma_10, sma_20, spread,
        |    lag(spread) OVER (PARTITION BY symbol ORDER BY time) AS ps
        |  FROM w2
        |)
        |SELECT symbol, time, sma_10, sma_20,
        |  CASE WHEN ps < 0 AND spread >= 0 THEN 'golden_cross'
        |       ELSE 'death_cross' END AS signal
        |FROM w3
        |WHERE spread IS NOT NULL AND ps IS NOT NULL
        |  AND ((ps < 0 AND spread >= 0) OR (ps >= 0 AND spread < 0))""".stripMargin))),
    Query("q_drawdown", (s, dir) => Signals.drawdown(Tables.bars(s, dir)), Some(withTicksBars(
      """, dbase AS (
        |  SELECT symbol, time, close,
        |    max(close) OVER wp AS peak,
        |    row_number() OVER (PARTITION BY symbol ORDER BY time) AS rn
        |  FROM bars
        |  WINDOW wp AS (PARTITION BY symbol ORDER BY time
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT symbol, time, close, peak,
        |  floor(((close - peak) / nullif(peak, 0)) * 10000 + 0.5) / 10000
        |    AS drawdown,
        |  CAST(rn - max(CASE WHEN close >= peak THEN rn END) OVER wc AS BIGINT)
        |    AS underwater_bars
        |FROM dbase
        |WINDOW wc AS (PARTITION BY symbol ORDER BY time
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin))),
    Query("q_rolling_corr", (s, dir) => Signals.rollingCorrelation(
      dailyTypeSeries(s, dir), CorrPairs, 20), Some(
      s"""WITH d AS (
         |  SELECT event_type AS key,
         |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS time,
         |    ${r4("avg(value)")} AS value
         |  FROM events GROUP BY 1, 2
         |), p AS (
         |  SELECT key_a, key_b, concat(key_a, '/', key_b) AS pair
         |  FROM (VALUES ${CorrPairs.map(p => s"('${p._1}', '${p._2}')").mkString(", ")})
         |    v(key_a, key_b)
         |), pa AS (
         |  SELECT p.pair, d.time, d.value AS va FROM d JOIN p ON d.key = p.key_a
         |), pb AS (
         |  SELECT p.pair, d.time, d.value AS vb FROM d JOIN p ON d.key = p.key_b
         |), j AS (
         |  SELECT pa.pair, pa.time, va, vb
         |  FROM pa JOIN pb ON pa.pair = pb.pair AND pa.time = pb.time
         |), w AS (
         |  SELECT pair, time,
         |    count(*) OVER wn AS c,
         |    corr(va, vb) OVER wn AS r
         |  FROM j
         |  WINDOW wn AS (PARTITION BY pair ORDER BY time
         |                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         |)
         |SELECT pair, time, floor(r * 10000 + 0.5) / 10000 AS corr
         |FROM w WHERE c = 20 AND r IS NOT NULL AND NOT isnan(r)""".stripMargin)),
    Query("q_funnel", (s, dir) => operators.EventAnalytics.funnel(
      Tables.events(s, dir), FunnelSteps), Some(oFunnel(FunnelSteps))),
    // mirrors EventAnalytics.attribution: same (ts, event_id) ordering,
    // same ROWS UNBOUNDED..1 PRECEDING frame, IGNORE NULLS first/last
    Query("q_attribution", (s, dir) => operators.EventAnalytics.attribution(
      Tables.events(s, dir), "purchase"), Some(
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events
        |), w1 AS (
        |  SELECT *,
        |    first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER w AS first_touch_type,
        |    first_value(CASE WHEN event_type <> 'purchase' THEN event_id END IGNORE NULLS)
        |      OVER w AS first_touch_id,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER w AS last_touch_type,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_id END IGNORE NULLS)
        |      OVER w AS last_touch_id,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN ts END IGNORE NULLS)
        |      OVER w AS last_touch_ts
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |)
        |SELECT user_id, event_id AS conversion_id, ts,
        |  first_touch_type, first_touch_id, last_touch_type, last_touch_id,
        |  epoch_ms(ts) - epoch_ms(last_touch_ts) AS gap_ms
        |FROM w1 WHERE event_type = 'purchase'""".stripMargin)),
    Query("q_scd2", (s, dir) => operators.EventAnalytics.scd2(
      Tables.events(s, dir), "user_id", "event_type"), Some(
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |), ch AS (
        |  SELECT *, lag(event_type) OVER w AS prev
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), opened AS (
        |  SELECT user_id, event_type, event_id, ts FROM ch
        |  WHERE prev IS NULL OR prev <> event_type
        |)
        |SELECT user_id, event_type,
        |  CAST(row_number() OVER w AS BIGINT) AS version,
        |  ts AS valid_from,
        |  lead(ts) OVER w AS valid_to,
        |  lead(ts) OVER w IS NULL AS is_current
        |FROM opened WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)),
    Query("q_cohort_retention", (s, dir) => operators.EventAnalytics.cohortRetention(
      Tables.events(s, dir)), Some(
      """WITH w AS (
        |  SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS week
        |  FROM events
        |), f AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY 1),
        |d AS (SELECT DISTINCT user_id, week FROM w)
        |SELECT f.cohort_week,
        |  CAST(date_diff('day', f.cohort_week, d.week) // 7 AS INTEGER) AS week_offset,
        |  count(DISTINCT d.user_id) AS n_users
        |FROM d JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin)),
    Query("q_set_ops", qSetOps, Some(
      """SELECT user_id, 'purchase_no_error' AS cohort FROM (
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |  EXCEPT
        |  SELECT user_id FROM events WHERE event_type = 'error'
        |)
        |UNION ALL
        |SELECT user_id, 'purchase_and_error' AS cohort FROM (
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |  INTERSECT
        |  SELECT user_id FROM events WHERE event_type = 'error'
        |)""".stripMargin)),
    Query("q_pivot", qPivot, Some(
      """SELECT user_id,
        |  CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
        |  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY user_id""".stripMargin)),
    Query("q_percentiles", qPercentiles, Some(
      s"""SELECT event_type,
         |  ${r4("quantile_cont(value, 0.5)")} AS p50,
         |  ${r4("quantile_cont(value, 0.9)")} AS p90,
         |  ${r4("quantile_cont(value, 0.99)")} AS p99,
         |  count(*) AS n
         |FROM events GROUP BY event_type""".stripMargin)),
    Query("q_salted_agg", qSaltedAgg, Some(
      """SELECT event_type,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
        |    AS total_value,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin)),
    Query("q_asof_join", qAsofJoin, Some(OracleSql.withTicksBars(
      """SELECT t.symbol, t.time, t.price,
        |  b.time AS asof_time, b.close AS asof_close, b.volume AS asof_volume
        |FROM ticks t ASOF LEFT JOIN bars b
        |  ON t.symbol = b.symbol AND t.time >= b.time""".stripMargin))),
    Query("q_asof_fwd", qAsofFwd, Some(OracleSql.withTicksBars(
      """SELECT t.symbol, t.time, t.price,
        |  CASE WHEN epoch_us(b.time) - epoch_us(t.time) <= 7200000000
        |    THEN b.time END AS asof_time,
        |  CASE WHEN epoch_us(b.time) - epoch_us(t.time) <= 7200000000
        |    THEN b.close END AS asof_close,
        |  CASE WHEN epoch_us(b.time) - epoch_us(t.time) <= 7200000000
        |    THEN b.volume END AS asof_volume
        |FROM ticks t ASOF LEFT JOIN bars b
        |  ON t.symbol = b.symbol AND t.time <= b.time""".stripMargin))),
    Query("q_asof_nearest", qAsofNearest, Some(OracleSql.withTicksBars(
      """, j AS (
        |  SELECT t.symbol, t.time, t.price,
        |    bb.time AS tb, bb.close AS cb, bb.volume AS vb,
        |    bf.time AS tf, bf.close AS cf, bf.volume AS vf
        |  FROM ticks t
        |  ASOF LEFT JOIN bars bb
        |    ON t.symbol = bb.symbol AND t.time >= bb.time
        |  ASOF LEFT JOIN bars bf
        |    ON t.symbol = bf.symbol AND t.time <= bf.time
        |), pick AS (
        |  SELECT symbol, time, price,
        |    CASE
        |      WHEN tb IS NOT NULL AND tf IS NOT NULL THEN
        |        CASE WHEN epoch_us(time) - epoch_us(tb)
        |               <= epoch_us(tf) - epoch_us(time) THEN 0 ELSE 1 END
        |      WHEN tb IS NOT NULL THEN 0
        |      WHEN tf IS NOT NULL THEN 1
        |      ELSE 2
        |    END AS side,
        |    tb, cb, vb, tf, cf, vf
        |  FROM j
        |)
        |SELECT symbol, time, price,
        |  CASE side WHEN 0 THEN tb WHEN 1 THEN tf END AS asof_time,
        |  CASE side WHEN 0 THEN cb WHEN 1 THEN cf END AS asof_close,
        |  CASE side WHEN 0 THEN vb WHEN 1 THEN vf END AS asof_volume
        |FROM pick""".stripMargin))),
    Query("q_bars_incremental", qBarsIncremental, Some(
      """WITH tk AS (
        |  SELECT CAST(user_id AS VARCHAR) AS symbol,
        |    CAST(ts AS TIMESTAMP) AS time,
        |    value AS price, CAST(event_id % 97 + 1 AS BIGINT) AS volume
        |  FROM events
        |), w AS (
        |  SELECT symbol, date_trunc('hour', time) AS btime, time, price, volume,
        |    row_number() OVER (PARTITION BY symbol, date_trunc('hour', time)
        |      ORDER BY time, price) AS rn_a,
        |    row_number() OVER (PARTITION BY symbol, date_trunc('hour', time)
        |      ORDER BY time DESC, price DESC) AS rn_d
        |  FROM tk
        |)
        |SELECT symbol, btime AS time,
        |  max(CASE WHEN rn_a = 1 THEN price END) AS open,
        |  max(price) AS high, min(price) AS low,
        |  max(CASE WHEN rn_d = 1 THEN price END) AS close,
        |  CAST(sum(volume) AS BIGINT) AS volume,
        |  count(*) AS n_ticks
        |FROM w GROUP BY 1, 2""".stripMargin)),
    Query("q_profile", qProfile, Some(ProfileCols.map { c =>
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  count(*) - count($c) AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s
         |FROM orders""".stripMargin
    }.mkString("\nUNION ALL\n"))),
    Query("q_rollup_revenue", qRollupRevenue, Some(
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
        |    AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |GROUP BY ROLLUP(o_orderpriority, o_orderstatus)""".stripMargin)),
    Query("q_cube_revenue", qCubeRevenue, Some(
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
        |    AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |GROUP BY CUBE(o_orderpriority, o_orderstatus)""".stripMargin)),
    Query("q_topk_per_key", qTopkPerKey, Some(
      """WITH w1 AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS INTEGER) AS rk
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT user_id, rk, event_id, ts, value FROM w1 WHERE rk <= 3""".stripMargin)),
    Query("q_agg_pricing", qAggPricing, Some(
      """WITH c AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qc,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS ec,
        |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dp,
        |    CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS tp
        |  FROM lineitem
        |), g AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(sum(qc) AS BIGINT) AS sq, CAST(sum(ec) AS BIGINT) AS se,
        |    CAST(sum(dp) AS BIGINT) AS sd,
        |    sum(ec * (100 - dp)) AS srev,
        |    sum(ec * (100 - dp) * (100 + tp)) AS sch,
        |    count(*) AS n
        |  FROM c GROUP BY 1, 2
        |)
        |SELECT l_returnflag, l_linestatus,
        |  sq / 100.0 AS sum_qty, se / 100.0 AS sum_base_price,
        |  CAST(srev AS DOUBLE) / 10000.0 AS sum_disc_price,
        |  CAST(sch AS DOUBLE) / 1000000.0 AS sum_charge,
        |  sq / 100.0 / n AS avg_qty, se / 100.0 / n AS avg_price,
        |  sd / 100.0 / n AS avg_disc, n AS count_order
        |FROM g""".stripMargin)),
    Query("q_join_revenue", qJoinRevenue, Some(
      """SELECT n_name,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
        |    AS revenue,
        |  count(*) AS n_orders,
        |  count(DISTINCT o_custkey) AS n_customers
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin)),
    Query("q_zorder", qZorder, Some(
      s"""WITH e AS (
         |  SELECT event_id,
         |    (CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000.0) AS BIGINT)
         |      & 65535) AS hour_idx,
         |    user_id % 65536 AS user_bucket
         |  FROM events
         |)
         |SELECT event_id, hour_idx, user_bucket,
         |  ${Layout.zorder2Sql("hour_idx", "user_bucket", 16)} AS zkey
         |FROM e""".stripMargin)),
    Query("q_range_join", qRangeJoin, Some(
      """WITH e AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        |), iv AS (
        |  SELECT event_id AS interval_id, ts AS start_ts,
        |    ts + INTERVAL 45 MINUTE AS end_ts
        |  FROM e WHERE event_id % 1000 = 0
        |)
        |SELECT interval_id, start_ts, end_ts, count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
        |    AS sum_value
        |FROM iv JOIN e ON e.ts >= iv.start_ts AND e.ts < iv.end_ts
        |GROUP BY 1, 2, 3""".stripMargin)),
  )
}
