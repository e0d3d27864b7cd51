package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{WindowIndicators => WI}
import graft.operators.Materialize.MatOps
import graft.EntryMath.{r => r4}

/** Derived trading signals on top of the indicator machinery: rolling
  * z-score outliers and moving-average crossover events — the alert-side
  * queries a user of the reference pipeline builds next (roadmap.md's
  * alerting direction), expressed with the same one-shuffle-per-symbol
  * window family as the indicators themselves.
  *
  * Determinism contract: comparisons that gate output rows (outlier flag,
  * cross direction) run on 4-dp-rounded values so both engines make
  * identical keep/drop decisions at float boundaries.
  */
object Signals {


  /** ln(c/p) guarded against the zero/negative prices ANSI mode turns into
    * runtime DIVIDE_BY_ZERO errors (the synthetic feed contains exact-0
    * prices at larger SFs; a real feed contains bad prints): null unless
    * both prices are positive. Mirrored verbatim in every oracle. */
  private def logRet(c: Column, p: Column): Column =
    when(c > 0 && p > 0, log(c / p))

  /** Rolling z-score of close vs its n-bar mean/std (ddof=1, matching the
    * Bollinger convention); |z| > threshold flags an outlier bar. One
    * window pass; null until the window fills. */
  def zscoreOutliers(bars: DataFrame, n: Int, threshold: Double): DataFrame = {
    val spec = WI.w()
    val cnt = count(col("close")).over(spec.rowsBetween(-(n - 1), 0))
    val m = avg(col("close")).over(spec.rowsBetween(-(n - 1), 0))
    val sd = stddev_samp(col("close")).over(spec.rowsBetween(-(n - 1), 0))
    bars
      .select(col("symbol"), col("time"), col("close"),
        when(cnt === n, r4((col("close") - m) / nullif(sd, lit(0.0)))).as("z"))
      .withColumn("is_outlier", abs(col("z")) > threshold)
      .filter(col("z").isNotNull)
  }

  /** Rolling OLS trend: least-squares slope (and R²) of close against
    * time-order over the trailing n rows, per symbol. x is the absolute
    * per-symbol row number — slope is shift-invariant in x, so absolute
    * indices give the same line as window-relative 1..n while keeping
    * every term a plain decomposable window sum (no list materialization,
    * unlike the order-statistic signals). Degenerate windows (zero x or y
    * variance) yield null. */
  def rollingOls(bars: DataFrame, n: Int): DataFrame = {
    val spec = WI.w()
    val w = spec.rowsBetween(-(n - 1), 0)
    val x = row_number().over(spec).cast("double")
    val y = col("close")
    val base = bars.select(col("symbol"), col("time"), y.as("y"), x.as("x"))
    val cnt = count(col("y")).over(w)
    val sx = sum(col("x")).over(w)
    val sy = sum(col("y")).over(w)
    val sxx = sum(col("x") * col("x")).over(w)
    val sxy = sum(col("x") * col("y")).over(w)
    val syy = sum(col("y") * col("y")).over(w)
    val covN = lit(n) * sxy - sx * sy        // n·Σxy − Σx·Σy
    val varxN = lit(n) * sxx - sx * sx       // n·Σx² − (Σx)²  (never 0 for n≥2)
    val varyN = lit(n) * syy - sy * sy
    base.select(col("symbol"), col("time"),
      when(cnt === n, r4(covN / varxN)).as(s"slope_$n"),
      when(cnt === n && varyN =!= 0,
        r4(covN * covN / (varxN * varyN))).as(s"r2_$n"))
  }

  /** Robust rolling outliers: |close − median| / (1.4826·MAD) over the
    * trailing n rows — the median/MAD analog of [[zscoreOutliers]], immune
    * to the outlier inflating its own baseline (a spike inflates stddev
    * and can mask itself; the median and MAD barely move). Order
    * statistics don't decompose into running sums, so the window is
    * materialized per row (collect_list + array_sort), O(n log n) for
    * constant n inside the shared WindowExec. */
  def robustOutliers(bars: DataFrame, n: Int, threshold: Double): DataFrame = {
    require(n % 2 == 0, "even n keeps the median interpolation simple")
    val spec = WI.w()
    val w = spec.rowsBetween(-(n - 1), 0)
    // Staged projections, NOT one nested expression: inlining med into the
    // madl lambda and mad into z re-evaluates the whole sort chain per
    // reference (and per array element, interpreted — higher-order
    // functions don't codegen), which measured ~40× slower. Each stage's
    // output is referenced multiple times downstream, so CollapseProject
    // keeps the stages separate and every value is computed once per row.
    val mid = (c: Column) => (element_at(c, n / 2) + element_at(c, n / 2 + 1)) / 2
    bars
      .select(col("symbol"), col("time"), col("close"),
        count(col("close")).over(w).as("_cnt"),
        array_sort(collect_list(col("close")).over(w)).as("_l"))
      // Filter on the window-count attribute ONLY: a filter touching
      // _mad/_med would be pushed below these projects with the whole
      // chain substituted into its condition, re-evaluating it per row
      // (measured 34 s vs 1.4 s at sf0.1). Warm-up rows are dropped here;
      // the (degenerate, >half-constant window) mad=0 rows survive with a
      // null score instead.
      .filter(col("_cnt") === n)
      // guarded per stage: ANSI element_at errors on warm-up rows' short
      // arrays if evaluated unconditionally (belt and braces — the cnt
      // filter above already removed them, but the guard keeps the
      // expressions total rather than order-dependent)
      .withColumn("_med", when(col("_cnt") === n, mid(col("_l"))))
      .withColumn("_madl", when(col("_med").isNotNull,
        array_sort(transform(col("_l"), x => abs(x - col("_med"))))))
      .withColumn("_mad", when(col("_med").isNotNull, mid(col("_madl"))))
      .select(col("symbol"), col("time"), col("close"),
        when(col("_mad") =!= 0,
          r4((col("close") - col("_med")) / (lit(1.4826) * col("_mad")))).as("robust_z"))
      .withColumn("is_outlier", abs(col("robust_z")) > threshold)
  }

  /** Log returns and realized volatility: ret = ln(close/close₋₁) per
    * symbol, vol = stddev_samp of the trailing n returns. One shared
    * window family — the quant-core derivation every risk metric builds
    * on. */
  def returnsVol(bars: DataFrame, n: Int): DataFrame = {
    val spec = WI.w()
    val w = spec.rowsBetween(-(n - 1), 0)
    val ret = logRet(col("close"), lag(col("close"), 1).over(spec))
    val base = bars.select(col("symbol"), col("time"), col("close"), ret.as("ret"))
    val cnt = count(col("ret")).over(w)
    base.select(col("symbol"), col("time"), col("close"),
      r4(col("ret")).as("log_ret"),
      when(cnt === n, r4(stddev_samp(col("ret")).over(w))).as(s"vol_$n"))
  }

  /** Rolling beta of each symbol's log returns against an equal-weight
    * market index built from the same bars. The index price is the
    * cents-quantized per-hour mean close (integer sums ⇒ deterministic
    * under any partitioning); index returns join back to symbol returns
    * by time (one keyed shuffle), and beta over the trailing n pairs is
    * cov(ret, mret)/var(mret) — all decomposable window sums, same shape
    * as [[rollingOls]]. */
  def rollingBeta(bars: DataFrame, n: Int): DataFrame = {
    val spec = WI.w()
    val mkt = bars.groupBy(col("time"))
      .agg((sum(floor(col("close") * 100 + lit(0.5)).cast("long")) /
        (count(lit(1)) * 100.0)).as("mkt_close"))
    // the market series is one row per HOUR (O(calendar), never
    // corpus-sized) — a single-partition lag over it is the right plan;
    // PlanAuditSpec allowlists exactly this window
    val mret = mkt.withColumn("mret",
      logRet(col("mkt_close"), lag(col("mkt_close"), 1).over(
        Window.orderBy(col("time")))))
      .select(col("time"), col("mret"))
    val ret = bars.select(col("symbol"), col("time"),
      logRet(col("close"), lag(col("close"), 1).over(spec)).as("ret"))
    val j = ret.join(broadcast(mret), "time")
    val w = Window.partitionBy(col("symbol")).orderBy(col("time"))
      .rowsBetween(-(n - 1), 0)
    val cnt = count(col("ret")).over(w)
    val sx = sum(col("mret")).over(w)
    val sy = sum(col("ret")).over(w)
    val sxx = sum(col("mret") * col("mret")).over(w)
    val sxy = sum(col("mret") * col("ret")).over(w)
    val varxN = lit(n) * sxx - sx * sx
    j.select(col("symbol"), col("time"),
      when(cnt === n && varxN =!= 0,
        r4((lit(n) * sxy - sx * sy) / varxN)).as(s"beta_$n"))
  }

  /** Hour-of-day seasonality: mean log return and volume per (symbol,
    * hour-of-day) — the calendar-profile aggregation behind
    * time-of-day-aware execution. Returns are quantized to 1e9 integers
    * before the mean so the group sums are order-independent (group
    * members arrive from arbitrary partitions, unlike the sequential
    * window frames). Two shuffles total: the per-symbol window for the
    * return, then one 24×symbols aggregate. */
  def seasonality(bars: DataFrame): DataFrame = {
    val spec = WI.w()
    val ret = logRet(col("close"), lag(col("close"), 1).over(spec))
    bars.select(col("symbol"), hour(col("time")).as("hod"),
        ret.as("ret"), col("volume"))
      .groupBy(col("symbol"), col("hod"))
      .agg(
        (sum(floor(col("ret") * lit(1e9) + lit(0.5)).cast("long")) /
          (count(col("ret")) * lit(1e9))).as("mean_ret_raw"),
        sum(col("volume")).as("volume"),
        count(col("ret")).as("n_rets"))
      .select(col("symbol"), col("hod"),
        r4(col("mean_ret_raw")).as("mean_ret"), col("volume"), col("n_rets"))
  }

  /** Running drawdown: close vs the all-time-high so far, per symbol,
    * plus the UNDERWATER DURATION — bars since the peak was last touched
    * (the drawdown-duration risk stat: how long capital has been below
    * its high-water mark). Running max is order-independent (exact); the
    * duration is `rn − max(rn where at peak)`, two cumulative windows
    * stacked on the same symbol sort. Equality with the running max is
    * exact double comparison — both engines read identical parquet
    * doubles, so the at-peak set matches bit-for-bit. */
  def drawdown(bars: DataFrame): DataFrame = {
    val spec = WI.w()
    val cum = spec.rowsBetween(Window.unboundedPreceding, 0)
    val peak = max(col("close")).over(cum)
    val rn = row_number().over(spec)
    val base = bars.select(col("symbol"), col("time"), col("close"),
      peak.as("peak"), rn.as("__rn"))
    base.select(col("symbol"), col("time"), col("close"), col("peak"),
      // nullif: a symbol whose running peak is still 0 (bad prints) would
      // otherwise be an ANSI DIVIDE_BY_ZERO at runtime
      r4((col("close") - col("peak")) / nullif(col("peak"), lit(0.0)))
        .as("drawdown"),
      (col("__rn") - max(when(col("close") >= col("peak"), col("__rn")))
        .over(cum)).cast("long").as("underwater_bars"))
  }

  /** Rolling Pearson correlation between explicit pairs of keyed series —
    * the pairs-trading / co-movement signal. Input is a generic
    * `(key, time, value)` relation (per-symbol closes, per-event-type
    * daily means, …); each pair's two series align on time (inner join)
    * and the window is keyed by pair, so many pairs parallelize while each
    * series stays one bounded partition. Null until the window holds n
    * aligned points. */
  def rollingCorrelation(series: DataFrame, pairs: Seq[(String, String)],
      n: Int): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    val p = pairs.toDF("key_a", "key_b")
      .withColumn("pair", concat(col("key_a"), lit("/"), col("key_b")))
    val a = series.join(broadcast(p.select("pair", "key_a")),
        col("key") === col("key_a"))
      .select(col("pair"), col("time"), col("value").as("va"))
    val b = series.join(broadcast(p.select("pair", "key_b")),
        col("key") === col("key_b"))
      .select(col("pair"), col("time"), col("value").as("vb"))
    val spec = Window.partitionBy(col("pair")).orderBy(col("time"))
      .rowsBetween(-(n - 1), 0)
    a.join(b, Seq("pair", "time"))
      .select(col("pair"), col("time"),
        when(count(lit(1)).over(spec) === n,
          r4(corr(col("va"), col("vb")).over(spec))).as("corr"))
      // Spark yields NaN for a zero-variance window where SQL engines give
      // NULL — drop both so the gate semantics are engine-independent
      .filter(col("corr").isNotNull && !isnan(col("corr")))
  }

  /** Moving-average crossover events: rows where the fast SMA crosses the
    * slow SMA (golden/death cross). The sign test runs on the rounded
    * spread and its lag, so a cross is emitted exactly when the spread's
    * 4-dp sign flips between consecutive bars. */
  def smaCrossovers(bars: DataFrame, fast: Int, slow: Int): DataFrame = {
    val spec = WI.w()
    val spread = r4(WI.sma(col("close"), fast, spec) - WI.sma(col("close"), slow, spec))
    val withSpread = bars.select(col("symbol"), col("time"),
      r4(WI.sma(col("close"), fast, spec)).as(s"sma_$fast"),
      r4(WI.sma(col("close"), slow, spec)).as(s"sma_$slow"),
      spread.as("spread"))
    val prev = lag(col("spread"), 1).over(WI.w())
    withSpread
      .withColumn("prev_spread", prev)
      .filter(col("spread").isNotNull && col("prev_spread").isNotNull)
      .withColumn("signal",
        when(col("prev_spread") < 0 && col("spread") >= 0, lit("golden_cross"))
          .when(col("prev_spread") >= 0 && col("spread") < 0, lit("death_cross")))
      .filter(col("signal").isNotNull)
      .select(col("symbol"), col("time"), col(s"sma_$fast"), col(s"sma_$slow"),
        col("signal"))
  }

  /** Lead-lag profile of each symbol against the equal-weight market
    * index: corr(r_sym(t), r_mkt(t + lag·1h)) for lag ∈ [−maxLag,
    * +maxLag] — positive-lag correlation means the symbol MOVES BEFORE
    * the market (leads), the price-discovery diagnostic behind lead-lag
    * trading studies. The market series is the same cents-quantized
    * per-hour mean close as [[rollingBeta]] (one row per hour, tiny, its
    * single-partition lag is the allowlisted bounded window); returns on
    * both sides are 1e-4-quantized integers so all Pearson sums are exact
    * longs. Shape: the symbol-return frame fans out ×(2·maxLag+1) via a
    * lag explode, equi-joins the broadcast market series on the shifted
    * hour key, and aggregates straight down to |symbols|·lags rows. */
  def leadLagMarket(bars: DataFrame, maxLag: Int = 2,
      minOverlap: Int = 10): DataFrame = {
    val q4 = (c: Column) => floor(c * 10000 + lit(0.5)).cast("long")
    val th = (t: Column) => floor(unix_seconds(t) / 3600).cast("long")
    val mkt = bars.groupBy(col("time"))
      .agg((sum(floor(col("close") * 100 + lit(0.5)).cast("long")) /
        (count(lit(1)) * 100.0)).as("mkt_close"))
    val mret = mkt
      .withColumn("mr", q4(logRet(col("mkt_close"),
        lag(col("mkt_close"), 1).over(Window.orderBy(col("time"))))))
      .filter(col("mr").isNotNull)
      .select(th(col("time")).as("mth"), col("mr"))
    val ret = bars
      .select(col("symbol"), th(col("time")).as("th"),
        q4(logRet(col("close"), lag(col("close"), 1).over(WI.w()))).as("r"))
      .filter(col("r").isNotNull)
    val g = ret
      .withColumn("lg", explode(array((-maxLag to maxLag).map(lit(_)): _*)))
      .join(broadcast(mret), col("mth") === col("th") + col("lg"))
      .groupBy(col("symbol"), col("lg").as("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("r")).as("sy"), sum(col("mr")).as("sx"),
        sum(col("r") * col("r")).as("syy"),
        sum(col("mr") * col("mr")).as("sxx"),
        sum(col("r") * col("mr")).as("sxy"))
      .filter(col("n") >= minOverlap)
    val nD = col("n").cast("double")
    val cov = nD * col("sxy") - col("sx").cast("double") * col("sy")
    val vx = nD * col("sxx") - col("sx").cast("double") * col("sx")
    val vy = nD * col("syy") - col("sy").cast("double") * col("sy")
    g.select(col("symbol"), col("lag"), col("n"),
      r4(cov / nullif(sqrt(vx * vy), lit(0.0)))
        .as("corr"))
  }

  /** Full pairwise correlation matrix of per-symbol log returns — the
    * quant-desk covariance-input primitive ([[rollingCorrelation]] tracks
    * NAMED pairs over time; this is the all-pairs snapshot). Returns are
    * 1e-4-quantized to integers BEFORE the pair join, so every aggregate
    * (n, Σx, Σy, Σx², Σy², Σxy) is an exact long and the Pearson formula
    * runs on identical inputs in both engines — no float summation order
    * anywhere. Shape: the return frame (|bars| rows, 3 narrow columns) is
    * materialized ONCE and self-equi-joined on the time key — without the
    * barrier the self-join re-executes the whole events→bars→returns
    * pipeline (scan, bar aggregation, per-symbol lag window) once per
    * side. Symbols are dictionary-encoded to ints through a broadcast
    * before the join, so the |symbols|²-per-time fanout (bounded by
    * listing count, never corpus-sized) hash-aggregates on two int keys
    * instead of two strings — measured 6.4 s → 4.4 s at sf0.1, the string
    * hashing of 16M fanout rows was the dominant constant. (A
    * per-time-slice array expansion — collect_list + nested higher-order
    * transforms — was measured 2× SLOWER than the join: Spark evaluates
    * lambda functions interpreted, outside whole-stage codegen.) Pairs
    * with fewer than `minOverlap` common bars or zero variance yield
    * null. */
  def corrMatrix(bars: DataFrame, minOverlap: Int = 10): DataFrame = {
    val q4 = (c: Column) => floor(c * 10000 + lit(0.5)).cast("long")
    val ret = bars
      .select(col("symbol"), col("time"),
        q4(logRet(col("close"), lag(col("close"), 1).over(WI.w()))).as("r"))
      .filter(col("r").isNotNull)
      .materialize
    // dictionary-encode symbols (row_number over the sorted distinct list:
    // id order == string order, so sid_a < sid_b ⇔ symbol_a < symbol_b and
    // the emitted pair set is unchanged). The dict is O(|symbols|) rows —
    // its single-partition window is allowlisted in PlanAuditSpec.
    val ids = ret.select(col("symbol")).distinct()
      .select(col("symbol"),
        row_number().over(Window.orderBy(col("symbol"))).as("sid"))
    val r2 = ret.join(broadcast(ids), "symbol")
      .select(col("sid"), col("time"), col("r"))
    val j = r2.as("a").join(r2.as("b"),
      col("a.time") === col("b.time") && col("a.sid") < col("b.sid"))
    val g = j.groupBy(col("a.sid").as("sa"), col("b.sid").as("sb"))
      .agg(count(lit(1)).as("n"),
        sum(col("a.r")).as("sx"), sum(col("b.r")).as("sy"),
        sum(col("a.r") * col("a.r")).as("sxx"),
        sum(col("b.r") * col("b.r")).as("syy"),
        sum(col("a.r") * col("b.r")).as("sxy"))
      .filter(col("n") >= minOverlap)
    val nD = col("n").cast("double")
    val cov = nD * col("sxy") - col("sx").cast("double") * col("sy")
    val vx = nD * col("sxx") - col("sx").cast("double") * col("sx")
    val vy = nD * col("syy") - col("sy").cast("double") * col("sy")
    g.join(broadcast(ids.select(col("sid").as("sa"), col("symbol").as("symbol_a"))), "sa")
      .join(broadcast(ids.select(col("sid").as("sb"), col("symbol").as("symbol_b"))), "sb")
      .select(col("symbol_a"), col("symbol_b"), col("n"),
        r4(cov / nullif(sqrt(vx * vy), lit(0.0)))
          .as("corr"))
  }


  /** CUSUM changepoint detector (Page 1954) over each symbol's 1-bar close
    * change. The textbook form is doubly recursive —
    * `s⁺_t = max(0, s⁺_{t-1} + z_t − k)`, `s⁻_t = max(0, s⁻_{t-1} − z_t − k)`
    * — which would force a sequential per-symbol scan (the seeded-agg
    * machinery). Instead this uses the prefix-sum identity
    * `s⁺_t = S_t − min(0, min_{j≤t} S_j)` with `S_t = Σ_{j≤t}(z_j − k)`:
    * CUSUM is a running sum minus its running minimum, so the whole
    * detector is two layers of decomposable cumulative windows over one
    * (symbol, time) sort — one shuffle, no state, parallel across symbols.
    *
    * z is the z-score of the close change against the symbol's full-series
    * mean/std (ddof=1), 4-dp-quantized BEFORE the cumulative sums so both
    * engines accumulate identical values in identical order; k (slack) and
    * h (alarm threshold) are in σ units. The first bar of each symbol has
    * no change and is excluded. The alarm gate compares rounded values per
    * this file's determinism contract. */
  def cusum(bars: DataFrame, k: Double = 0.5, h: Double = 5.0): DataFrame = {
    val seq = WI.w()
    val all = Window.partitionBy(col("symbol"))
    val cum = seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = col("close") - lag(col("close"), 1).over(seq)
    val z = r4((col("d") - avg(col("d")).over(all)) /
      nullif(stddev_samp(col("d")).over(all), lit(0.0)))
    val s = bars
      .select(col("symbol"), col("time"), col("close"), d.as("d"))
      .select(col("symbol"), col("time"), col("close"), z.as("z"))
      .select(col("symbol"), col("time"), col("close"), col("z"),
        sum(col("z") - lit(k)).over(cum).as("sp"),
        sum(-col("z") - lit(k)).over(cum).as("sn"))
      .select(col("symbol"), col("time"), col("close"), col("z"),
        r4(col("sp") - least(min(col("sp")).over(cum), lit(0.0))).as("cusum_pos"),
        r4(col("sn") - least(min(col("sn")).over(cum), lit(0.0))).as("cusum_neg"))
    s.filter(col("z").isNotNull)
      .withColumn("alarm", col("cusum_pos") > h || col("cusum_neg") > h)
  }
}
