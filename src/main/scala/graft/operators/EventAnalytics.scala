package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.EntryMath.{r => r4}

/** Event-stream analytics beyond sessionization: ordered funnels and
  * cohort retention — the two standard product-analytics queries over a
  * (user_id, event_type, ts) stream.
  *
  * Both compile to single-digit keyed shuffles with no driver-side state:
  * the funnel is one shuffle by user (layered window selects share the
  * sort, exactly like the indicator pipeline), retention is two keyed
  * aggregates joined on user. At 100 TB both are bounded by Σ per-user
  * history, parallel in user cardinality.
  */
object EventAnalytics {

  /** First/last-touch attribution: every conversion event joined to the
    * earliest and most-recent preceding non-conversion touch of the same
    * user, plus the time since the last touch. One window pass over the
    * (user, time) ordering the other event analytics already use — the
    * `when(...)` inside `first/last(ignoreNulls)` filters touch candidates
    * without a self-join, so there is exactly one shuffle and no
    * event-to-event join blowup at scale. Ties on ts are broken by
    * event_id, making the result deterministic under same-timestamp
    * events. */
  def attribution(events: DataFrame, conversion: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val touch = (c: Column) => when(col("event_type") =!= conversion, c)
    events
      .withColumn("first_touch_type", first(touch(col("event_type")), ignoreNulls = true).over(w))
      .withColumn("first_touch_id", first(touch(col("event_id")), ignoreNulls = true).over(w))
      .withColumn("last_touch_type", last(touch(col("event_type")), ignoreNulls = true).over(w))
      .withColumn("last_touch_id", last(touch(col("event_id")), ignoreNulls = true).over(w))
      .withColumn("last_touch_ts", last(touch(col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === conversion)
      .select(col("user_id"), col("event_id").as("conversion_id"), col("ts"),
        col("first_touch_type"), col("first_touch_id"),
        col("last_touch_type"), col("last_touch_id"),
        (unix_millis(col("ts")) - unix_millis(col("last_touch_ts"))).as("gap_ms"))
  }

  /** Ordered funnel: how many users complete step 1..N of `steps`, where
    * each step's event must occur STRICTLY AFTER the previous step's
    * (order on (ts, event_id) — deterministic under same-timestamp
    * events).
    *
    * Plan: events sorted once per user; per step a layered select adds
    * "did step k complete strictly before this row" via a max over the
    * ROWS UNBOUNDED..1 PRECEDING frame, then one aggregate per user and
    * one tiny global rollup. One shuffle, one sort, N window passes that
    * all reuse the same ordering. */
  def funnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val prev = ord.rowsBetween(Window.unboundedPreceding, -1)
    // hit0 = this row is step 0; hitK = this row is step K and step K-1
    // completed strictly earlier
    val base = events.select(col("user_id"), col("ts"), col("event_id"),
      col("event_type"),
      when(col("event_type") === steps.head, lit(1)).otherwise(lit(0)).as("hit0"))
    val layered = steps.zipWithIndex.tail.foldLeft(base) {
      case (df, (step, k)) =>
        df.select(col("*"),
          when(col("event_type") === step &&
              max(col(s"hit${k - 1}")).over(prev) === 1, lit(1))
            .otherwise(lit(0)).as(s"hit$k"))
    }
    val stepAggs = steps.indices.map(k => max(col(s"hit$k")).as(s"s$k"))
    val perUser = layered.groupBy(col("user_id"))
      .agg(stepAggs.head, stepAggs.tail: _*)
    // tiny rollup: one row per funnel step
    val counts = perUser.select(steps.indices.map(k =>
      sum(col(s"s$k")).cast("long").as(s"n$k")): _*)
    val stepRows = steps.indices.map(k =>
      struct(lit(k + 1).as("step"), lit(steps(k)).as("event_type"),
        col(s"n$k").as("n_users")))
    counts.select(explode(array(stepRows: _*)).as("r"))
      .select(col("r.step"), col("r.event_type"), col("r.n_users"))
  }

  /** Slowly-changing-dimension type 2 build: collapse a per-key change
    * stream into validity intervals `[valid_from, valid_to)`, opening a
    * new version only when the tracked attribute actually CHANGES
    * (no-change events extend the current version instead of splitting
    * it — the gaps-and-islands half that makes SCD2 more than a lead()).
    *
    * Plan: one shuffle by key; change detection (lag), versioning
    * (running sum) and interval close (lead) are three window passes over
    * the SAME (key, ts, id) sort, so CollapseWindow keeps them in one
    * sort + no extra exchanges. valid_to is NULL on the open (current)
    * version. At 100 TB: parallel in key cardinality, Σ per-key history
    * per task, no global sort. */
  def scd2(events: DataFrame, key: String, attr: String): DataFrame = {
    val ord = Window.partitionBy(col(key)).orderBy(col("ts"), col("event_id"))
    val changed = events
      .filter(col(attr).isNotNull && col("ts").isNotNull)
      .withColumn("_prev", lag(col(attr), 1).over(ord))
      .filter(col("_prev").isNull || col("_prev") =!= col(attr))
    val ord2 = Window.partitionBy(col(key)).orderBy(col("ts"), col("event_id"))
    changed
      .withColumn("valid_from", col("ts"))
      .withColumn("valid_to", lead(col("ts"), 1).over(ord2))
      .withColumn("version", row_number().over(ord2).cast("long"))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col(key), col(attr), col("version"),
        col("valid_from"), col("valid_to"), col("is_current"))
  }

  /** Weekly cohort retention: users grouped by the week of their first
    * event; for each (cohort_week, week_offset) the number of distinct
    * users active that many weeks later. Two keyed aggregates (first-seen
    * per user, distinct user-weeks) joined on user — both map-side
    * combinable, output is cohort² sized (tiny). */
  def cohortRetention(events: DataFrame): DataFrame = {
    val weeks = events.select(col("user_id"),
      date_trunc("week", col("ts")).as("week"))
    val firstWeek = weeks.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    weeks.distinct()
      .join(firstWeek, "user_id")
      .withColumn("week_offset",
        (datediff(col("week"), col("cohort_week")) / 7).cast("int"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Top-k user journeys: the most common opening event-type sequences
    * (first `depth` steps) across sessions — "what do users actually do
    * first" path analysis. Sessions are the same 30-minute-gap cut as the
    * sessionize query; the per-session path is built with
    * `array_sort(collect_list(struct(ts, event_id, type)))` so the order
    * is the (ts, event_id) total order REGARDLESS of partitioning
    * (collect_list alone has no order guarantee — the classic
    * nondeterminism trap), then truncated to `depth` and joined with
    * " > ". One shuffle by user, one keyed session aggregate, a count by
    * path, and a TakeOrderedAndProject for the top k (count desc, path
    * asc tiebreak — deterministic). */
  def topPaths(events: DataFrame, gapMinutes: Int = 30, depth: Int = 3,
      k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60000000L
    val gap = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
    val sessioned = events
      .withColumn("__new", when(gap.isNull || gap > gapUs, 1).otherwise(0))
      .withColumn("__sid", sum(col("__new"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    sessioned
      .groupBy(col("user_id"), col("__sid"))
      .agg(array_join(slice(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))), x => x.getField("event_type")),
        1, depth), " > ").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }

  /** Peak concurrent sessions per day — the capacity-planning metric,
    * computed as a sweep line re-expressed in DataFrame terms: each
    * session (same 30-minute-gap cut as sessionize) emits a +1 at its
    * clipped start and a −1 after its clipped end within every day it
    * overlaps, and the per-day peak is the max of the running sum ordered
    * by (t, +1-before-−1) — starts processed first at a shared timestamp,
    * so the row-level max equals the instant-level max for closed
    * intervals (tie order WITHIN the starts can't change it: the largest
    * value is after all of them). Partitioned by day, so the window never
    * goes global; sessions explode only into the days they span (bounded
    * by session length). One user shuffle for sessions, one day shuffle
    * for the sweep. */
  def peakConcurrency(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60000000L
    val gap = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
    val sess = events
      .withColumn("__new", when(gap.isNull || gap > gapUs, 1).otherwise(0))
      .withColumn("__sid", sum(col("__new"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("__sid"))
      .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
    val byDay = sess
      .select(col("s"), col("e"),
        explode(sequence(to_date(col("s")), to_date(col("e")))).as("day"))
      .select(col("day"),
        greatest(col("s"), col("day").cast("timestamp")).as("cs"),
        least(col("e"), (col("day") + lit(1)).cast("timestamp")).as("ce"))
    val points = byDay.select(col("day"), col("cs").as("t"), lit(1).as("delta"))
      .unionByName(byDay.select(col("day"), col("ce").as("t"), lit(-1).as("delta")))
    val sweep = Window.partitionBy(col("day"))
      .orderBy(col("t"), col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    points.withColumn("c", sum(col("delta")).over(sweep))
      .groupBy(col("day"))
      .agg(max(col("c")).cast("long").as("peak_concurrent"),
        (count(lit(1)) / 2).cast("long").as("n_sessions"))
  }

  /** First-order Markov transition matrix of the event stream: counts and
    * row-normalized probabilities of consecutive (event_type →
    * next event_type) steps within each user's (ts, event_id)-ordered
    * history — the behavioral fingerprint behind next-action prediction
    * and anomalous-flow detection. One shuffle by user for the `lead`,
    * one keyed aggregate down to the O(|event types|²) matrix, and a
    * window over `from_type` (tiny by then) for the row totals.
    * Probabilities are 4-dp rounded per the engine-parity contract. */
  def transitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = events
      .select(col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    counts.select(col("from_type"), col("to_type"), col("n"),
      r4(col("n") / sum(col("n")).over(Window.partitionBy(col("from_type"))))
        .as("p"))
  }
}
