package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.EntryMath._
import graft.functions.FreqSketch
import graft.operators.TextAnalysis
import graft.sources.Tables
import graft.streaming.{Feeder, StreamGate}

/** Streaming / sketch / CDC query entries (split from ExtendedEntries):
  * mergeable sketches (HLL, KLL, Misra-Gries) with their verify-only
  * error-contract companions, the replayed streaming paths (CDC merge,
  * session windows, stream-stream joins, drift), and batch
  * sessionization — the streaming variants hash-gated against the batch
  * oracles unchanged. */
private[graft] object StreamEntries {

  /** Gap-based sessionization (30 min inactivity) — the classic streaming
    * windowing pattern expressed over the batch table. */
  private def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gap = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
    val isNew = when(gap.isNull || gap > 1800000000L, 1).otherwise(0)
    Tables.events(s, dir)
      .withColumn("session_id",
        sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("vc"))
      .select(col("user_id"), col("session_id"), col("session_start"),
        col("session_end"), col("n_events"), (col("vc") / lit(100.0)).as("total_value"))
  }

  /** Sketch aggregates (HLL distinct, approximate percentiles) — the
    * SHIPPED plan, and the one the bench times: sketch cost only. The
    * estimates are engine-specific (no DuckDB mirror) so this query is
    * rows-only at the oracle gate; the full hash-checked error-band
    * verification lives in the verify-only companion [[qSketchesCheck]]
    * (round 6 benched the companion's four exact percentiles + exact
    * distinct as if they were the sketch's cost — the sketch was paying
    * for its oracle). Raw estimate values stay spec-gated in SketchSpec. */
  private def qSketches(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        approx_count_distinct(col("user_id")).as("approx_users"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("p50_approx"),
        percentile_approx(col("value"), lit(0.99), lit(1000)).as("p99_approx"))

  /** Verify-only oracle companion for [[qSketches]] (SparkEntry.verifyOnly
    * — runs at the correctness gate, excluded from the bench sweep): exact
    * companion aggregates DuckDB reproduces bit-for-bit plus booleans
    * asserting each estimate sits inside its guaranteed error band — Spark
    * computes the real sketch-vs-exact comparison, the oracle asserts
    * literal TRUE, so a sketch drifting out of contract flips the hash
    * red. Bands: HLL++ rsd 0.05 → 3σ = 15% bound; percentile_approx
    * accuracy 1000 → rank error ε = n/1000, checked against the exact
    * quantiles at rank ±5% (≫ ε here). */
  private def qSketchesCheck(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id")).as("au"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("p50a"),
        percentile_approx(col("value"), lit(0.99), lit(1000)).as("p99a"),
        expr("percentile(value, 0.45)").as("p45x"),
        expr("percentile(value, 0.55)").as("p55x"),
        expr("percentile(value, 0.985)").as("p985x"),
        expr("percentile(value, 0.995)").as("p995x"))
      .select(col("event_type"), col("n"), col("exact_users"),
        (abs(col("au") - col("exact_users")) <=
          col("exact_users") * lit(0.15)).as("users_in_band"),
        col("p50a").between(col("p45x"), col("p55x")).as("p50_in_band"),
        col("p99a").between(col("p985x"), col("p995x")).as("p99_in_band"))

  /** Mergeable-sketch rollup (the 100 TB distinct-count architecture:
    * per-day HLL sketches persisted once, later rollups merge sketches
    * instead of re-scanning raw data) — the SHIPPED plan: sketch + merge
    * cost only, rows-only at the oracle gate (the merged estimate is
    * engine-specific binary). The exact-distinct band check lives in the
    * verify-only companion [[qSketchRollupCheck]]; merge == direct is
    * pinned bit-exactly in SketchSpec. */
  private def qSketchRollup(s: SparkSession, dir: String): DataFrame =
    operators.Sketches.rollupUsers(
      operators.Sketches.dailyUserSketches(Tables.events(s, dir)))
      .select(col("event_type"), col("n_events"), col("n_days"),
        col("approx_users"))

  /** Verify-only oracle companion for [[qSketchRollup]]: exact companions
    * (n_events, n_days — pure relational aggregates DuckDB mirrors) plus a
    * boolean pinning the MERGED estimate inside the sketch's error band vs
    * the exact distinct count. DataSketches HLL at the default lgK=12 has
    * rsd ≈ 1.6%, so the 10% band is ≫ 3σ. The exact-distinct join exists
    * only to power the band check at verify SF. */
  private def qSketchRollupCheck(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val rolled = operators.Sketches.rollupUsers(
      operators.Sketches.dailyUserSketches(ev))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    rolled.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_events"), col("n_days"),
        col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * lit(0.10)).as("merged_in_band"))
  }

  /** Heavy-hitters width shared by the q_topk_sketch pair. 16 counters is
    * deliberately far below the test vocabulary (31 tokens) so trims —
    * the part of Misra–Gries with actual error semantics — fire
    * constantly at every SF. */
  private val MgK = 16

  /** Merged token heavy-hitters summary for `dir`'s documents: phase-1
    * per-source MG sketches (the persistable binary column), phase-2
    * associative merge — the same reduce-once/roll-up-forever shape as
    * [[operators.Sketches]]. */
  private def mgTokenSummary(s: SparkSession, dir: String) =
    Tables.documents(s, dir)
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy(col("source"))
      .agg(FreqSketch.mgSketch(col("token"), MgK).as("sk"))
      .agg(FreqSketch.mgMerge(col("sk"), MgK).as("s"))

  /** Mergeable Misra–Gries heavy hitters — the SHIPPED plan: top-10 items
    * of the merged summary with their estimate and the summary's error
    * terms. Rows-only at the oracle gate: MG item estimates are
    * arrival/merge-order dependent (unlike HLL's register-max union), so
    * the hash-gated error contract lives in the verify-only companion
    * [[qTopkSketchCheck]] and the zipf capture property in FreqSketchSpec. */
  private def qTopkSketch(s: SparkSession, dir: String): DataFrame =
    topkPresentation(mgTokenSummary(s, dir))

  /** Verify-only oracle companion for [[qTopkSketch]]: the exact top-10
    * token counts (deterministic count-desc/token tiebreak, mirrored in
    * DuckDB) plus the merge-order-independent MG theorems as booleans —
    *  - `in_contract`: every exact-top item is either provably light
    *    (true ≤ d) or reported in its error band (est ≤ true ≤ est + d);
    *  - `d_in_bound`: d ≤ n/k (every trim removes ≥ k·t mass);
    * and the summary's exact total mass `n_total` (trims never lose n).
    * Any violation flips a hash-checked literal-TRUE column. */
  private def qTopkSketchCheck(s: SparkSession, dir: String): DataFrame =
    mgContractCheck(s, dir, mgTokenSummary(s, dir))

  /** One oracle for BOTH q_topk_sketch_check and q_stream_topk_check:
    * exact top-10 token counts plus literal-TRUE contract booleans. */
  private val mgContractOracleSql: String =
    """WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
      |)
      |SELECT token, n, (SELECT count(*) FROM tok) AS n_total,
      |  TRUE AS in_contract, TRUE AS d_in_bound
      |FROM (
      |  SELECT token, count(*) AS n FROM tok
      |  GROUP BY token ORDER BY n DESC, token LIMIT 10
      |)""".stripMargin

  /** The merge-order-independent MG theorems as hash-checked booleans,
    * for ANY summary frame with one `s = struct(items, d, n)` row built
    * over `dir`'s document tokens — shared by the batch two-phase rollup
    * (q_topk_sketch_check) and the streaming per-batch-segment merge
    * (q_stream_topk_check), which therefore share one oracle SQL. */
  private def mgContractCheck(s: SparkSession, dir: String,
      summaryFrame: DataFrame): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
    val exactTop = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(10)
    val summary = summaryFrame
      .select(col("s.items").as("items"), col("s.d").as("d"), col("s.n").as("sn"))
    exactTop.crossJoin(broadcast(summary))
      .withColumn("est", expr("get(filter(items, x -> x.item = token), 0).est"))
      .select(col("token"), col("n"), col("sn").as("n_total"),
        (col("n") <= col("d") ||
          (col("est").isNotNull && col("est") <= col("n") &&
            col("n") <= col("est") + col("d"))).as("in_contract"),
        (col("d") * lit(MgK) <= col("sn")).as("d_in_bound"))
  }

  /** One stream run per (session, sfDir): q_stream_topk and its _check
    * companion consume the SAME per-batch segments (the run is
    * deterministic, so re-running for the check would reproduce them
    * byte-for-byte while paying the full feed-write + streaming-query
    * cost a second time — and PlanAuditSpec's plan walks a third). */
  // keyed by session UUID, not the session object — a session-keyed map
  // would pin every closed session's state graph for the JVM lifetime
  private val streamTopkRuns =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** Replay the document token stream through [[StreamGate]]
    * (doc_id-sliced file feed, 3 micro-batches, one O(k) MG sketch
    * segment per batch tagged with its batch id) and return the
    * summary merged at read time — the shared engine of the q_stream_topk
    * pair. A replayed batch b overwrites b's segment with the identical
    * sketch of the identical slice: no read-modify-write state to
    * double-merge, the failure mode a running-summary design would have.
    * The rollup is one associative mg_merge over the O(k) segments, never
    * a raw-data rescan.
    *
    * Exactness: MG item estimates are merge-order dependent, but the
    * summary THEOREMS — est ≤ true ≤ est + d for every reported item,
    * presence of every item with true > d, d ≤ n/k, and n exactly the
    * total mass — hold under arbitrary merge trees (Agarwal et al.,
    * Mergeable Summaries, PODS'12), so the per-batch/merge-at-read split
    * changes nothing the contract-gated companion checks. With k larger
    * than the live vocabulary no trim ever fires and the merged summary is
    * EXACT and merge-order independent (stream == batch bit-for-bit,
    * pinned in StreamTopkSpec). */
  private def streamTopkSummary(s: SparkSession, dir: String): DataFrame = {
    val work = streamTopkRuns.computeIfAbsent((SessionScoped.key(s), dir), { _ =>
      val w = SessionScoped.scratchDir("graft_stream_topk")
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      Feeder.replay(docs.withColumn("_ms", col("doc_id")), "_ms", w) { feed =>
        StreamGate.run(
          feed().select(explode(TextAnalysis.tokens(col("text"))).as("token")),
          (mb, batchId) => mb.agg(FreqSketch.mgSketch(col("token"), MgK).as("sk"))
            .withColumn("batch_id", lit(batchId)), w)
      }
      w
    })
    StreamGate.report(s, work).agg(FreqSketch.mgMerge(col("sk"), MgK).as("s"))
  }

  /** Top-10 presentation of a one-row MG summary frame — shared by the
    * batch and streamed variants so the rank/est/d/n_total shape lives
    * in one place. */
  private def topkPresentation(summary: DataFrame): DataFrame =
    summary
      .select(posexplode(slice(col("s.items"), 1, 10)).as(Seq("pos", "it")),
        col("s.d").as("d"), col("s.n").as("n_total"))
      .select((col("pos") + 1).as("rank"), col("it.item").as("token"),
        col("it.est").as("est"), col("d"), col("n_total"))

  /** Streaming heavy hitters: the [[qTopkSketch]] presentation over the
    * summary the STREAM accumulated as per-batch O(k) segments. Rows-only
    * at the gate for the same reason as the batch query (estimates are
    * merge-order dependent); the theorems are hash-gated in
    * [[qStreamTopkCheck]], and big-k stream==batch bit-exactness is
    * pinned in StreamTopkSpec. Verify-only: streaming machinery. */
  private def qStreamTopk(s: SparkSession, dir: String): DataFrame =
    topkPresentation(streamTopkSummary(s, dir))

  /** Verify-only oracle companion for [[qStreamTopk]]: the MG error
    * contract holds for the STREAMED summary too — the theorems are
    * merge-tree-independent, so the oracle is the identical exact-top-10
    * SQL the batch companion uses. */
  private def qStreamTopkCheck(s: SparkSession, dir: String): DataFrame =
    mgContractCheck(s, dir, streamTopkSummary(s, dir))

  /** The (base snapshot, changelog) pair shared by q_cdc_apply /
    * q_cdc_diff / q_stream_cdc AND their one shared oracle SQL
    * (cdcOracleSql): the pre-Jan-16 half folded into a per-user base
    * (latest row per user — the state a previous merge job left), the
    * post-cut half as a changelog where an 'error' event DELETES the
    * user's row and anything else upserts it. ONE definition on purpose:
    * a drifted copy would silently break the oracle-sharing invariant. */
  private def cdcFrames(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value"))
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val base = ev.filter(col("ts") < cut)
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value"))
    val changes = ev.filter(col("ts") >= cut)
      .withColumn("op",
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
    (base, changes)
  }

  /** CDC merge over the event stream ([[operators.Cdc]]); total change
    * order (ts desc, event_id desc) is mirrored in the oracle. */
  private def qCdcApply(s: SparkSession, dir: String): DataFrame = {
    val (base, changes) = cdcFrames(s, dir)
    operators.Cdc.applyChangelog(base, changes,
      keyCols = Seq("user_id"), tsCol = "ts", seqCol = "event_id", opCol = "op")
  }

  /** Snapshot diff ([[operators.Cdc.diff]]): the minimal changelog
    * turning the pre-cut base snapshot into the post-merge snapshot —
    * 'U' rows where a user's row changed/appeared, 'D' where it
    * vanished. The round-trip law (apply(base, diff) == merged) is
    * pinned in CdcSpec; here the diff itself is oracle-checked. */
  private def qCdcDiff(s: SparkSession, dir: String): DataFrame = {
    val (base, changes) = cdcFrames(s, dir)
    val merged = operators.Cdc.applyChangelog(base, changes,
      Seq("user_id"), "ts", "event_id", "op")
    operators.Cdc.diff(base, merged, Seq("user_id"), "op")
  }

  /** The STREAMING CDC path, gated like q_stream_indicators: the same
    * post-cut changelog as [[qCdcApply]] is replayed as three
    * time-sliced file-source micro-batches through the REAL foreachBatch
    * merge ([[graft.streaming.StreamCdc]] — generational snapshots,
    * checkpoint, replay-idempotent), and the FINAL SNAPSHOT is
    * hash-checked against the batch query's own DuckDB oracle. Verify-
    * only: the cost is streaming machinery, not a query plan. */
  private def qStreamCdc(s: SparkSession, dir: String): DataFrame = {
    val work = SessionScoped.scratchDir("graft_stream_cdc")
    val (base, changes) = cdcFrames(s, dir)
    // three time-range replay files → three in-(ts)-order micro-batches
    // (the slice-order precondition of Cdc's associativity law)
    Feeder.replay(
        changes.withColumn("_ms", unix_millis(col("ts"))), "_ms", work) { feed =>
      graft.streaming.StreamCdc.run(feed(), base, work,
        keyCols = Seq("user_id"), tsCol = "ts", seqCol = "event_id", opCol = "op")
    }
    graft.streaming.StreamCdc.snapshot(s, work, base)
  }

  /** The STREAMING sessionization path, gated like q_stream_cdc: the
    * events table replayed as three time-sliced micro-batches plus a
    * watermark-flush sentinel through the REAL `session_window`
    * aggregation + event-time watermark + exactly-once FileSink
    * ([[graft.streaming.StreamSessionize]]), and the final session
    * table is hash-checked against the BATCH query's own DuckDB oracle
    * (stream==batch also pinned per-edge in StreamSessionizeSpec).
    * Verify-only: streaming machinery, not a query plan. */
  private def qStreamSessionize(s: SparkSession, dir: String): DataFrame = {
    val work = SessionScoped.scratchDir("graft_stream_sess")
    val ev = Tables.events(s, dir).select(col("user_id"), col("ts"), col("value"))
    val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val sentinel = s.range(1).select(
      lit(graft.streaming.StreamSessionize.SentinelUser).as("user_id"),
      timestamp_micros(lit(maxUs + 8640000000000L)).as("ts"), // +100 days
      lit(0.0).as("value"))
    Feeder.replay(ev.withColumn("_ms", unix_millis(col("ts"))), "_ms", work,
        Some(sentinel)) { feed =>
      graft.streaming.StreamSessionize.run(feed(), work)
    }
    graft.streaming.StreamSessionize.report(s, work)
  }

  /** The STREAM-STREAM event-time interval join, gated like the other
    * q_stream_* queries: the events table replayed as three time-sliced
    * micro-batches feeding TWO live sources (non-error actions, error
    * incidents) through the REAL watermarked stream-stream join
    * ([[graft.streaming.StreamJoin]] — keyed state both sides, bounded
    * by the 30-min window), and the full match set is hash-checked
    * against a plain batch-SQL DuckDB oracle. Verify-only: streaming
    * machinery, not a query plan. */
  private def qStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val work = SessionScoped.scratchDir("graft_stream_join")
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    Feeder.replay(ev.withColumn("_ms", unix_millis(col("ts"))), "_ms", work) { feed =>
      graft.streaming.StreamJoin.run(
        feed().filter(col("event_type") =!= "error"),
        feed().filter(col("event_type") === "error"),
        "user_id", "event_id", windowUs = 1800000000L, workDir = work)
    }
    graft.streaming.StreamJoin.report(s, work)
  }

  /** LEFT-OUTER sibling of [[qStreamJoin]]: unmatched actions must
    * surface with null matches exactly when watermark eviction proves
    * them unmatched — the state machine's timeout edge. Needs a
    * both-streams watermark sentinel (reserved user −1, filtered from
    * the report): the join's eviction watermark is the MIN across the
    * two sides. Hash-gated against the batch LEFT JOIN oracle. */
  private def qStreamJoinOuter(s: SparkSession, dir: String): DataFrame = {
    val work = SessionScoped.scratchDir("graft_stream_joino")
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val sentinel = s.range(2).select( // one row for EACH stream's filter
      lit(-1L).as("user_id"), (-col("id") - 1).as("event_id"),
      timestamp_micros(lit(maxUs + 8640000000000L)).as("ts"),
      when(col("id") === 0, lit("error")).otherwise(lit("click"))
        .as("event_type"))
    Feeder.replay(ev.withColumn("_ms", unix_millis(col("ts"))), "_ms", work,
        Some(sentinel)) { feed =>
      graft.streaming.StreamJoin.run(
        feed().filter(col("event_type") =!= "error"),
        feed().filter(col("event_type") === "error"),
        "user_id", "event_id", windowUs = 1800000000L, workDir = work,
        joinType = "left_outer")
    }
    graft.streaming.StreamJoin.report(s, work).filter(col("user_id") =!= -1L)
  }

  /** The STREAMING DSIR quality gate, gated like q_stream_drift: the
    * documents table replayed as three doc_id-sliced micro-batches
    * through [[TextAnalysis.dsirGate]] — per-batch target-vs-raw
    * importance weights against the two bucket LMs estimated once at
    * stream start from the full reference corpus. Because each doc lands
    * in exactly one slice and the LMs are fixed, the unioned report is
    * row-for-row q_dsir's batch output, so this query is hash-gated
    * against q_dsir's DuckDB oracle UNCHANGED. Verify-only: streaming
    * machinery, not a query plan. */
  private def qStreamDsir(s: SparkSession, dir: String): DataFrame = {
    val work = SessionScoped.scratchDir("graft_stream_dsir")
    val docs = Tables.documents(s, dir)
    Feeder.replay(docs.select(col("doc_id"), col("text"), col("doc_id").as("_ms")),
        "_ms", work) { feed =>
      StreamGate.run(feed(), TextAnalysis.dsirGate(docs,
        col("lang") === "en", CorpusEntries.DsirBuckets), work)
    }
    StreamGate.report(s, work)
  }

  /** The STREAMING NB classification gate: the odd-id half (the batch
    * query's scoring split) replayed as three id-ordered micro-batches
    * through [[StreamGate]] under the model trained
    * once from the even-id half. Stateless across batches (a doc's
    * prediction depends only on its tokens and the fixed model), so the
    * accumulated report is hash-gated against q_nb_classify's batch
    * oracle — stream == batch regardless of slicing. Verify-only. */
  private def qStreamNb(s: SparkSession, dir: String): DataFrame = {
    val work = SessionScoped.scratchDir("graft_stream_nb")
    val docs = Tables.documents(s, dir)
    val score = docs.filter(col("doc_id") % 2 === 1)
    Feeder.replay(score.select(col("doc_id"), col("text"), col("lang"),
        col("doc_id").as("_ms")), "_ms", work) { feed =>
      val model = TextAnalysis.nbModel(docs.filter(col("doc_id") % 2 === 0), "lang")
      StreamGate.run(feed(), (mb, _) => TextAnalysis.nbScore(mb, model, "lang"), work)
    }
    StreamGate.report(s, work)
  }

  /** The STREAMING perplexity gate: odd docs replayed as three id-ordered
    * micro-batches through [[StreamGate]] — KN
    * model from doc_id%4==0, thresholds calibrated once on doc_id%4==2,
    * every batch routed statelessly against the fixed cut-points.
    * Hash-gated against q_ccnet_fixed's batch oracle (stream == batch at
    * any slicing by construction). Verify-only: streaming machinery. */
  private def qStreamCcnet(s: SparkSession, dir: String): DataFrame = {
    val work = SessionScoped.scratchDir("graft_stream_ccnet")
    val docs = Tables.documents(s, dir)
    val score = docs.filter(col("doc_id") % 2 === 1)
    Feeder.replay(score.select(col("doc_id"), col("text"), col("doc_id").as("_ms")),
        "_ms", work) { feed =>
      val model = TextAnalysis.knModel(docs.filter(col("doc_id") % 4 === 0))
      val th = TextAnalysis.ccnetThresholds(model, docs.filter(col("doc_id") % 4 === 2))
      StreamGate.run(feed(), (mb, _) => TextAnalysis.ccnetRoute(mb, model, th), work)
    }
    StreamGate.report(s, work)
  }

  /** The STREAMING blocklist gate: the full corpus replayed as three
    * id-ordered micro-batches through [[StreamGate]]
    * applying the batch blocklist scan verbatim. The gate closes over
    * nothing but the constant term list, so stream == batch at any
    * slicing by construction; hash-gated against q_blocklist's batch
    * oracle unchanged. Verify-only: streaming machinery. */
  private def qStreamBlocklist(s: SparkSession, dir: String): DataFrame = {
    val work = SessionScoped.scratchDir("graft_stream_blocklist")
    val docs = Tables.documents(s, dir)
    Feeder.replay(docs.select(col("doc_id"), col("text"), col("doc_id").as("_ms")),
        "_ms", work) { feed =>
      StreamGate.run(feed(),
        (mb, _) => TextAnalysis.blocklist(mb, CorpusEntries.BlockTerms), work)
    }
    StreamGate.report(s, work)
  }

  /** The STREAMING repetition gate: the full corpus replayed as three
    * id-ordered micro-batches through [[StreamGate]]
    * applying the batch Gopher-style repetition filter verbatim. Gram
    * counts are per-document (micro-batch-local keyed aggregates, no
    * cross-batch state), so stream == batch at any slicing; hash-gated
    * against q_repetition's batch oracle unchanged. Verify-only. */
  private def qStreamRepetition(s: SparkSession, dir: String): DataFrame = {
    val work = SessionScoped.scratchDir("graft_stream_repetition")
    val docs = Tables.documents(s, dir)
    Feeder.replay(docs.select(col("doc_id"), col("text"), col("doc_id").as("_ms")),
        "_ms", work) { feed =>
      StreamGate.run(feed(),
        (mb, _) => TextAnalysis.repetition(mb, maxTokenDup = CorpusEntries.MaxTokenDup,
          maxDupBigram = CorpusEntries.MaxDupBigram,
          maxTopBigram = CorpusEntries.MaxTopBigram), work)
    }
    StreamGate.report(s, work)
  }

  /** The STREAMING structural rule gate: the full corpus replayed as
    * three id-ordered micro-batches through [[StreamGate]]
    * applying the batch Gopher/C4 rule gate verbatim — the third
    * constant-closure member, completing the family (every stateless
    * per-document gate now has its streaming form). Hash-gated against
    * q_quality_rules' batch oracle unchanged. Verify-only. */
  private def qStreamRules(s: SparkSession, dir: String): DataFrame = {
    val work = SessionScoped.scratchDir("graft_stream_rules")
    val docs = Tables.documents(s, dir)
    Feeder.replay(docs.select(col("doc_id"), col("text"), col("doc_id").as("_ms")),
        "_ms", work) { feed =>
      StreamGate.run(feed(), (mb, _) => TextAnalysis.qualityRules(mb,
        minWords = CorpusEntries.RuleMinWords,
        maxWords = CorpusEntries.RuleMaxWords,
        minMeanLen = CorpusEntries.RuleMinMeanLen,
        maxMeanLen = CorpusEntries.RuleMaxMeanLen,
        maxWordLen = CorpusEntries.RuleMaxWordLen,
        minStopDistinct = CorpusEntries.RuleMinStop,
        maxShortFrac = CorpusEntries.RuleMaxShortFrac), work)
    }
    StreamGate.report(s, work)
  }

  /** The STREAMING near-dup decontamination gate: training docs replayed
    * as three id-ordered micro-batches through
    * [[operators.Dedup.fuzzyDecontamGate]] against the fixed eval set
    * (doc_id % 10 = 0). Stateless across batches (the eval set is fixed,
    * a doc's report depends only on itself), so the accumulated report is
    * hash-gated against q_decontaminate_fuzzy's batch oracle — stream ==
    * batch regardless of slicing. Verify-only: streaming machinery. */
  private def qStreamFuzzyDecontam(s: SparkSession, dir: String): DataFrame = {
    val work = SessionScoped.scratchDir("graft_stream_fuzzy")
    val docs = Tables.documents(s, dir)
    val evalPred = pmod(col("doc_id"), lit(10)) === 0
    Feeder.replay(docs.filter(!evalPred)
        .select(col("doc_id"), col("text"), col("doc_id").as("_ms")), "_ms", work) { feed =>
      StreamGate.run(feed(), operators.Dedup.fuzzyDecontamGate(docs.filter(evalPred),
        TextDedupEntries.FuzzyDecontamTau), work)
    }
    StreamGate.report(s, work)
  }

  /** Streaming drift parameters shared by q_stream_drift's query and
    * oracle (events.value spans [0, ~490], mean ~50). */
  private val SdBinW = 25.0
  private val SdMaxBin = 10

  /** The STREAMING data-quality gate: post-cut events replayed as three
    * time-sliced micro-batches, each emitting its full per-bin PSI/JS
    * drift table ([[operators.Drift]]) vs the pre-cut reference, tagged
    * with its batch id — the per-arrival signal a pipeline pages on when
    * an upstream schema/unit/source change skews a feed. Each batch is
    * compared to the reference, not to its predecessors, so the gate is
    * stateless; the reference is materialized once at start (at 100 TB
    * you persist its binned counts instead, and the per-batch cost is one
    * scan of the batch plus a k-bin join). Every batch's table is
    * hash-checked against a DuckDB mirror that recomputes the same slice
    * boundaries — so the gate covers the slicing, the binning and the
    * drift math at once. Verify-only: streaming machinery, not a query
    * plan. */
  private def qStreamDrift(s: SparkSession, dir: String): DataFrame = {
    val work = SessionScoped.scratchDir("graft_stream_drift")
    val ev = Tables.events(s, dir)
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    val ref = ev.filter(col("ts") < cut).select(col("value"))
    val cur = ev.filter(col("ts") >= cut)
      .select(col("value"), unix_millis(col("ts")).as("_ms"))
    Feeder.replay(cur, "_ms", work) { feed =>
      val refM = operators.Materialize(ref) // one histogram source, scanned per batch
      StreamGate.run(feed(), (mb, batchId) =>
        operators.Drift.drift(refM, mb, "value", SdBinW, SdMaxBin)
          .withColumn("batch_id", lit(batchId)), work)
    }
    StreamGate.report(s, work)
  }

  /** Oracle for [[qStreamDrift]]: the q_drift skeleton instantiated once
    * per micro-batch, with the batch's rows reproduced from the SAME
    * (min, span) slicing rule the replay feed uses. */
  private def oStreamDriftSql: String = {
    def slice(i: Int): String =
      s"""(WITH hr AS (
         |  SELECT CAST(least(floor(CAST(value AS DOUBLE) / $SdBinW), $SdMaxBin) AS INTEGER) AS bin,
         |    count(*) AS cnt_ref
         |  FROM ev WHERE ts < TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1
         |), hc AS (
         |  SELECT CAST(least(floor(CAST(value AS DOUBLE) / $SdBinW), $SdMaxBin) AS INTEGER) AS bin,
         |    count(*) AS cnt_cur
         |  FROM ev, bnds WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
         |    AND ms >= t0 + $i * span AND ms < t0 + ${i + 1} * span
         |  GROUP BY 1
         |), j AS (
         |  SELECT coalesce(hr.bin, hc.bin) AS bin,
         |    coalesce(cnt_ref, 0) AS cnt_ref, coalesce(cnt_cur, 0) AS cnt_cur
         |  FROM hr FULL OUTER JOIN hc ON hr.bin = hc.bin
         |), t AS (
         |  SELECT CAST(sum(cnt_ref) AS BIGINT) AS tot_ref,
         |    CAST(sum(cnt_cur) AS BIGINT) AS tot_cur FROM j
         |), pq AS (
         |  SELECT bin, cnt_ref, cnt_cur,
         |    CAST(cnt_ref AS DOUBLE) / CAST(tot_ref AS DOUBLE) AS p_ref,
         |    CAST(cnt_cur AS DOUBLE) / CAST(tot_cur AS DOUBLE) AS p_cur
         |  FROM j, t
         |), terms AS (
         |  SELECT *,
         |    floor(((p_cur - p_ref) * ln(
         |      (CASE WHEN p_cur = 0 THEN 1e-6 ELSE p_cur END) /
         |      (CASE WHEN p_ref = 0 THEN 1e-6 ELSE p_ref END))) * 10000 + 0.5) / 10000
         |      AS psi_term,
         |    floor((0.5 * (CASE WHEN p_ref > 0
         |        THEN p_ref * ln(p_ref / ((p_ref + p_cur) / CAST(2 AS DOUBLE))) ELSE 0 END)
         |      + 0.5 * (CASE WHEN p_cur > 0
         |        THEN p_cur * ln(p_cur / ((p_ref + p_cur) / CAST(2 AS DOUBLE))) ELSE 0 END))
         |      * 10000 + 0.5) / 10000 AS js_term
         |  FROM pq
         |), g AS (SELECT sum(psi_term) AS psi, sum(js_term) AS js FROM terms)
         |SELECT bin, cnt_ref, cnt_cur,
         |  floor(p_ref * 10000 + 0.5) / 10000 AS p_ref,
         |  floor(p_cur * 10000 + 0.5) / 10000 AS p_cur,
         |  psi_term, js_term,
         |  floor(psi * 10000 + 0.5) / 10000 AS psi,
         |  floor(js * 10000 + 0.5) / 10000 AS js,
         |  CAST($i AS BIGINT) AS batch_id
         |FROM terms, g)""".stripMargin
    s"""WITH ev AS (
       |  SELECT CAST(ts AS TIMESTAMP) AS ts, value,
       |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms FROM events
       |), bnds AS (
       |  SELECT min(ms) AS t0, (max(ms) - min(ms)) // 3 + 1 AS span
       |  FROM ev WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
       |)
       |${(0 until 3).map(slice).mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** Shared by q_sessionize AND q_stream_sessionize: the streaming
    * session_window path's strongest check is hashing against the batch
    * query's oracle unchanged. */
  private def sessionizeOracleSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |    epoch_us(CAST(ts AS TIMESTAMP))
      |      - lag(epoch_us(CAST(ts AS TIMESTAMP)))
      |        OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap
      |  FROM events
      |), s AS (
      |  SELECT user_id, event_id, ts, value,
      |    CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_id
      |  FROM e
      |)
      |SELECT user_id, session_id,
      |  min(ts) AS session_start, max(ts) AS session_end,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
      |    AS total_value
      |FROM s GROUP BY 1, 2""".stripMargin

  /** Shared by q_cdc_apply AND q_stream_cdc: the streaming merge's
    * strongest check is hashing against the batch oracle unchanged. */
  private def cdcOracleSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    event_type, value FROM events
      |), base AS (
      |  SELECT user_id, event_id, ts, event_type, value FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM ev WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
      |  ) WHERE rn = 1
      |), latest AS (
      |  SELECT * FROM (
      |    SELECT user_id, event_id, ts, event_type, value,
      |      CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |      row_number() OVER (PARTITION BY user_id
      |        ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM ev WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
      |  ) WHERE rn = 1
      |)
      |SELECT b.user_id, b.event_id, b.ts, b.event_type, b.value
      |FROM base b ANTI JOIN latest l ON b.user_id = l.user_id
      |UNION ALL
      |SELECT user_id, event_id, ts, event_type, value
      |FROM latest WHERE op != 'D'""".stripMargin

  val entries: Seq[Query] = Seq(
    // Sketch queries: the shipped q_sketches / q_sketch_rollup plans are
    // sketch-only (engine-specific estimates, no DuckDB mirror → rows-only
    // at the oracle gate, so the bench measures the sketch, not its
    // oracle). The hash-checked error contract lives in the verify-only
    // _check companions: exact companions + in-band booleans (see
    // qSketchesCheck scaladoc) — the oracle asserts the exact aggregates
    // AND that every estimate honors its error contract (literal TRUE: a
    // sketch out of band flips the hash).
    Query("q_sketches", qSketches, None),
    Query("q_sketch_rollup", qSketchRollup, None),
    Query("q_sketches_check", qSketchesCheck, Some(
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS exact_users,
        |  TRUE AS users_in_band, TRUE AS p50_in_band, TRUE AS p99_in_band
        |FROM events GROUP BY event_type""".stripMargin), benched = false),
    Query("q_sketch_rollup_check", qSketchRollupCheck, Some(
      """SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS n_days,
        |  count(DISTINCT user_id) AS exact_users,
        |  TRUE AS merged_in_band
        |FROM events GROUP BY event_type""".stripMargin), benched = false),
    Query("q_topk_sketch", qTopkSketch, None),
    // q_topk_sketch ships sketch-only (Misra-Gries estimates are
    // arrival/merge-order dependent → rows-only); its hash-gated error
    // contract is this companion: exact top-10 token counts + the
    // order-independent MG theorems as literal-TRUE booleans.
    Query("q_topk_sketch_check", qTopkSketchCheck, Some(mgContractOracleSql), benched = false),
    Query("q_stream_topk", qStreamTopk, None, benched = false),
    // identical oracle on purpose: the MG theorems are merge-tree-
    // independent, so batch rollup and streamed segments share one gate
    Query("q_stream_topk_check", qStreamTopkCheck, Some(mgContractOracleSql), benched = false),
    // the stream-stream interval join must emit exactly the batch join's
    // match set — hash-gated against plain batch SQL
    Query("q_stream_join", qStreamJoin, Some(
      """SELECT a.user_id, a.event_id AS left_id, e.event_id AS right_id,
        |  epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP))
        |    AS gap_us
        |FROM events a JOIN events e ON a.user_id = e.user_id
        |  AND e.event_type = 'error' AND a.event_type != 'error'
        |  AND CAST(e.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
        |  AND CAST(e.ts AS TIMESTAMP)
        |    <= CAST(a.ts AS TIMESTAMP) + INTERVAL 30 MINUTE""".stripMargin), benched = false),
    // left-outer variant: unmatched actions surface with NULL matches
    Query("q_stream_join_outer", qStreamJoinOuter, Some(
      """SELECT a.user_id, a.event_id AS left_id, e.event_id AS right_id,
        |  epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP))
        |    AS gap_us
        |FROM events a LEFT JOIN events e ON a.user_id = e.user_id
        |  AND e.event_type = 'error'
        |  AND CAST(e.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
        |  AND CAST(e.ts AS TIMESTAMP)
        |    <= CAST(a.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
        |WHERE a.event_type != 'error'""".stripMargin), benched = false),
    Query("q_cdc_apply", qCdcApply, Some(cdcOracleSql)),
    // the streaming CDC path must merge to the SAME snapshot: hash-gated
    // against the batch query's oracle unchanged
    Query("q_stream_cdc", qStreamCdc, Some(cdcOracleSql), benched = false),
    Query("q_stream_drift", qStreamDrift, Some(oStreamDriftSql), benched = false),
    // fixed-LM stateless scoring over exactly-once-partitioned slices ==
    // the batch scorer, so the oracle is q_dsir's, verbatim
    Query("q_stream_dsir", qStreamDsir, Some(CorpusEntries.dsirOracleSql), benched = false),
    // fixed-model stateless scoring — the oracle is q_nb_classify's,
    // verbatim (same held-out split, same model, any slicing)
    Query("q_stream_nb", qStreamNb,
      Some(CorpusEntries.nbClassifyOracleSql), benched = false),
    // fixed model + fixed thresholds, stateless routing — the oracle is
    // q_ccnet_fixed's, verbatim (same splits, any slicing)
    Query("q_stream_ccnet", qStreamCcnet,
      Some(CorpusEntries.ccnetFixedOracleSql), benched = false),
    // constant-closure stateless scans — the oracles are the batch
    // gates', verbatim (full corpus, any slicing)
    Query("q_stream_blocklist", qStreamBlocklist,
      Some(CorpusEntries.blocklistOracleSql), benched = false),
    Query("q_stream_repetition", qStreamRepetition,
      Some(CorpusEntries.repetitionOracleSql), benched = false),
    Query("q_stream_rules", qStreamRules,
      Some(CorpusEntries.qualityRulesOracleSql), benched = false),
    // the streamed fuzzy screen accumulates the SAME per-doc report the
    // batch query emits (stateless vs a fixed eval set) — shared oracle
    Query("q_stream_fuzzy_decontam", qStreamFuzzyDecontam,
      Some(TextDedupEntries.fuzzyDecontamOracleSql), benched = false),
    Query("q_cdc_diff", qCdcDiff, Some(
      s"""WITH applied AS ($cdcOracleSql),
         |ev2 AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
         |    event_type, value FROM events
         |), base2 AS (
         |  SELECT user_id, event_id, ts, event_type, value FROM (
         |    SELECT *, row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM ev2 WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
         |  ) WHERE rn = 1
         |)
         |SELECT user_id, event_id, ts, event_type, value, 'U' AS op FROM (
         |  SELECT * FROM applied EXCEPT ALL SELECT * FROM base2
         |)
         |UNION ALL
         |SELECT b.user_id, b.event_id, b.ts, b.event_type, b.value, 'D' AS op
         |FROM base2 b ANTI JOIN applied a ON b.user_id = a.user_id""".stripMargin)),
    Query("q_sessionize", qSessionize, Some(sessionizeOracleSql)),
    // the streaming session_window path must produce the SAME sessions:
    // hash-gated against the batch query's oracle unchanged
    Query("q_stream_sessionize", qStreamSessionize, Some(sessionizeOracleSql), benched = false),
  )
}
