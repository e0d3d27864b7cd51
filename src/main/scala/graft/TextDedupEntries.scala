package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.EntryMath._
import graft.operators.{Dedup, TextAnalysis}
import graft.sources.Tables

/** Text-dedup / text-analysis query entries (split from ExtendedEntries):
  * exact and near-dup (shingle Jaccard, MinHash-LSH, SimHash), corpus
  * dedup via connected components, leakage-safe splits, PMI and
  * per-document text statistics — each with its DuckDB oracle. */
private[graft] object TextDedupEntries {

  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(s, dir))

  private def qTextStats(s: SparkSession, dir: String): DataFrame = {
    val st = TextAnalysis.stats(Tables.documents(s, dir))
    st.select(col("doc_id"), col("n_tokens"), col("n_distinct"),
      r(col("mean_token_len")).as("mean_token_len"),
      r(col("stopword_ratio")).as("stopword_ratio"),
      r(col("distinct_ratio")).as("distinct_ratio"),
      r(col("quality_score")).as("quality_score"))
  }

  private def qTokenCount(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenCounts(Tables.documents(s, dir))

  private def qLangId(s: SparkSession, dir: String): DataFrame = {
    val li = TextAnalysis.langId(Tables.documents(s, dir))
    li.select(col("doc_id"), col("lang_label"),
      r(col("en_stopword_ratio")).as("en_stopword_ratio"), col("lang_pred"))
  }

  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(Tables.documents(s, dir))

  private def qJaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(Tables.documents(s, dir), 0.7, n = 3, maxDf = 100)

  /** Directional containment (doc-in-doc quote detection) over the same
    * capped shingle index as q_jaccard_pairs. */
  private def qContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables.documents(s, dir), ContainTheta, n = 3,
      maxDf = 100)

  /** Containment threshold (query and oracle read the same value). */
  private val ContainTheta = 0.8

  private def qMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(Tables.documents(s, dir), 0.7)

  /** Empirical-vs-theoretical LSH recall per exact-Jaccard band — the
    * S-curve audit run before trusting the banding at corpus scale. */
  private def qMinhashRecall(s: SparkSession, dir: String): DataFrame =
    Dedup.lshRecallAudit(Tables.documents(s, dir))

  /** Fuzzy-decontamination threshold (query, oracle, AND the streaming
    * gate read the same value) — lower than the dedup tau on purpose:
    * contamination screens flag partial/reworded benchmark copies, not
    * just mirror pages. */
  private[graft] val FuzzyDecontamTau = 0.6

  /** Near-dup decontamination ([[Dedup.fuzzyDecontaminate]]): training
    * docs whose shingle Jaccard vs ANY eval doc (doc_id % 10 = 0, the
    * same held-out set as q_decontaminate's exact screen) reaches tau —
    * best match by (4dp jaccard desc, eval id). */
  private def qDecontaminateFuzzy(s: SparkSession, dir: String): DataFrame =
    Dedup.fuzzyDecontaminate(Tables.documents(s, dir),
      pmod(col("doc_id"), lit(10)) === 0, FuzzyDecontamTau)

  private def qSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(s, dir), 10)

  /** Multi-index form ([[Dedup.simhashPairsMp]]): 6 bands of 10 bits +
    * Hamming-1 probes instead of 12 bands of 5 bits — 32x the bucket
    * count at the same exact completeness, so the emitted pairs are
    * IDENTICAL to q_simhash (shared oracle). */
  private def qSimhashMp(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairsMp(Tables.documents(s, dir), 10)

  /** Linear-output SimHash class report ([[Dedup.simhashClasses]]): the
    * scale-safe alternative to q_simhash's pair enumeration — one row per
    * duplicate class however wide the class, same exact multi-index
    * candidates, components via min-label propagation. */
  private def qSimhashClasses(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashClasses(Tables.documents(s, dir), 10)

  /** Which documents to drop: LSH pairs → components → canonical per doc. */
  private def qDedupCorpus(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupCorpus(Tables.documents(s, dir), 0.7)

  /** Distinct (doc_id, 31-bit shingle-hash) index (mirrors Dedup.shingleIndex). */
  private val oShingleIdx: String =
    s"""tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh0 AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
       |         ELSE list_transform(range(1, len(toks) - 1),
       |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) END)) AS sh
       |  FROM tk
       |),
       |shidx AS (SELECT DISTINCT doc_id, ${oHash60("sh")} % 2147483647 AS h FROM sh0),
       |shsz AS (SELECT doc_id, count(*) AS sz FROM shidx GROUP BY doc_id)""".stripMargin

  /** df-capped shingle index + unordered pair intersections (mirrors
    * Dedup.cappedIndex + the jaccard/containment self-join; df cap 100). */
  private val oCappedIdx: String =
    """capped AS (
      |  SELECT doc_id, h FROM (
      |    SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df FROM shidx
      |  ) WHERE df <= 100
      |),
      |csz AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY doc_id),
      |cinter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |  FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** Verified shingle-Jaccard pairs ≥ tau (mirrors Dedup.jaccardPairs). */
  private def oJaccard(tau: Double): String =
    s"""inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |  FROM shidx a JOIN shidx b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |),
       |jac AS (
       |  SELECT doc_a, doc_b,
       |    ${r4("i / (sa.sz + sb.sz - i)")} AS jaccard,
       |    i / (sa.sz + sb.sz - i) AS jraw
       |  FROM inter JOIN shsz sa ON sa.doc_id = doc_a
       |             JOIN shsz sb ON sb.doc_id = doc_b
       |),
       |jpairs AS (SELECT doc_a, doc_b, jaccard FROM jac WHERE jraw >= $tau)""".stripMargin

  /** MinHash signature + LSH bands (mirrors Dedup.minhashSignatures/bands). */
  /** DuckDB mirror of [[graft.operators.Sampling.splitBy]] over `keyExpr`,
    * generated from the SAME salt/cuts constants the Spark side uses so
    * the two can never drift. */
  private def oSplitCase(keyExpr: String): String = {
    val cuts = CorpusEntries.SplitCuts
    val cum = cuts.init.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    val probe =
      s"substr(md5('${CorpusEntries.SplitSalt}' || CAST($keyExpr AS VARCHAR)), 1, 4)"
    val whens = cuts.init.map(_._1).zip(cum).map { case (name, c) =>
      s"WHEN $probe < '${graft.operators.Sampling.thresholdHex(c)}' THEN '$name'"
    }.mkString(" ")
    s"CASE $whens ELSE '${cuts.last._1}' END"
  }

  private val oMinhash: String = {
    val sig = (0 until Dedup.MinHashK)
      .map(j => s"min((h * ${Dedup.mhA(j)} + ${Dedup.mhB(j)}) % ${Dedup.MinHashP}) AS mh$j")
      .mkString(", ")
    val bands = (0 until Dedup.MinHashK / 2)
      .map(bd => s"SELECT doc_id, $bd AS band, mh${2 * bd} AS x, mh${2 * bd + 1} AS y FROM sig")
      .mkString("\n  UNION ALL ")
    s"""sig AS (SELECT doc_id, $sig FROM shidx GROUP BY doc_id),
       |bands AS (
       |  $bands
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.x = b.x AND a.y = b.y AND a.doc_id < b.doc_id
       |)""".stripMargin
  }

  /** Cross-set variant of [[oMinhash]] for q_decontaminate_fuzzy: same
    * signatures/bands, but candidates pair a TRAINING doc (doc_a) with an
    * EVAL doc (doc_b, doc_id % 10 = 0) instead of self-joining. */
  private val oMinhashXEval: String = {
    val sig = (0 until Dedup.MinHashK)
      .map(j => s"min((h * ${Dedup.mhA(j)} + ${Dedup.mhB(j)}) % ${Dedup.MinHashP}) AS mh$j")
      .mkString(", ")
    val bands = (0 until Dedup.MinHashK / 2)
      .map(bd => s"SELECT doc_id, $bd AS band, mh${2 * bd} AS x, mh${2 * bd + 1} AS y FROM sig")
      .mkString("\n  UNION ALL ")
    s"""sig AS (SELECT doc_id, $sig FROM shidx GROUP BY doc_id),
       |bands AS (
       |  $bands
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.x = b.x AND a.y = b.y
       |   AND a.doc_id % 10 != 0 AND b.doc_id % 10 = 0
       |)""".stripMargin
  }

  /** Shared with q_stream_fuzzy_decontam ([[StreamEntries]]). */
  private[graft] val fuzzyDecontamOracleSql: String =
    s"""WITH $oShingleIdx,
       |$oMinhashXEval,
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS i
       |  FROM cand c JOIN shidx ia ON ia.doc_id = c.doc_a
       |              JOIN shidx ib ON ib.doc_id = c.doc_b AND ib.h = ia.h
       |  GROUP BY 1, 2
       |),
       |jac AS (
       |  SELECT doc_a, doc_b, i / (sa.sz + sb.sz - i) AS jraw,
       |    ${r4("i / (sa.sz + sb.sz - i)")} AS jaccard
       |  FROM inter JOIN shsz sa ON sa.doc_id = doc_a
       |             JOIN shsz sb ON sb.doc_id = doc_b
       |),
       |jp AS (SELECT * FROM jac WHERE jraw >= $FuzzyDecontamTau),
       |rk AS (
       |  SELECT doc_a, doc_b, jaccard,
       |    row_number() OVER (PARTITION BY doc_a ORDER BY jaccard DESC, doc_b) AS rn,
       |    count(*) OVER (PARTITION BY doc_a) AS nm
       |  FROM jp
       |)
       |SELECT doc_a AS doc_id, doc_b AS eval_match, jaccard AS max_jaccard,
       |  CAST(nm AS BIGINT) AS n_eval_matches
       |FROM rk WHERE rn = 1""".stripMargin

  /** Shared DuckDB CTE chain for the 60-bit shingle SimHash signature
    * (mirrors [[Dedup.simhash]]) — feeds both the pair and class oracles. */
  private val oSimhashSig: String =
    """tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |tok0 AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
      |         ELSE list_transform(range(1, len(toks) - 1),
      |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) END)) AS tok
      |  FROM tk
      |), tokh AS (
      |  SELECT DISTINCT doc_id,
      |    CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
      |  FROM tok0
      |), bits AS (
      |  SELECT doc_id, r.i AS i,
      |    sum(CASE WHEN (h >> CAST(r.i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM tokh, range(60) r(i) GROUP BY doc_id, r.i
      |), sh AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN v >= 0
      |      THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY doc_id
      |)""".stripMargin

  /** q_simhash_mp is EXACTLY complete like q_simhash (multi-index +
    * Hamming-1 probes relax the pigeonhole without weakening it), so the
    * two share one oracle verbatim. */
  private val simhashOracleSql: String =
    s"""WITH $oSimhashSig
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 10""".stripMargin

  val entries: Seq[Query] = Seq(
    // LSH pairs (cand ∩ jaccard >= tau) joined to each side's source;
    // mean over integer 4dp-quantized jaccards, same as the Spark side
    Query("q_dup_sources", (s, dir) =>
      Dedup.dupSourceMatrix(Tables.documents(s, dir), 0.7), Some(
      s"""WITH $oShingleIdx,
         |$oMinhash,
         |${oJaccard(0.7)},
         |edges AS (
         |  SELECT c.doc_a, c.doc_b, j.jaccard
         |  FROM cand c JOIN jpairs j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
         |),
         |lab AS (
         |  SELECT least(da.source, db.source) AS source_x,
         |    greatest(da.source, db.source) AS source_y,
         |    CAST(floor(e.jaccard * 10000 + 0.5) AS BIGINT) AS j4
         |  FROM edges e JOIN documents da ON da.doc_id = e.doc_a
         |               JOIN documents db ON db.doc_id = e.doc_b
         |)
         |SELECT source_x, source_y, CAST(count(*) AS BIGINT) AS n_pairs,
         |  floor(CAST(sum(j4) AS DOUBLE) / count(*) + 0.5) / 10000 AS avg_jaccard
         |FROM lab GROUP BY 1, 2""".stripMargin)),
    Query("q_pmi", (s, dir) =>
      TextAnalysis.pmiCollocations(Tables.documents(s, dir), 5), Some(
      """WITH tk AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |uni AS (
        |  SELECT unnest(toks) AS token FROM tk
        |), uc AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM uni GROUP BY 1),
        |bg AS (
        |  SELECT unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(range(1, len(toks)),
        |           i -> concat_ws(' ', toks[i], toks[i+1])) END) AS bigram
        |  FROM tk
        |), bc AS (
        |  SELECT bigram, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM bg GROUP BY 1 HAVING count(*) >= 5
        |), tot AS (
        |  SELECT (SELECT count(*) FROM uni) AS n_uni,
        |         (SELECT count(*) FROM bg) AS n_bi
        |)
        |SELECT bc.bigram, bc.n_ab, ua.cnt AS ca, ub.cnt AS cb,
        |  floor(ln((CAST(bc.n_ab AS DOUBLE) / n_bi) /
        |    ((CAST(ua.cnt AS DOUBLE) / n_uni) * (CAST(ub.cnt AS DOUBLE) / n_uni)))
        |    * 10000 + 0.5) / 10000 AS pmi
        |FROM bc
        |JOIN uc ua ON ua.token = string_split(bc.bigram, ' ')[1]
        |JOIN uc ub ON ub.token = string_split(bc.bigram, ' ')[2]
        |, tot""".stripMargin)),
    Query("q_dedup_corpus", qDedupCorpus, Some(
      s"""WITH RECURSIVE $oShingleIdx,
         |$oMinhash,
         |${oJaccard(0.7)},
         |edges AS (
         |  SELECT c.doc_a, c.doc_b
         |  FROM cand c JOIN jpairs j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
         |),
         |und AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM edges
         |  UNION ALL SELECT doc_b, doc_a FROM edges
         |),
         |reach AS (
         |  SELECT DISTINCT src AS d, src AS r FROM und
         |  UNION
         |  SELECT reach.d, und.dst FROM reach JOIN und ON und.src = reach.r
         |)
         |SELECT d AS doc_id, min(r) AS canonical_id, d != min(r) AS is_duplicate
         |FROM reach GROUP BY d""".stripMargin)),
    // same CC as q_dedup_corpus + the q_text_stats quality formula; winner
    // per cluster by (4dp quality DESC, doc_id) row_number
    Query("q_dedup_keep_best", (s, dir) =>
      Dedup.dedupCorpusKeepBest(Tables.documents(s, dir), 0.7), Some(
      s"""WITH RECURSIVE $oShingleIdx,
         |$oMinhash,
         |${oJaccard(0.7)},
         |edges AS (
         |  SELECT c.doc_a, c.doc_b
         |  FROM cand c JOIN jpairs j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
         |),
         |und AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM edges
         |  UNION ALL SELECT doc_b, doc_a FROM edges
         |),
         |reach AS (
         |  SELECT DISTINCT src AS d, src AS r FROM und
         |  UNION
         |  SELECT reach.d, und.dst FROM reach JOIN und ON und.src = reach.r
         |),
         |cc AS (SELECT d AS doc_id, min(r) AS cluster_id FROM reach GROUP BY d),
         |st AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS toks,
         |    len(string_split(text, ' ')) AS n_tokens,
         |    len(list_distinct(string_split(text, ' '))) AS n_distinct
         |  FROM documents
         |),
         |sq AS (
         |  SELECT doc_id,
         |    len(list_filter(toks, x -> list_contains(
         |      ['the','a','of','to','in','and','is','on','for','with'], x))) / n_tokens
         |      AS stopword_ratio,
         |    n_distinct / n_tokens AS distinct_ratio,
         |    least(n_tokens / 50.0, 1.0) AS len_score
         |  FROM st
         |),
         |q AS (
         |  SELECT doc_id,
         |    ${r4("0.4 * len_score + 0.4 * distinct_ratio + 0.2 * (1.0 - abs(stopword_ratio - 0.1))")}
         |      AS quality_score
         |  FROM sq
         |),
         |jn AS (
         |  SELECT cc.doc_id, cc.cluster_id, q.quality_score,
         |    row_number() OVER (PARTITION BY cc.cluster_id
         |      ORDER BY q.quality_score DESC, cc.doc_id) AS rn
         |  FROM cc JOIN q USING (doc_id)
         |)
         |SELECT doc_id, cluster_id, quality_score, rn = 1 AS keep FROM jn""".stripMargin)),
    // same CC clusters; split cut on the CLUSTER id's salted bucket
    // (thresholds/salt shared with q_split via CorpusEntries constants)
    Query("q_split_safe", (s, dir) =>
      Dedup.leakageSafeSplit(Tables.documents(s, dir), 0.7,
        CorpusEntries.SplitSalt, CorpusEntries.SplitCuts), Some(
      s"""WITH RECURSIVE $oShingleIdx,
         |$oMinhash,
         |${oJaccard(0.7)},
         |edges AS (
         |  SELECT c.doc_a, c.doc_b
         |  FROM cand c JOIN jpairs j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
         |),
         |und AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM edges
         |  UNION ALL SELECT doc_b, doc_a FROM edges
         |),
         |reach AS (
         |  SELECT DISTINCT src AS d, src AS r FROM und
         |  UNION
         |  SELECT reach.d, und.dst FROM reach JOIN und ON und.src = reach.r
         |),
         |cc AS (SELECT d AS doc_id, min(r) AS cluster_id FROM reach GROUP BY d),
         |jn AS (
         |  SELECT dd.doc_id, coalesce(cc.cluster_id, dd.doc_id) AS cluster_id
         |  FROM documents dd LEFT JOIN cc ON cc.doc_id = dd.doc_id
         |)
         |SELECT doc_id, cluster_id,
         |  ${oSplitCase("cluster_id")} AS split
         |FROM jn""".stripMargin)),
    // same CC clusters; keep iff the doc's salted bucket clears the
    // cluster-size-discounted threshold floor(round(rate*65536)/|cluster|)
    Query("q_sample_dedup", (s, dir) =>
      Dedup.dedupWeightedSample(Tables.documents(s, dir), 0.7, "dw1:", 0.5), Some(
      s"""WITH RECURSIVE $oShingleIdx,
         |$oMinhash,
         |${oJaccard(0.7)},
         |edges AS (
         |  SELECT c.doc_a, c.doc_b
         |  FROM cand c JOIN jpairs j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
         |),
         |und AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM edges
         |  UNION ALL SELECT doc_b, doc_a FROM edges
         |),
         |reach AS (
         |  SELECT DISTINCT src AS d, src AS r FROM und
         |  UNION
         |  SELECT reach.d, und.dst FROM reach JOIN und ON und.src = reach.r
         |),
         |cc AS (SELECT d AS doc_id, min(r) AS cluster_id FROM reach GROUP BY d),
         |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY 1),
         |jn AS (
         |  SELECT dd.doc_id, coalesce(cc.cluster_id, dd.doc_id) AS cluster_id
         |  FROM documents dd LEFT JOIN cc ON cc.doc_id = dd.doc_id
         |),
         |j2 AS (
         |  SELECT jn.doc_id, jn.cluster_id,
         |    coalesce(sz.cluster_size, 1) AS cluster_size
         |  FROM jn LEFT JOIN sz ON sz.cluster_id = jn.cluster_id
         |)
         |SELECT doc_id, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size
         |FROM j2
         |WHERE CAST(concat('0x',
         |    substr(md5(concat('dw1:', CAST(doc_id AS VARCHAR))), 1, 4)) AS BIGINT)
         |  < floor(32768.0 / cluster_size)""".stripMargin)),
    Query("q_dedup_exact", qDedupExact, Some(
      """SELECT md5(text) AS text_md5, min(doc_id) AS canonical_id,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin)),
    Query("q_text_stats", qTextStats, Some(
      s"""WITH t AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS toks,
         |    len(string_split(text, ' ')) AS n_tokens,
         |    len(list_distinct(string_split(text, ' '))) AS n_distinct
         |  FROM documents
         |), u AS (
         |  SELECT doc_id, n_tokens, n_distinct,
         |    (length(text) - (n_tokens - 1)) / n_tokens AS mean_token_len,
         |    len(list_filter(toks, x -> list_contains(
         |      ['the','a','of','to','in','and','is','on','for','with'], x))) / n_tokens
         |      AS stopword_ratio,
         |    n_distinct / n_tokens AS distinct_ratio,
         |    least(n_tokens / 50.0, 1.0) AS len_score
         |  FROM t
         |)
         |SELECT doc_id, n_tokens, n_distinct,
         |  ${r4("mean_token_len")} AS mean_token_len,
         |  ${r4("stopword_ratio")} AS stopword_ratio,
         |  ${r4("distinct_ratio")} AS distinct_ratio,
         |  ${r4("0.4 * len_score + 0.4 * distinct_ratio + 0.2 * (1.0 - abs(stopword_ratio - 0.1))")}
         |    AS quality_score
         |FROM u""".stripMargin)),
    Query("q_token_count", qTokenCount, Some(
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_ws_tokens,
        |  len(list_filter(string_split(text, ' '), t -> regexp_matches(t, '^[a-z]+$')))
        |    AS n_alpha_tokens,
        |  CAST(list_reduce(list_transform(string_split(text, ' '),
        |    t -> CAST((length(t) + 3) // 4 AS BIGINT)), (a, b) -> a + b) AS BIGINT)
        |    AS n_bpe_est
        |FROM documents""".stripMargin)),
    Query("q_lang_id", qLangId, Some(
      s"""WITH t AS (
         |  SELECT doc_id, lang AS lang_label,
         |    len(list_filter(string_split(text, ' '), x -> list_contains(
         |      ['the','a','of','to','in','and','is','on','for','with'], x)))
         |      / len(string_split(text, ' ')) AS ratio
         |  FROM documents
         |)
         |SELECT doc_id, lang_label, ${r4("ratio")} AS en_stopword_ratio,
         |  CASE WHEN ratio >= 0.10 THEN 'en'
         |       WHEN ratio >= 0.05 THEN 'mixed'
         |       ELSE 'other' END AS lang_pred
         |FROM t""".stripMargin)),
    Query("q_fingerprint", qFingerprint, Some(
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
         |SELECT doc_id,
         |  len(toks) AS n_tokens,
         |  CAST(list_reduce(
         |    list_transform(range(1, len(toks) + 1),
         |      i -> (${oHash60("toks[i]")} % 1000000007) * ((i % 97) + 1)),
         |    (a, b) -> (a + b) % 1000000007) % 1000000007 AS BIGINT) AS fingerprint
         |FROM t""".stripMargin)),
    // stop-shingle removal mirror of Dedup.jaccardPairs: shingles with
    // df > 100 are dropped BEFORE sizes and intersections, so both engines
    // compute Jaccard over the same capped sets
    Query("q_jaccard_pairs", qJaccardPairs, Some(
      s"""WITH $oShingleIdx,
         |$oCappedIdx
         |SELECT doc_a, doc_b, ${r4("i / (sa.sz + sb.sz - i)")} AS jaccard
         |FROM cinter JOIN csz sa ON sa.doc_id = doc_a
         |            JOIN csz sb ON sb.doc_id = doc_b
         |WHERE i / (sa.sz + sb.sz - i) >= 0.7""".stripMargin)),
    // mirrors Dedup.containmentPairs: the same capped index/intersection,
    // each unordered pair fanned to its two directions, |A∩B|/|A| per side
    Query("q_containment", qContainment, Some(
      s"""WITH $oShingleIdx,
         |$oCappedIdx,
         |j AS (
         |  SELECT doc_a, doc_b, i, sa.sz AS sza, sb.sz AS szb
         |  FROM cinter JOIN csz sa ON sa.doc_id = doc_a
         |              JOIN csz sb ON sb.doc_id = doc_b
         |),
         |d AS (
         |  SELECT doc_a AS contained_id, doc_b AS container_id, i / sza AS craw
         |  FROM j
         |  UNION ALL
         |  SELECT doc_b AS contained_id, doc_a AS container_id, i / szb AS craw
         |  FROM j
         |)
         |SELECT contained_id, container_id, ${r4("craw")} AS containment
         |FROM d WHERE craw >= $ContainTheta""".stripMargin)),
    Query("q_minhash_lsh", qMinhashLsh, Some(
      s"""WITH $oShingleIdx,
         |$oMinhash,
         |${oJaccard(0.7)}
         |SELECT c.doc_a, c.doc_b, j.jaccard
         |FROM cand c JOIN jpairs j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b""".stripMargin)),
    // recall audit: exact integer banding (b20 = 20*|∩| // |∪|) over the
    // df-capped truth pairs, LSH candidates from the SAME signature
    // machinery, expected-recall literals computed once in Scala
    // (Dedup.lshExpectedRecall) and inlined into both engines
    Query("q_minhash_recall", qMinhashRecall, Some {
      val expCase = graft.operators.Dedup.lshExpectedRecall(5)
        .map { case (b, p) => s"WHEN $b THEN $p" }.mkString(" ")
      s"""WITH $oShingleIdx,
         |$oCappedIdx,
         |$oMinhash,
         |truth AS (
         |  SELECT cinter.doc_a, cinter.doc_b,
         |    (20 * i) // (sa.sz + sb.sz - i) AS b20
         |  FROM cinter JOIN csz sa ON sa.doc_id = cinter.doc_a
         |              JOIN csz sb ON sb.doc_id = cinter.doc_b
         |  WHERE (20 * i) // (sa.sz + sb.sz - i) >= 5
         |),
         |per AS (
         |  SELECT b20, CAST(count(*) AS BIGINT) AS n_true,
         |    CAST(count(c.doc_a) AS BIGINT) AS n_caught
         |  FROM truth t LEFT JOIN cand c
         |    ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
         |  GROUP BY b20
         |)
         |SELECT b20, ${r4("b20 / 20.0")} AS j_lo, n_true, n_caught,
         |  ${r4("CAST(n_caught AS DOUBLE) / n_true")} AS recall,
         |  CASE b20 $expCase END AS expected_recall
         |FROM per""".stripMargin
    }),
    // cross-set candidates → exact Jaccard ≥ tau → best eval match per
    // training doc by (4dp jaccard desc, eval id) — mirrors
    // Dedup.fuzzyDecontaminate's window exactly
    Query("q_decontaminate_fuzzy", qDecontaminateFuzzy, Some(fuzzyDecontamOracleSql)),
    Query("q_simhash", qSimhash, Some(simhashOracleSql)),
    Query("q_simhash_mp", qSimhashMp, Some(simhashOracleSql)),
    // same simhash signatures → all-pairs Hamming graph (the oracle may
    // brute-force what the engine bands) → recursive components (the
    // q_dedup_corpus reach idiom) → one row per class of >= 2 members
    Query("q_simhash_classes", qSimhashClasses, Some(
      s"""WITH RECURSIVE $oSimhashSig,
        |prs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 10
        |),
        |und AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM prs
        |  UNION ALL SELECT doc_b, doc_a FROM prs
        |),
        |reach AS (
        |  SELECT DISTINCT src AS d, src AS r FROM und
        |  UNION
        |  SELECT reach.d, und.dst FROM reach JOIN und ON und.src = reach.r
        |),
        |cc AS (SELECT d AS doc_id, min(r) AS class_id FROM reach GROUP BY d)
        |SELECT class_id, CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(count(DISTINCT dd.source) AS BIGINT) AS n_sources
        |FROM cc JOIN documents dd USING (doc_id)
        |GROUP BY class_id""".stripMargin)),
  )
}
