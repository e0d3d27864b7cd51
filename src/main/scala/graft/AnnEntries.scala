package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.EntryMath._
import graft.operators.{Drift, Similarity, TextAnalysis}
import graft.sources.Tables

/** Embedding / ANN query entries: cosine
  * top-k, IVF / PQ / IVFADC search, SRP-LSH embedding dedup, PCA, drift,
  * quantization — each with its DuckDB oracle. Shared portability rules in
  * [[EntryMath]]. */
private[graft] object AnnEntries {

  private def qCosineTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineTopK(Tables.embeddings(s, dir), 10, 5)

  /** k-NN majority-vote label prediction (50 probes, k=10). */
  private def qKnnClassify(s: SparkSession, dir: String): DataFrame =
    Similarity.knnClassify(Tables.embeddings(s, dir), 50, 10)

  private def qCosineIvf(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfSearch(Tables.embeddings(s, dir), 8, 10, 3)

  /** Multi-probe variant: nprobe=2 — the recall knob of IVF search. */
  private def qCosineIvfProbe(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfSearchMultiProbe(Tables.embeddings(s, dir), 8, 10, 3, nprobe = 2)

  /** Incremental index maintenance gate: the persisted index is built in
    * TWO steps — saved with the even vec_ids only, the odd half appended
    * later against the SAME saved centroids — then searched. Assignment
    * is per-vector deterministic given the centroids, so the grown index
    * must search hash-identically to [[qCosineIvf]]'s single-shot plan
    * (it reuses that oracle verbatim). */
  private def qIvfAppend(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val cent = Similarity.ivfTrain(emb, 8)
    val idx = SessionScoped.scratchDir("graft_ivf_append")
    Similarity.saveIvfIndexWith(
      emb.filter(pmod(col("vec_id"), lit(2)) === 0), cent, idx)
    Similarity.appendToIvfIndex(s,
      emb.filter(pmod(col("vec_id"), lit(2)) === 1), idx)
    Similarity.ivfSearchIndexed(s, emb, idx, 10, 3)
  }

  /** ANN quality metric: recall@5 of the nprobe=2 IVF search vs the exact
    * brute-force top-5 on the same 10 queries. */
  private def qIvfRecall(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfRecall(Tables.embeddings(s, dir), 8, 10, 5, nprobe = 2)

  /** Semantic-cluster summary over the trained IVF assignment: per-cluster
    * membership count, mean and min cosine-to-centroid — the cluster-size /
    * cohesion view used to pick C and spot skewed clusters before
    * partitioning a corpus by centroid_id. The mean is exact integer math
    * over the 4dp scores (sum of score·10⁴ as int64), so it is
    * order-independent across partitions. */
  private def qEmbedClusters(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfAssign(emb, Similarity.ivfTrain(emb, 8, 2))
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(floor(col("cscore") * 10000 + lit(0.5)).cast("long")).as("s4"),
        min(col("cscore")).as("min_cos"))
      .select(col("centroid_id"), col("n_members"),
        r(col("s4").cast("double") / lit(10000.0) / col("n_members")).as("mean_cos"),
        col("min_cos"))
  }

  /** Power-iteration round count shared by q_embed_pca and its unrolled
    * oracle (fixed rounds, no convergence exit — both sides identical by
    * construction). */
  private val PcaRounds = 6

  /** Top principal direction of the embedding cloud
    * ([[Similarity.topDirection]]): quantized power iteration, loadings
    * + Rayleigh eigenvalue estimate per dimension. */
  private def qEmbedPca(s: SparkSession, dir: String): DataFrame =
    Similarity.topDirection(Tables.embeddings(s, dir), PcaRounds)

  /** Gate-friendly projection: the int8 vector rides as a CSV string (the
    * driver's hash compare is scalar-typed; the library API keeps the
    * typed array). */
  private def qEmbedQuantize(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(Tables.embeddings(s, dir))
      .select(col("vec_id"), col("scale"),
        concat_ws(",", col("qvec")).as("qvec_csv"))

  private def qCosineQ8(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineTopKQ8(Tables.embeddings(s, dir), 10, 5)

  /** SRP-LSH blocked near-dup pairs (the keyed-shuffle replacement for the
    * all-pairs cross join, which survives only as a spec baseline). */
  private def qDedupEmbedLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.dedupPairsLsh(Tables.embeddings(s, dir))

  /** Multi-probe variant ([[Similarity.dedupPairsLshMp]]): Hamming-≤1
    * bucket probing holds the same design recall with ~5× fewer planes
    * at wide operating points — the cheap-coding end of the LSH
    * trade-off surface. */
  private def qDedupEmbedLshMp(s: SparkSession, dir: String): DataFrame =
    Similarity.dedupPairsLshMp(Tables.embeddings(s, dir))

  /** Scale-path variant: same verify expression, candidates blocked to the
    * probe's IVF cluster. Cluster count SCALES WITH THE CORPUS
    * ([[Similarity.clustersFor]]): a fixed k makes Σ|c|² quadratic in N —
    * caught live by the r8 scale-trend bench (2.2× per-SF at 3× data) and
    * linear again once k grows with N. At every verify SF the formula
    * yields 8, matching the oracle's literal. */
  private def qDedupEmbedIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.dedupPairsIvf(emb, 0.4, Similarity.clustersFor(emb.count()))
  }

  /** SemDeDup ([[Similarity.semDedup]], Abbas et al. 2023): within-cluster
    * semantic near-dup classes, keeping each class's member FARTHEST from
    * its cluster centroid (the paper's diversity-preserving choice).
    * Adaptive cluster count, as above. */
  private def qSemDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.semDedup(emb, 0.4, Similarity.clustersFor(emb.count()))
  }

  /** Multi-assignment (r=2) variant — closes q_dedup_embed_ivf's
    * cross-cluster blind spot; recall deltas vs the all-pairs baseline are
    * measured in SCALE.md. Adaptive cluster count, as above. */
  private def qDedupEmbedIvf2(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.dedupPairsIvfMulti(emb, 0.4,
      Similarity.clustersFor(emb.count()), r = 2)
  }

  /** Batch-vs-corpus incremental EMBEDDING dedup (the vector sibling of
    * q_dedup_incremental): every 5th vector plays the incoming batch,
    * screened against the standing corpus and smaller-id batch vectors
    * via cross-set SRP band joins — the corpus side is never
    * self-joined, and the MULTI-PROBE layout (the default since r12)
    * codes with ~5× fewer planes at wide widths while the Hamming-≤1
    * probe fan-out lands on the delta-sized batch side only.
    * streaming.StreamEmbedDedup drives the same step per micro-batch
    * with bit-exact parity (StreamDedupSpec). */
  private def qDedupEmbedIncr(s: SparkSession, dir: String): DataFrame =
    Similarity.incrementalEmbed(Tables.embeddings(s, dir),
      pmod(col("vec_id"), lit(5)) === 0, Similarity.LshTau)

  /** Hybrid retrieval: fuse vector similarity with a document-quality
    * prior — rank by 0.7·cosine + 0.3·quality (both 4dp-rounded before the
    * blend so the fusion is float-stable). The quality prior is a narrow
    * (id, score) relation joined to the corpus by id (one keyed shuffle);
    * the query side stays broadcast exactly like [[Similarity.cosineTopK]].
    * The standard RAG-retrieval shape: ANN candidates re-ranked by a
    * metadata prior. */
  private def qHybridSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val quality = TextAnalysis.stats(Tables.documents(s, dir))
      .select(col("doc_id"), r(col("quality_score")).as("quality_score"))
    val corpus = emb.join(quality, col("vec_id") === col("doc_id"))
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    corpus.join(broadcast(probes), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        r(Similarity.cosine(col("qe"), col("embedding"))).as("cos"),
        col("quality_score"))
      .withColumn("hybrid",
        r(lit(0.7) * col("cos") + lit(0.3) * col("quality_score")))
      .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("hybrid").desc, col("doc_id"))))
      .filter(col("rk") <= 10)
  }

  /** Lloyd-trained IVF assignment oracle (mirrors Similarity.ivfTrain +
    * ivfAssign): seed = first nCent vectors; each round re-assigns by
    * 4dp-rounded cosine (tiebreak lowest centroid id) and recomputes the
    * elementwise mean in exact integer micro-units — the same
    * order-independent arithmetic the Spark side uses, so centroids are
    * bit-identical. Produces a CTE chain ending in
    * `assign(vec_id, centroid_id, embedding)`. */
  private def oIvfAssign(nCent: Int, iters: Int, dim: Int = 64): String = {
    def assignCte(name: String, centTable: String) =
      s"""$name AS (
         |  SELECT vec_id, centroid_id, embedding FROM (
         |    SELECT e.vec_id, c.centroid_id, e.embedding,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${r4(oCos("e.embedding", "c.ce"))} DESC, c.centroid_id) AS arn
         |    FROM embeddings e, $centTable c
         |  ) WHERE arn = 1
         |)""".stripMargin
    val seed =
      s"""cent0 AS (
         |  SELECT vec_id AS centroid_id, embedding AS ce
         |  FROM embeddings WHERE vec_id < $nCent
         |)""".stripMargin
    val steps = (1 to iters).map { t =>
      Seq(
        assignCte(s"a$t", s"cent${t - 1}"),
        s"""m$t AS (
           |  SELECT centroid_id, r.i AS i,
           |    CAST(sum(CAST(floor(CAST(embedding[r.i] AS DOUBLE) * 1000000 + 0.5)
           |      AS BIGINT)) AS BIGINT) AS s,
           |    count(*) AS n
           |  FROM a$t, range(1, ${dim + 1}) r(i) GROUP BY 1, 2
           |)""".stripMargin,
        s"""cent$t AS (
           |  SELECT centroid_id,
           |    list(CAST(CAST(s AS DOUBLE) / (n * 1000000.0) AS FLOAT) ORDER BY i) AS ce
           |  FROM m$t GROUP BY centroid_id
           |)""".stripMargin).mkString(",\n")
    }
    (Seq(seed) ++ steps :+ assignCte("assign", s"cent$iters")).mkString(",\n")
  }

  /** PQ parameters shared by q_cosine_pq's query and oracle — the
    * shipped operating point from [[operators.ProductQuantizer]]'s
    * sweep-chosen defaults (16 subspaces × 4 dims, 64-entry codebooks =
    * 96-bit codes, 2 Lloyd iterations; full frontier table in
    * SCALE.md). The oracle CTE chain is parameterized on all four, so
    * the mirror scales mechanically with the chosen point. */
  private val PqM = operators.ProductQuantizer.DefaultSubspaces
  private val PqSub = operators.ProductQuantizer.DefaultSubDim
  private val PqK = operators.ProductQuantizer.DefaultK
  private val PqIters = 2

  private def qCosinePq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val cb = operators.ProductQuantizer.train(emb, PqM, PqSub, PqK, PqIters)
    operators.ProductQuantizer.searchAdc(emb, cb, nQueries = 10, topK = 5,
      subspaces = PqM, subDim = PqSub)
  }

  /** PQ/ADC oracle (mirrors ProductQuantizer exactly — see its scaladoc
    * for the determinism contract): full-vector L2 normalization with an
    * IEEE float cast back, per-subspace L2 Lloyd with integer-micro
    * means, assignment by 4dp-rounded ‖c‖²−2·v·c with lowest-code
    * tiebreak, and an ADC sum of integer-micro subspace dots. */
  private def oPqSql(nQ: Int, topK: Int): String = {
    val d2 = (v: String, c: String) =>
      r4(s"(${oDot(c, c)}) - 2 * (${oDot(v, c)})")
    def assignCte(name: String, m: Int, centTable: String) =
      s"""$name AS (
         |  SELECT vec_id, code, sv FROM (
         |    SELECT s.vec_id, c.code, s.sv,
         |      row_number() OVER (PARTITION BY s.vec_id
         |        ORDER BY ${d2("s.sv", "c.ce")} ASC, c.code) AS arn
         |    FROM sub$m s, $centTable c
         |  ) WHERE arn = 1
         |)""".stripMargin
    val norm =
      s"""norm AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(CAST(x AS DOUBLE) / sqrt(${oDot("embedding", "embedding")}) AS FLOAT)) AS e
         |  FROM embeddings
         |)""".stripMargin
    val perSubspace = (0 until PqM).map { m =>
      val lo = m * PqSub + 1; val hi = (m + 1) * PqSub
      val seed =
        s"""sub$m AS (SELECT vec_id, e[$lo:$hi] AS sv FROM norm),
           |cent${m}_0 AS (
           |  SELECT vec_id AS code, sv AS ce FROM sub$m WHERE vec_id < $PqK
           |)""".stripMargin
      val steps = (1 to PqIters).map { t =>
        Seq(
          assignCte(s"a${m}_$t", m, s"cent${m}_${t - 1}"),
          s"""mm${m}_$t AS (
             |  SELECT code, r.i AS i,
             |    CAST(sum(CAST(floor(CAST(sv[r.i] AS DOUBLE) * 1000000 + 0.5)
             |      AS BIGINT)) AS BIGINT) AS s2, count(*) AS n
             |  FROM a${m}_$t, range(1, ${PqSub + 1}) r(i) GROUP BY 1, 2
             |)""".stripMargin,
          s"""cent${m}_$t AS (
             |  SELECT code,
             |    list(CAST(CAST(s2 AS DOUBLE) / (n * 1000000.0) AS FLOAT) ORDER BY i) AS ce
             |  FROM mm${m}_$t GROUP BY code
             |)""".stripMargin).mkString(",\n")
      }
      (Seq(seed) ++ steps :+ assignCte(s"cfin$m", m, s"cent${m}_$PqIters"))
        .mkString(",\n")
    }
    val codes = (0 until PqM)
      .map(m => s"SELECT vec_id, $m AS m, code FROM cfin$m")
      .mkString("codes AS (\n", "\n  UNION ALL ", "\n)")
    val codebook = (0 until PqM)
      .map(m => s"SELECT $m AS m, code, ce FROM cent${m}_$PqIters")
      .mkString("codebook AS (\n", "\n  UNION ALL ", "\n)")
    val qsubs = (0 until PqM)
      .map(m => s"SELECT vec_id AS query_id, $m AS m, sv AS qe FROM sub$m WHERE vec_id < $nQ")
      .mkString("qsubs AS (\n", "\n  UNION ALL ", "\n)")
    s"""WITH $norm,
       |${perSubspace.mkString(",\n")},
       |$codes,
       |$codebook,
       |$qsubs,
       |lut AS (
       |  SELECT q.query_id, q.m, c.code,
       |    CAST(floor((${oDot("q.qe", "c.ce")}) * 1000000 + 0.5) AS BIGINT) AS pd
       |  FROM qsubs q JOIN codebook c ON q.m = c.m
       |),
       |scored AS (
       |  SELECT l.query_id, k.vec_id AS neighbor_id,
       |    ${r4("CAST(CAST(sum(pd) AS BIGINT) AS DOUBLE) / 1000000.0")} AS score_pq
       |  FROM codes k JOIN lut l ON k.m = l.m AND k.code = l.code
       |  WHERE k.vec_id != l.query_id
       |  GROUP BY 1, 2
       |)
       |SELECT query_id, neighbor_id, score_pq, rk FROM (
       |  SELECT query_id, neighbor_id, score_pq,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_pq DESC, neighbor_id) AS INTEGER) AS rk
       |  FROM scored
       |) WHERE rk <= $topK""".stripMargin
  }

  /** Embedding-space drift monitor: both snapshot halves IVF-assigned to
    * ONE shared Lloyd codebook, then the per-cluster population shares
    * compared through the SAME PSI/JS machinery as the scalar drift
    * monitor (bin = centroid id). A corpus/model shift shows up as
    * probability mass moving between semantic clusters long before any
    * scalar column moves — the embedding analog of q_drift. */
  private def qEmbedDrift(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val cent = Similarity.ivfTrain(emb, 8, 2)
    val asg = Similarity.ivfAssign(emb, cent)
      .select(col("vec_id"), col("centroid_id"))
    Drift.drift(
      asg.filter(pmod(col("vec_id"), lit(2)) === 0),
      asg.filter(pmod(col("vec_id"), lit(2)) === 1),
      "centroid_id", binWidth = 1.0, maxBin = 8)
  }

  /** Shared by q_cosine_ivf AND q_ivf_append: an index grown by appends
    * against fixed centroids must search exactly like one built in a
    * single save. */
  private def ivfSearchOracleSql: String =
    s"""WITH ${oIvfAssign(8, 2)}, q AS (
       |  SELECT vec_id AS query_id, embedding AS qe, centroid_id AS qc
       |  FROM assign WHERE vec_id < 10
       |), s AS (
       |  SELECT q.query_id, a.vec_id AS neighbor_id,
       |    ${r4(oCos("q.qe", "a.embedding"))} AS score
       |  FROM assign a, q
       |  WHERE a.centroid_id = q.qc AND a.vec_id != q.query_id
       |), rk AS (
       |  SELECT query_id, neighbor_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id) AS INTEGER) AS rk
       |  FROM s
       |)
       |SELECT query_id, neighbor_id, score, rk FROM rk WHERE rk <= 3""".stripMargin

  /** IVFADC parameters shared by q_cosine_ivfpq's query and oracle. */
  private val IvfPqC = 4
  private val IvfPqIvfIters = 2
  private val IvfPqNprobe = operators.ProductQuantizer.DefaultNprobe

  private def qCosineIvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val (cent, cbs, codes) = operators.ProductQuantizer.ivfPqIndex(emb,
      nClusters = IvfPqC, ivfIters = IvfPqIvfIters,
      subspaces = PqM, subDim = PqSub, k = PqK, pqIters = PqIters)
    operators.ProductQuantizer.searchIvfPq(emb, cent, cbs, codes,
      nQueries = 10, topK = 5, subspaces = PqM, subDim = PqSub,
      nprobe = IvfPqNprobe)
  }

  /** ADC shortlist size for q_cosine_ivfpq_rerank: 8× topK — the
    * operating point chosen from the measured nprobe × shortlist sweep
    * (SCALE.md, "r16: IVFADC rerank operating point"): at the shipped
    * nprobe=2 it captures 97% of the probe ceiling (recall@5 0.724 vs
    * 0.744 with an unbounded shortlist) at half the rerank broadcast of
    * 16×; past 8× the binding constraint is the PROBE — recall moves
    * with nprobe (3 probes → 0.912), not with more shortlist. */
  private val IvfPqRerankShortlist = 40

  /** IVFADC + EXACT RE-RANK ([[operators.ProductQuantizer
    * .searchIvfPqRerank]]): stage 1 is the same probe-scoped ADC scan as
    * q_cosine_ivfpq but keeps the top-40 shortlist; stage 2 re-scores
    * those candidates with the exact float cosine and emits the exact
    * top-5 — the serving shape for a curation pipeline that ACTS on
    * matches (PqSpec pins the recall floor this stage buys). */
  private def qCosineIvfPqRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val (cent, cbs, codes) = operators.ProductQuantizer.ivfPqIndex(emb,
      nClusters = IvfPqC, ivfIters = IvfPqIvfIters,
      subspaces = PqM, subDim = PqSub, k = PqK, pqIters = PqIters)
    operators.ProductQuantizer.searchIvfPqRerank(emb, cent, cbs, codes,
      nQueries = 10, topK = 5, subspaces = PqM, subDim = PqSub,
      nprobe = IvfPqNprobe, shortlist = IvfPqRerankShortlist)
  }

  /** The TRAIN-ON-SAMPLE IVFADC ([[operators.ProductQuantizer
    * .ivfPqIndexSampled]]): Lloyd runs on the deterministic evens-only
    * half, assignment and encoding cover every vector — the 100 TB
    * shape, where training cost is O(sample) and the corpus pays only
    * the two broadcast assigns. Hash-gated end to end against the
    * sampled-training DuckDB mirror (same generator as q_cosine_ivfpq,
    * sampledTrain = true). */
  private def qCosineIvfPqSampled(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val (cent, cbs, codes) = operators.ProductQuantizer.ivfPqIndexSampled(emb,
      nClusters = IvfPqC, ivfIters = IvfPqIvfIters,
      subspaces = PqM, subDim = PqSub, k = PqK, pqIters = PqIters)
    operators.ProductQuantizer.searchIvfPq(emb, cent, cbs, codes,
      nQueries = 10, topK = 5, subspaces = PqM, subDim = PqSub,
      nprobe = IvfPqNprobe)
  }

  /** IVFADC oracle (mirrors ProductQuantizer.ivfPqIndex + searchIvfPq):
    * cosine IVF Lloyd over the normalized vectors, residuals via exact
    * double-subtract-float-cast, L2 PQ codebooks over the residuals, and
    * the probe-scoped ADC score dot(q,c) + Σ_m dot(q_m, cw) in integer
    * micros. Every sub-contract reuses the idiom already proven by
    * q_cosine_ivf and q_cosine_pq. */
  private def oIvfPqSql(nQ: Int, topK: Int,
      sampledTrain: Boolean = false, rerank: Option[Int] = None): String = {
    val dim = 64
    val rerankTail = oIvfPqTail(nQ, topK, rerank)
    // sampled training (ivfPqIndexSampled mirror): Lloyd inputs come
    // from the evens-only half, seeds widen to < 2C / 2K so the sample
    // still yields C centroids and K codes; assignment/encode stay full
    val trainSrc = if (sampledTrain) "tnorm" else "norm"
    // --- cosine IVF over norm (oIvfAssign pattern, source = norm/e) ---
    def iAssign(name: String, centTable: String, src: String = "norm") =
      s"""$name AS (
         |  SELECT vec_id, centroid_id, e FROM (
         |    SELECT n.vec_id, c.centroid_id, n.e,
         |      row_number() OVER (PARTITION BY n.vec_id
         |        ORDER BY ${r4(oCos("n.e", "c.ce"))} DESC, c.centroid_id) AS arn
         |    FROM $src n, $centTable c
         |  ) WHERE arn = 1
         |)""".stripMargin
    val ivfSeed =
      s"""icent0 AS (
         |  SELECT vec_id AS centroid_id, e AS ce FROM $trainSrc
         |  WHERE vec_id < ${if (sampledTrain) 2 * IvfPqC else IvfPqC}
         |)""".stripMargin
    val ivfSteps = (1 to IvfPqIvfIters).map { t =>
      Seq(
        iAssign(s"ia$t", s"icent${t - 1}", trainSrc),
        s"""im$t AS (
           |  SELECT centroid_id, r.i AS i,
           |    CAST(sum(CAST(floor(CAST(e[r.i] AS DOUBLE) * 1000000 + 0.5)
           |      AS BIGINT)) AS BIGINT) AS s2, count(*) AS n
           |  FROM ia$t, range(1, ${dim + 1}) r(i) GROUP BY 1, 2
           |)""".stripMargin,
        s"""icent$t AS (
           |  SELECT centroid_id,
           |    list(CAST(CAST(s2 AS DOUBLE) / (n * 1000000.0) AS FLOAT) ORDER BY i) AS ce
           |  FROM im$t GROUP BY centroid_id
           |)""".stripMargin).mkString(",\n")
    }
    val centF = s"icent$IvfPqIvfIters"
    val res =
      s"""res AS (
         |  SELECT a.vec_id, a.centroid_id,
         |    list_transform(range(1, ${dim + 1}),
         |      i -> CAST(CAST(a.e[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE) AS FLOAT)) AS rv
         |  FROM ${iAssignedName} a JOIN $centF c ON a.centroid_id = c.centroid_id
         |)""".stripMargin
    // --- residual PQ (oPqSql pattern, source = res/rv) ---
    val d2 = (v: String, c: String) =>
      r4(s"(${oDot(c, c)}) - 2 * (${oDot(v, c)})")
    def pAssign(name: String, m: Int, centTable: String,
        srcSuffix: String = "") =
      s"""$name AS (
         |  SELECT vec_id, code, sv FROM (
         |    SELECT s.vec_id, c.code, s.sv,
         |      row_number() OVER (PARTITION BY s.vec_id
         |        ORDER BY ${d2("s.sv", "c.ce")} ASC, c.code) AS arn
         |    FROM ${srcSuffix}rsub$m s, $centTable c
         |  ) WHERE arn = 1
         |)""".stripMargin
    val pqTrainPfx = if (sampledTrain) "t" else ""
    val perSubspace = (0 until PqM).map { m =>
      val lo = m * PqSub + 1; val hi = (m + 1) * PqSub
      val trainCte = if (sampledTrain)
        s"""trsub$m AS (SELECT vec_id, sv FROM rsub$m WHERE vec_id % 2 = 0),
           |""".stripMargin
      else ""
      val seed =
        s"""rsub$m AS (SELECT vec_id, rv[$lo:$hi] AS sv FROM res),
           |${trainCte}rcent${m}_0 AS (
           |  SELECT vec_id AS code, sv AS ce FROM ${pqTrainPfx}rsub$m
           |  WHERE vec_id < ${if (sampledTrain) 2 * PqK else PqK}
           |)""".stripMargin
      val steps = (1 to PqIters).map { t =>
        Seq(
          pAssign(s"ra${m}_$t", m, s"rcent${m}_${t - 1}", pqTrainPfx),
          s"""rmm${m}_$t AS (
             |  SELECT code, r.i AS i,
             |    CAST(sum(CAST(floor(CAST(sv[r.i] AS DOUBLE) * 1000000 + 0.5)
             |      AS BIGINT)) AS BIGINT) AS s2, count(*) AS n
             |  FROM ra${m}_$t, range(1, ${PqSub + 1}) r(i) GROUP BY 1, 2
             |)""".stripMargin,
          s"""rcent${m}_$t AS (
             |  SELECT code,
             |    list(CAST(CAST(s2 AS DOUBLE) / (n * 1000000.0) AS FLOAT) ORDER BY i) AS ce
             |  FROM rmm${m}_$t GROUP BY code
             |)""".stripMargin).mkString(",\n")
      }
      (Seq(seed) ++ steps :+ pAssign(s"rfin$m", m, s"rcent${m}_$PqIters"))
        .mkString(",\n")
    }
    val codes = (0 until PqM)
      .map(m => s"SELECT vec_id, $m AS m, code FROM rfin$m")
      .mkString("pcodes AS (\n", "\n  UNION ALL ", "\n)")
    val codebook = (0 until PqM)
      .map(m => s"SELECT $m AS m, code, ce FROM rcent${m}_$PqIters")
      .mkString("pcodebook AS (\n", "\n  UNION ALL ", "\n)")
    val qsubs = (0 until PqM)
      .map { m =>
        val lo = m * PqSub + 1; val hi = (m + 1) * PqSub
        s"SELECT vec_id AS query_id, $m AS m, e[$lo:$hi] AS qe FROM norm WHERE vec_id < $nQ"
      }
      .mkString("qsubs AS (\n", "\n  UNION ALL ", "\n)")
    val tnormCte = if (sampledTrain)
      "tnorm AS (SELECT vec_id, e FROM norm WHERE vec_id % 2 = 0),\n" else ""
    s"""WITH norm AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(CAST(x AS DOUBLE) / sqrt(${oDot("embedding", "embedding")}) AS FLOAT)) AS e
       |  FROM embeddings
       |),
       |$tnormCte$ivfSeed,
       |${ivfSteps.mkString(",\n")},
       |${iAssign(iAssignedName, centF)},
       |$res,
       |${perSubspace.mkString(",\n")},
       |$codes,
       |$codebook,
       |vcode AS (
       |  SELECT p.vec_id, p.m, p.code, a.centroid_id
       |  FROM pcodes p JOIN $iAssignedName a ON p.vec_id = a.vec_id
       |),
       |probes AS (
       |  SELECT query_id, centroid_id FROM (
       |    SELECT n.vec_id AS query_id, c.centroid_id,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY ${r4(oCos("n.e", "c.ce"))} DESC, c.centroid_id) AS prn
       |    FROM norm n, $centF c WHERE n.vec_id < $nQ
       |  ) WHERE prn <= $IvfPqNprobe
       |),
       |bt AS (
       |  SELECT p.query_id, p.centroid_id,
       |    CAST(floor((${oDot("n.e", "c.ce")}) * 1000000 + 0.5) AS BIGINT) AS bd
       |  FROM probes p
       |  JOIN norm n ON n.vec_id = p.query_id
       |  JOIN $centF c ON c.centroid_id = p.centroid_id
       |),
       |$qsubs,
       |lut AS (
       |  SELECT q.query_id, q.m, c.code,
       |    CAST(floor((${oDot("q.qe", "c.ce")}) * 1000000 + 0.5) AS BIGINT) AS pd
       |  FROM qsubs q JOIN pcodebook c ON q.m = c.m
       |),
       |scored AS (
       |  SELECT l.query_id, k.vec_id AS neighbor_id, k.centroid_id,
       |    CAST(sum(pd) AS BIGINT) AS rsum
       |  FROM vcode k
       |  JOIN probes p ON p.centroid_id = k.centroid_id
       |  JOIN lut l ON l.query_id = p.query_id AND l.m = k.m AND l.code = k.code
       |  WHERE k.vec_id != p.query_id
       |  GROUP BY 1, 2, 3
       |)$rerankTail""".stripMargin
  }

  /** Final stage of [[oIvfPqSql]]: ADC top-k directly, or (rerank) ADC
    * top-R shortlist → exact-dot re-rank — mirrors
    * ProductQuantizer.searchIvfPqRerank mechanically. */
  private def oIvfPqTail(nQ: Int, topK: Int, rerank: Option[Int]): String = {
    val adcScore = r4("CAST(s.rsum + b.bd AS DOUBLE) / 1000000.0")
    rerank match {
      case None =>
        s"""
           |SELECT query_id, neighbor_id, score_ivfpq, rk FROM (
           |  SELECT s.query_id, s.neighbor_id,
           |    $adcScore AS score_ivfpq,
           |    CAST(row_number() OVER (PARTITION BY s.query_id
           |      ORDER BY $adcScore DESC,
           |        s.neighbor_id) AS INTEGER) AS rk
           |  FROM scored s JOIN bt b
           |    ON b.query_id = s.query_id AND b.centroid_id = s.centroid_id
           |) WHERE rk <= $topK""".stripMargin
      case Some(r) =>
        s""",
           |short AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT s.query_id, s.neighbor_id,
           |      row_number() OVER (PARTITION BY s.query_id
           |        ORDER BY $adcScore DESC, s.neighbor_id) AS srn
           |    FROM scored s JOIN bt b
           |      ON b.query_id = s.query_id AND b.centroid_id = s.centroid_id
           |  ) WHERE srn <= $r
           |)
           |SELECT query_id, neighbor_id, score, rk FROM (
           |  SELECT a.query_id, a.neighbor_id,
           |    ${r4(oDot("qn.e", "nn.e"))} AS score,
           |    CAST(row_number() OVER (PARTITION BY a.query_id
           |      ORDER BY ${r4(oDot("qn.e", "nn.e"))} DESC,
           |        a.neighbor_id) AS INTEGER) AS rk
           |  FROM short a
           |  JOIN norm qn ON qn.vec_id = a.query_id
           |  JOIN norm nn ON nn.vec_id = a.neighbor_id
           |) WHERE rk <= $topK""".stripMargin
    }
  }
  private val iAssignedName = "iassign"

  /** SRP band-row CTE chain shared by the two LSH oracles: the plane
    * matrix is DERIVED in SQL from md5 exactly as Similarity.srpPlanes
    * derives it in Scala (sign = +1 iff the digest's first byte is even
    * — the second hex char of DuckDB's md5() string), so the two engines
    * compute identical planes with no literal matrix to drift. Band
    * width is ADAPTIVE (Similarity.bandsFor — same integer rule in SQL:
    * `min b: 2^b·target ≥ n`) and so is the band COUNT
    * (Similarity.lshBandsFor — mirrored as the literal VALUES table).
    * Plane p belongs to band p∕bb at bit p mod bb, matching srpCoded's
    * consecutive-planes-per-band layout; each dot is the same
    * left-to-right double fold as the engine's ArrayMath.dotF, so every
    * band key is bit-identical. Ends in
    * `bands(vec_id, embedding, band, bkey)`. */
  private def oSrpBandCtes: String =
    oSrpBandCtesWith(Similarity.lshBandsValuesSql,
      Similarity.LshBandBitsMax * Similarity.lshBandsFor(Similarity.LshBandBitsMax))

  private def oSrpBandCtesWith(bandsValues: String, planesMax: Int): String = {
    val dim = Similarity.LshDim
    s"""nn AS (SELECT count(*) AS n FROM embeddings
       |), pr AS (
       |  SELECT coalesce(min(b), ${Similarity.LshBandBitsMax}) AS bb
       |  FROM range(${Similarity.LshBandBits}, ${Similarity.LshBandBitsMax + 1}) t(b), nn
       |  WHERE (CAST(1 AS BIGINT) << b) * ${Similarity.LshTargetBucket} >= n
       |), lt AS (
       |  SELECT v.nb FROM (VALUES $bandsValues) v(b, nb), pr
       |  WHERE v.b = pr.bb
       |), pl AS MATERIALIZED (
       |  SELECT t.p, list_transform(range(0, $dim), d ->
       |    CASE WHEN strpos('02468ace', substr(md5('srp:' ||
       |      CAST(t.p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 2, 1)) > 0
       |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END) AS s
       |  FROM range($planesMax) t(p), pr, lt WHERE t.p < pr.bb * lt.nb
       |), dots AS (
       |  SELECT e.vec_id, pl.p,
       |    CASE WHEN list_reduce(list_transform(range(1, ${dim + 1}),
       |        i -> CAST(e.embedding[i] AS DOUBLE) * pl.s[i]), (x, y) -> x + y) >= 0
       |      THEN 1 ELSE 0 END AS bit
       |  FROM embeddings e, pl
       |), bands AS MATERIALIZED (
       |  SELECT d.vec_id, CAST(d.p // pr.bb AS INT) AS band,
       |    CAST(sum(d.bit << (d.p % pr.bb)) AS INT) AS bkey
       |  FROM dots d, pr GROUP BY d.vec_id, d.p // pr.bb, pr.bb
       |)""".stripMargin
  }

  private def oDedupEmbedLsh: String = {
    val tau = Similarity.LshTau
    s"""WITH ${oSrpBandCtes}, cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
       |), v AS (
       |  SELECT cand.vec_a, cand.vec_b,
       |    ${r4(oCos("ea.embedding", "eb.embedding"))} AS cos
       |  FROM cand JOIN embeddings ea ON ea.vec_id = cand.vec_a
       |            JOIN embeddings eb ON eb.vec_id = cand.vec_b
       |)
       |SELECT vec_a, vec_b, cos FROM v WHERE cos >= $tau""".stripMargin
  }

  /** Multi-probe LSH oracle: same md5-derived planes over the MP band
    * table, probe side expanded to the exact key plus every single-bit
    * flip (Hamming ≤ 1), mirroring dedupPairsLshMp key for key. */
  private def oDedupEmbedLshMp: String = {
    val tau = Similarity.LshTau
    val ctes = oSrpBandCtesWith(Similarity.lshBandsMpValuesSql,
      Similarity.LshBandBitsMax * Similarity.lshBandsMpFor(Similarity.LshBandBitsMax))
    s"""WITH $ctes, probes AS (
       |  SELECT bands.vec_id, bands.band,
       |    CASE WHEN j.j < 0 THEN bands.bkey
       |         ELSE CAST(xor(bands.bkey, (1 << j.j)) AS INT) END AS pkey
       |  FROM bands, pr, range(-1, ${Similarity.LshBandBitsMax}) j(j)
       |  WHERE j.j < pr.bb
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM probes a JOIN bands b
       |    ON a.band = b.band AND a.pkey = b.bkey AND a.vec_id < b.vec_id
       |), v AS (
       |  SELECT cand.vec_a, cand.vec_b,
       |    ${r4(oCos("ea.embedding", "eb.embedding"))} AS cos
       |  FROM cand JOIN embeddings ea ON ea.vec_id = cand.vec_a
       |            JOIN embeddings eb ON eb.vec_id = cand.vec_b
       |)
       |SELECT vec_a, vec_b, cos FROM v WHERE cos >= $tau""".stripMargin
  }

  /** Incremental-embed oracle: the MULTI-PROBE layout ([[Similarity
    * .incrementalEmbed]]'s default — same md5-derived planes over the MP
    * band table, batch side expanded to the exact key plus every
    * single-bit flip), cross-set candidates (batch = vec_id % 5 = 0
    * probes corpus ∪ smaller-id batch), exact-cosine verify, first-wins
    * decisions. */
  private def oDedupEmbedIncr: String = {
    val tau = Similarity.LshTau
    val ctes = oSrpBandCtesWith(Similarity.lshBandsMpValuesSql,
      Similarity.LshBandBitsMax * Similarity.lshBandsMpFor(Similarity.LshBandBitsMax))
    s"""WITH $ctes, c AS (
       |  SELECT vec_id, vec_id % 5 = 0 AS isb FROM embeddings
       |), bandsb AS MATERIALIZED (
       |  SELECT bands.vec_id, c.isb, bands.band, bands.bkey
       |  FROM bands JOIN c ON c.vec_id = bands.vec_id
       |), probes AS (
       |  SELECT bandsb.vec_id, bandsb.band,
       |    CASE WHEN j.j < 0 THEN bandsb.bkey
       |         ELSE CAST(xor(bandsb.bkey, (1 << j.j)) AS INT) END AS pkey
       |  FROM bandsb, pr, range(-1, ${Similarity.LshBandBitsMax}) j(j)
       |  WHERE bandsb.isb AND j.j < pr.bb
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, b.isb AS b_isb
       |  FROM probes a JOIN bandsb b
       |    ON a.band = b.band AND a.pkey = b.bkey AND a.vec_id <> b.vec_id
       |    AND (NOT b.isb OR b.vec_id < a.vec_id)
       |), v AS (
       |  SELECT cand.vec_a, cand.vec_b, cand.b_isb,
       |    ${r4(oCos("ea.embedding", "eb.embedding"))} AS cos
       |  FROM cand JOIN embeddings ea ON ea.vec_id = cand.vec_a
       |            JOIN embeddings eb ON eb.vec_id = cand.vec_b
       |), m AS (SELECT * FROM v WHERE cos >= $tau
       |), per AS (
       |  SELECT vec_a AS vec_id,
       |    min(CASE WHEN NOT b_isb THEN vec_b END) AS corpus_match,
       |    min(CASE WHEN b_isb THEN vec_b END) AS batch_match,
       |    CAST(count(CASE WHEN NOT b_isb THEN 1 END) AS BIGINT) AS nc,
       |    CAST(count(CASE WHEN b_isb THEN 1 END) AS BIGINT) AS nb
       |  FROM m GROUP BY vec_a
       |)
       |SELECT c.vec_id,
       |  CASE WHEN per.corpus_match IS NOT NULL THEN 'dup_of_corpus'
       |       WHEN per.batch_match IS NOT NULL THEN 'dup_in_batch'
       |       ELSE 'kept' END AS status,
       |  coalesce(per.corpus_match, per.batch_match) AS match_id,
       |  coalesce(per.nc, 0) AS n_corpus_matches,
       |  coalesce(per.nb, 0) AS n_batch_matches
       |FROM c LEFT JOIN per ON per.vec_id = c.vec_id
       |WHERE c.isb""".stripMargin
  }

  val entries: Seq[Query] = Seq(
    Query("q_cosine_topk", qCosineTopK, Some(
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10
         |), s AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |    ${r4(oCos("qe", "e.embedding"))} AS score
         |  FROM embeddings e, q WHERE e.vec_id != q.query_id
         |), rk AS (
         |  SELECT query_id, neighbor_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS INTEGER) AS rk
         |  FROM s
         |)
         |SELECT query_id, neighbor_id, score, rk FROM rk WHERE rk <= 5""".stripMargin)),
    // mirrors Similarity.knnClassify: top-10 neighbors per probe by
    // 4dp-rounded cosine, majority vote over neighbor labels (vote-count
    // tiebreak = smallest label)
    Query("q_knn_classify", qKnnClassify, Some(
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 50
         |), s AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |    ${r4(oCos("qe", "e.embedding"))} AS score
         |  FROM embeddings e, q WHERE e.vec_id != q.query_id
         |), rk AS (
         |  SELECT query_id, neighbor_id, score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS rk
         |  FROM s
         |), v AS (
         |  SELECT rk.query_id, e.label, count(*) AS votes
         |  FROM rk JOIN embeddings e ON e.vec_id = rk.neighbor_id
         |  WHERE rk.rk <= 10 GROUP BY 1, 2
         |), p AS (
         |  SELECT query_id, label, votes,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY votes DESC, label) AS vrk
         |  FROM v
         |)
         |SELECT p.query_id, t.label AS true_label, p.label AS pred_label,
         |  p.votes, (p.label = t.label) AS correct
         |FROM p JOIN embeddings t ON t.vec_id = p.query_id
         |WHERE p.vrk = 1""".stripMargin)),
    // same trained centroids/assignment as the IVF family; bottom-frac by
    // cosine-to-own-centroid per cluster
    Query("q_embed_outliers", (s, dir) =>
      Similarity.embedOutliers(Tables.embeddings(s, dir), 8, 2, 0.05), Some(
      s"""WITH ${oIvfAssign(8, 2)}, sc AS (
         |  SELECT a.vec_id, a.centroid_id,
         |    ${r4(oCos("a.embedding", "c.ce"))} AS cscore
         |  FROM assign a JOIN cent2 c ON c.centroid_id = a.centroid_id
         |), rk AS (
         |  SELECT vec_id, centroid_id, cscore,
         |    CAST(row_number() OVER (PARTITION BY centroid_id
         |      ORDER BY cscore, vec_id) AS BIGINT) AS rk,
         |    CAST(count(*) OVER (PARTITION BY centroid_id) AS BIGINT) AS cluster_n
         |  FROM sc
         |)
         |SELECT vec_id, centroid_id, cscore, rk, cluster_n,
         |  rk <= ceil(cluster_n * 0.05) AS is_outlier
         |FROM rk""".stripMargin)),
    Query("q_cosine_ivf", qCosineIvf, Some(ivfSearchOracleSql)),
    // the append-maintained index must search identically to the
    // single-shot one: hash-gated against q_cosine_ivf's oracle unchanged
    Query("q_ivf_append", qIvfAppend, Some(ivfSearchOracleSql)),
    // quantized power iteration unrolled to exactly PcaRounds rounds:
    // per round the float_dot dᵢ 4+2-dp-quantizes into int64 matvec sums
    // (order-free), the norm folds the dim-sized list sequentially, and
    // v re-rounds through FLOAT32 — each step mirrored op-for-op
    Query("q_embed_pca", qEmbedPca, Some {
      val rounds = (1 to PcaRounds).map { i =>
        s"""d$i AS MATERIALIZED (
           |  SELECT e.vec_id,
           |    CAST(floor((${oDot("e.embedding", s"v${i - 1}.v")})
           |      * 1000000 + 0.5) AS BIGINT) AS di6
           |  FROM e, v${i - 1}
           |), s$i AS MATERIALIZED (
           |  SELECT u.pos,
           |    CAST(sum(CAST(floor(CAST(u.x AS DOUBLE) * d.di6 * 100 + 0.5)
           |      AS BIGINT)) AS BIGINT) AS s
           |  FROM u JOIN d$i d USING (vec_id) GROUP BY u.pos
           |), n$i AS (
           |  SELECT sqrt(list_reduce(
           |    list_transform(list(CAST(s AS DOUBLE) ORDER BY pos), z -> z * z),
           |    (a, b) -> a + b)) AS nrm
           |  FROM s$i
           |), v$i AS (
           |  SELECT list(CAST(CAST(s.s AS DOUBLE) / n$i.nrm AS FLOAT)
           |    ORDER BY s.pos) AS v
           |  FROM s$i s, n$i
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
         |dim AS (SELECT min(len(embedding)) AS d FROM e),
         |u AS MATERIALIZED (
         |  SELECT vec_id, unnest(embedding) AS x,
         |    generate_subscripts(embedding, 1) AS pos
         |  FROM e
         |),
         |v0 AS (
         |  SELECT list_transform(range(1, d + 1),
         |    i -> CAST(1.0 / sqrt(CAST(d AS DOUBLE)) AS FLOAT)) AS v
         |  FROM dim
         |),
         |$rounds
         |SELECT CAST(s.pos AS BIGINT) AS pos,
         |  ${r4(s"CAST(v$PcaRounds.v[s.pos] AS DOUBLE)")} AS loading,
         |  ${r4(s"n$PcaRounds.nrm / 100000000.0")} AS lambda
         |FROM s$PcaRounds s, v$PcaRounds, n$PcaRounds""".stripMargin
    }),
    Query("q_embed_clusters", qEmbedClusters, Some(
      s"""WITH ${oIvfAssign(8, 2)}, sc AS (
         |  SELECT a.centroid_id,
         |    ${r4(oCos("a.embedding", "c.ce"))} AS cscore
         |  FROM assign a JOIN cent2 c ON a.centroid_id = c.centroid_id
         |)
         |SELECT centroid_id, count(*) AS n_members,
         |  ${r4("CAST(sum(CAST(floor(cscore * 10000 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 / count(*)")}
         |    AS mean_cos,
         |  min(cscore) AS min_cos
         |FROM sc GROUP BY 1""".stripMargin)),
    Query("q_embed_quantize", qEmbedQuantize, Some(
      s"""WITH m AS (
         |  SELECT vec_id, embedding,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
         |  FROM embeddings
         |)
         |SELECT vec_id, mx / 127.0 AS scale,
         |  array_to_string(
         |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS INTEGER))
         |         ELSE list_transform(embedding,
         |           x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS INTEGER))
         |    END, ',') AS qvec_csv
         |FROM m""".stripMargin)),
    Query("q_cosine_pq", qCosinePq, Some(oPqSql(10, 5))),
    Query("q_cosine_ivfpq", qCosineIvfPq, Some(oIvfPqSql(10, 5))),
    Query("q_cosine_ivfpq_rerank", qCosineIvfPqRerank, Some(oIvfPqSql(10, 5,
      rerank = Some(IvfPqRerankShortlist)))),
    Query("q_cosine_ivfpq_sampled", qCosineIvfPqSampled,
      Some(oIvfPqSql(10, 5, sampledTrain = true))),
    // embedding drift: the scalar drift skeleton (q_drift, CorpusEntries)
    // with bins = shared-codebook IVF cluster ids
    Query("q_embed_drift", qEmbedDrift, Some(
      s"""WITH ${oIvfAssign(8, 2)},
         |hr AS (
         |  SELECT CAST(least(floor(CAST(centroid_id AS DOUBLE) / 1), 8) AS INTEGER) AS bin,
         |    count(*) AS cnt_ref
         |  FROM assign WHERE vec_id % 2 = 0 GROUP BY 1
         |), hc AS (
         |  SELECT CAST(least(floor(CAST(centroid_id AS DOUBLE) / 1), 8) AS INTEGER) AS bin,
         |    count(*) AS cnt_cur
         |  FROM assign WHERE vec_id % 2 = 1 GROUP BY 1
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
         |  floor(js * 10000 + 0.5) / 10000 AS js
         |FROM terms, g""".stripMargin)),
    Query("q_cosine_q8", qCosineQ8, Some {
      val dim = Similarity.LshDim
      def qdot(a: String, b: String) =
        s"""CAST(list_reduce(list_transform(range(1, ${dim + 1}),
           |      i -> CAST($a[i] AS BIGINT) * $b[i]), (x, y) -> x + y) AS DOUBLE)""".stripMargin
      s"""WITH m AS (
         |  SELECT vec_id, embedding,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
         |  FROM embeddings
         |), qz AS (
         |  SELECT vec_id,
         |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS INTEGER))
         |         ELSE list_transform(embedding,
         |           x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS INTEGER))
         |    END AS qvec
         |  FROM m
         |), q AS (SELECT vec_id AS query_id, qvec AS qq FROM qz WHERE vec_id < 10),
         |s AS (
         |  SELECT q.query_id, z.vec_id AS neighbor_id,
         |    ${r4(s"${qdot("q.qq", "z.qvec")} / sqrt(${qdot("q.qq", "q.qq")} * ${qdot("z.qvec", "z.qvec")})")}
         |      AS score
         |  FROM qz z, q WHERE z.vec_id != q.query_id
         |), sf AS (SELECT * FROM s WHERE score IS NOT NULL AND NOT isnan(score)),
         |rk AS (
         |  SELECT query_id, neighbor_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS INTEGER) AS rk
         |  FROM sf
         |)
         |SELECT query_id, neighbor_id, score, rk FROM rk WHERE rk <= 5""".stripMargin
    }),
    // NB: `cent2` below is oIvfAssign's final centroid table for iters=2
    Query("q_cosine_ivf_probe", qCosineIvfProbe, Some(
      s"""WITH ${oIvfAssign(8, 2)}, qp AS (
         |  SELECT vec_id AS query_id, centroid_id AS qc FROM (
         |    SELECT e.vec_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${r4(oCos("e.embedding", "c.ce"))} DESC, c.centroid_id) AS arn
         |    FROM embeddings e, cent2 c
         |    WHERE e.vec_id < 10
         |  ) WHERE arn <= 2
         |), q AS (
         |  SELECT e.vec_id AS query_id, e.embedding AS qe, qp.qc
         |  FROM embeddings e JOIN qp ON qp.query_id = e.vec_id
         |), s AS (
         |  SELECT q.query_id, a.vec_id AS neighbor_id,
         |    ${r4(oCos("q.qe", "a.embedding"))} AS score
         |  FROM assign a, q
         |  WHERE a.centroid_id = q.qc AND a.vec_id != q.query_id
         |), rk AS (
         |  SELECT query_id, neighbor_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS INTEGER) AS rk
         |  FROM s
         |)
         |SELECT query_id, neighbor_id, score, rk FROM rk WHERE rk <= 3""".stripMargin)),
    // recall@5 of the nprobe=2 IVF ranking vs the exact brute-force top-5
    // (both rankings deterministic: 4dp scores, neighbor_id tiebreak)
    Query("q_ivf_recall", qIvfRecall, Some(
      s"""WITH ${oIvfAssign(8, 2)}, qp AS (
         |  SELECT vec_id AS query_id, centroid_id AS qc FROM (
         |    SELECT e.vec_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${r4(oCos("e.embedding", "c.ce"))} DESC, c.centroid_id) AS arn
         |    FROM embeddings e, cent2 c
         |    WHERE e.vec_id < 10
         |  ) WHERE arn <= 2
         |), q AS (
         |  SELECT e.vec_id AS query_id, e.embedding AS qe, qp.qc
         |  FROM embeddings e JOIN qp ON qp.query_id = e.vec_id
         |), s AS (
         |  SELECT q.query_id, a.vec_id AS neighbor_id,
         |    ${r4(oCos("q.qe", "a.embedding"))} AS score
         |  FROM assign a, q
         |  WHERE a.centroid_id = q.qc AND a.vec_id != q.query_id
         |), ap AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, neighbor_id) AS rk
         |    FROM s
         |  ) WHERE rk <= 5
         |), xq AS (
         |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10
         |), xs AS (
         |  SELECT xq.query_id, e.vec_id AS neighbor_id,
         |    ${r4(oCos("xq.qe", "e.embedding"))} AS score
         |  FROM embeddings e, xq WHERE e.vec_id != xq.query_id
         |), ex AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, neighbor_id) AS rk
         |    FROM xs
         |  ) WHERE rk <= 5
         |)
         |SELECT ex.query_id, 5 AS k, count(ap.neighbor_id) AS hits,
         |  ${r4("count(ap.neighbor_id) / 5.0")} AS recall
         |FROM ex LEFT JOIN ap
         |  ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
         |GROUP BY ex.query_id""".stripMargin)),
    // literal 8 == Similarity.clustersFor(N) at every verify SF (N = 199
    // at sf0.001 / 2000 at sf0.01); the query sizes k adaptively so the
    // trend bench's bigger synthetic inputs stay linear
    Query("q_dedup_embed_ivf", qDedupEmbedIvf, Some(
      s"""WITH ${oIvfAssign(8, 2)}, s AS (
         |  SELECT a.centroid_id, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    ${r4(oCos("a.embedding", "b.embedding"))} AS cos
         |  FROM assign a JOIN assign b
         |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
         |)
         |SELECT centroid_id, vec_a, vec_b, cos FROM s WHERE cos >= 0.4""".stripMargin)),
    // SemDeDup mirror: same trained assignment (asg materialized — it is
    // referenced four times and DuckDB inlines the whole Lloyd chain per
    // reference), within-cluster pairs >= tau, recursive-CTE components
    // (the q_dedup_corpus reach idiom), keeper = lowest cosine-to-centroid
    // per component with vec_id tiebreak, singletons keep via coalesce
    Query("q_semdedup", qSemDedup, Some(
      s"""WITH RECURSIVE ${oIvfAssign(8, 2)},
         |asg AS MATERIALIZED (SELECT * FROM assign),
         |sc AS MATERIALIZED (
         |  SELECT a.vec_id, a.centroid_id,
         |    ${r4(oCos("a.embedding", "c.ce"))} AS cscore
         |  FROM asg a JOIN cent2 c ON c.centroid_id = a.centroid_id
         |),
         |p AS MATERIALIZED (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM asg a JOIN asg b
         |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
         |  WHERE ${r4(oCos("a.embedding", "b.embedding"))} >= 0.4
         |),
         |und AS (
         |  SELECT vec_a AS src, vec_b AS dst FROM p
         |  UNION ALL SELECT vec_b, vec_a FROM p
         |),
         |reach AS (
         |  SELECT DISTINCT src AS d, src AS r FROM und
         |  UNION
         |  SELECT reach.d, und.dst FROM reach JOIN und ON und.src = reach.r
         |),
         |cc AS (SELECT d AS vec_id, min(r) AS component FROM reach GROUP BY d),
         |j AS (
         |  SELECT sc.vec_id, sc.centroid_id, sc.cscore,
         |    coalesce(cc.component, sc.vec_id) AS component
         |  FROM sc LEFT JOIN cc USING (vec_id)
         |)
         |SELECT vec_id, centroid_id, cscore, component,
         |  row_number() OVER (PARTITION BY component
         |    ORDER BY cscore, vec_id) = 1 AS keep
         |FROM j""".stripMargin)),
    // multi-assignment (arn <= 2) blocking: DISTINCT candidate pairs from
    // the replicated per-cluster self-join, verified with exact cosine
    Query("q_dedup_embed_ivf2", qDedupEmbedIvf2, Some(
      s"""WITH ${oIvfAssign(8, 2)}, multi AS (
         |  SELECT vec_id, centroid_id FROM (
         |    SELECT e.vec_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${r4(oCos("e.embedding", "c.ce"))} DESC, c.centroid_id) AS arn
         |    FROM embeddings e, cent2 c
         |  ) WHERE arn <= 2
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM multi a JOIN multi b
         |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
         |), v AS (
         |  SELECT cand.vec_a, cand.vec_b,
         |    ${r4(oCos("ea.embedding", "eb.embedding"))} AS cos
         |  FROM cand JOIN embeddings ea ON ea.vec_id = cand.vec_a
         |            JOIN embeddings eb ON eb.vec_id = cand.vec_b
         |)
         |SELECT vec_a, vec_b, cos FROM v WHERE cos >= 0.4""".stripMargin)),
    Query("q_dedup_embed_lsh", qDedupEmbedLsh, Some(oDedupEmbedLsh)),
    Query("q_dedup_embed_lsh_mp", qDedupEmbedLshMp, Some(oDedupEmbedLshMp)),
    Query("q_dedup_embed_incremental", qDedupEmbedIncr, Some(oDedupEmbedIncr)),
    Query("q_hybrid_search", qHybridSearch, Some(
      s"""WITH ${OracleSql.qualityScoreCte},
         |q AS (
         |  SELECT vec_id AS query_id, embedding AS qe
         |  FROM embeddings WHERE vec_id < 5
         |), sc AS (
         |  SELECT q.query_id, e.vec_id AS doc_id,
         |    ${r4(oCos("q.qe", "e.embedding"))} AS cos, s.quality_score
         |  FROM embeddings e JOIN qscore s ON s.doc_id = e.vec_id, q
         |  WHERE e.vec_id != q.query_id
         |), h AS (
         |  SELECT query_id, doc_id, cos, quality_score,
         |    ${r4("0.7 * cos + 0.3 * quality_score")} AS hybrid
         |  FROM sc
         |), rk AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY hybrid DESC, doc_id) AS INTEGER) AS rk
         |  FROM h
         |)
         |SELECT query_id, doc_id, cos, quality_score, hybrid, rk
         |FROM rk WHERE rk <= 10""".stripMargin)),
  )
}
