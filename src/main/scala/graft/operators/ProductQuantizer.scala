package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

import graft.functions.ArrayMath
import graft.operators.Materialize.MatOps
import graft.operators.Similarity.dot
import graft.EntryMath.{r => r4}

/** Product quantization (PQ) — the memory-side scale path for embedding
  * search, complementing IVF (the compute-side path): split each
  * L2-normalized vector into M contiguous subvectors, train an
  * independent L2 Lloyd codebook per subspace, and store each vector as M
  * small codes. A 1 KB float embedding becomes M bytes (here M=8 codes ×
  * 64-dim test vectors; production uses M=8-16 × K=256), so a 100 TB
  * embedding corpus's codes fit in cluster RAM, and top-k is answered
  * from codes alone via asymmetric distance (ADC): the query stays exact,
  * each subspace contributes a looked-up query·centroid dot, and because
  * the full vectors are L2-normalized first, Σ_m dot_m(q, c_{m,code_m(x)})
  * approximates cos(q, x) directly.
  *
  * Fit: the training frame is collected once under
  * [[Similarity.MaxTrainRows]], and each subspace's codebook is one
  * in-process [[Similarity.lloyd]] over its slices of the collected
  * vectors, with the L2 rule of the distributed assignment. Encode is one
  * broadcast-join pass over the corpus; ADC search shuffles only the code
  * table.
  *
  * Determinism contract (same idioms as [[Similarity.ivfTrain]], mirrored
  * in the DuckDB oracle):
  *  - normalization: double dot, IEEE float cast back — bit-equal both
  *    engines;
  *  - L2 assignment by argmin ‖c‖² − 2·v·c (the ‖v‖² term is constant per
  *    vector and cannot move the argmin), 4dp-rounded with lowest-code
  *    tiebreak;
  *  - centroid means in exact integer micro-units (order-independent);
  *  - the ADC sum quantizes each subspace dot to integer micros BEFORE
  *    the per-(query, vector) SUM, so a float sum order can never flip a
  *    rank under Spark's partial aggregation.
  */
object ProductQuantizer {

  /** Shipped IVFADC operating point, chosen from the measured
    * (subspaces × codebook × nprobe) sweep at sf0.1 (frontier table in
    * SCALE.md, "IVFADC operating-point sweep (r9)"): 16 subspaces of 4 dims with 64-entry
    * codebooks = 96-bit codes (21× smaller than the 384-byte float
    * vector), probing 2 of 4 clusters. Recall@5 vs exact cosine over 50
    * queries: 0.388 at sf0.1 (vs 0.124 for the previous 8×8×16 point)
    * at IDENTICAL search latency — at small SF search time is fixed
    * overhead, so recall per bit is the whole game; the next frontier
    * step (k=256, 0.576) triples index-build cost and adds a third to
    * the code width. PqSpec pins this point's recall floor. */
  val DefaultSubspaces = 16
  val DefaultSubDim = 4
  val DefaultK = 64
  val DefaultNprobe = 2


  /** L2-normalize the embedding column (full-vector norm, double math,
    * float cast back). */
  def normalize(emb: DataFrame): DataFrame =
    emb.withColumn("embedding",
      expr("transform(embedding, x -> CAST(x / sqrt(" +
        "aggregate(embedding, CAST(0.0 AS DOUBLE), (a, y) -> a + CAST(y AS DOUBLE) * CAST(y AS DOUBLE))" +
        ") AS FLOAT))"))

  /** All M subvectors of every vector in ONE frame: (vec_id, m, sv). */
  private def subvectors(normed: DataFrame, subspaces: Int, subDim: Int): DataFrame =
    normed.select(col("vec_id"), posexplode(expr(
      s"transform(sequence(0, ${subspaces - 1}), m -> slice(embedding, m * $subDim + 1, $subDim))"))
      .as(Seq("m", "sv")))

  /** Nearest codebook entry per (vector, subspace) by L2:
    * argmin ‖v−c‖² ≡ argmin ‖c‖² − 2·v·c. 4dp-rounded score, lowest code
    * id tiebreak. One broadcast join on m for every subspace at once.
    *
    * Plan shape (optimization r18, guide §2.3/§2.4): ‖c‖² is computed
    * ONCE per codebook entry before the join (the fused form refolded it
    * per (vector, subspace, code) — N·M·K redundant dot folds), and the
    * argmin is an AGGREGATE, not a window: the (d2x, code) rank key packs
    * losslessly into one int64 (d2x is exactly k/10⁴ with the 4dp floor
    * already computed as the integer k, |k| bounded by the unit-norm
    * subvector geometry ≪ 2³¹; codes are non-negative < 2³¹), so
    * `min(long)` partial-aggregates map-side inside whole-stage codegen
    * and the exchange carries N·M rows instead of the N·M·K candidate
    * rows the window shape shuffled and sorted. min ⇔ (d2x asc, code
    * asc); only the code is decoded (low 32 bits — d2x ≥ 0 is not needed
    * downstream, and k ≥ −‖c‖²·10⁴ keeps the key's group order exact for
    * negative k too, because the shift/mask decomposition is floor-based).
    *
    * PRECONDITION (rank-key packing): |d2x·10⁴| must stay below 2³¹,
    * which holds whenever input vectors are normalized (‖sv‖, ‖ce‖ ≤ 1 ⇒
    * |d2x| ≤ 4 ≪ 2²⁷·10⁻⁴) — the public entry [[train]] normalizes, and
    * [[trainOn]]/[[encodeOn]] document that their callers pass
    * preprocessed (unit-norm or residual-bounded) vectors; huge-magnitude
    * unnormalized input would overflow the packed long silently. */
  private def l2Assign(subs: DataFrame, codebooks: DataFrame): DataFrame = {
    val cbs = codebooks.select(col("m"), col("code"), col("ce"),
      dot(col("ce"), col("ce")).as("_cc"))
    val key = floor((col("_cc") - lit(2.0) * dot(col("sv"), col("ce")))
        * lit(10000) + lit(0.5)).cast("long") * lit(4294967296L) + col("code")
    subs.join(broadcast(cbs), "m")
      .select(col("vec_id"), col("m"), key.as("_k"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(col("_k")).as("_k"))
      .select(col("vec_id"), col("m"),
        col("_k").bitwiseAND(lit(4294967295L)).as("code"))
  }

  /** Lloyd-trained codebooks for ALL subspaces: seed = first k vectors'
    * subvectors, iters rounds of L2 assign → exact integer-micro
    * elementwise mean (empty codes drop out, k shrinks — mirrored by the
    * oracle). Returns (m, code, ce) — M×K rows, the broadcastable
    * "index"; at corpus scale pass a bounded sample (a training frame
    * over [[Similarity.MaxTrainRows]] fails). */
  def train(emb: DataFrame, subspaces: Int, subDim: Int, k: Int,
      iters: Int = 2): DataFrame = trainOn(normalize(emb), subspaces, subDim, k, iters)

  /** [[train]] without the normalization step — for callers that already
    * preprocessed the vectors (e.g. IVFADC trains codebooks on CLUSTER
    * RESIDUALS, which must not be re-normalized). Seeds are the rows with
    * vec_id < k, so a SAMPLED frame whose vec_ids have gaps passes the
    * widened bound (an evens-only sample seeds K codes with k = 2K);
    * codes are labels, so gapped code values are fine. */
  def trainOn(pre: DataFrame, subspaces: Int, subDim: Int, k: Int,
      iters: Int): DataFrame = {
    val pts = Similarity.collectTraining(pre)
    val rows = (0 until subspaces).flatMap { m =>
      val sub = pts.map { case (id, v) => id -> v.slice(m * subDim, (m + 1) * subDim) }
      Similarity.lloyd(sub, k, iters, l2Nearest).map { case (code, ce) => Row(m, code, ce) }
    }
    pre.sparkSession.createDataFrame(rows.asJava,
      StructType.fromDDL("m INT NOT NULL, code BIGINT, ce ARRAY<FLOAT> NOT NULL"))
  }

  /** [[l2Assign]]'s rule in-process: the nearest code by the same 4dp
    * ‖c‖² − 2·v·c doubles, lowest code on ties. */
  private def l2Nearest(cb: Array[(Long, Array[Float])]): Array[Float] => Int = {
    val cc = cb.map(c => ArrayMath.dot(c._2, c._2))
    v => cb.indices.minByOption(c => math.floor(
      (cc(c) - 2.0 * ArrayMath.dot(v, cb(c)._2)) * 10000 + 0.5).toLong).getOrElse(-1)
  }

  /** Encode every vector as M codes: (vec_id, m, code) — one broadcast
    * join pass over the corpus. At 100 TB this, not the floats, is the
    * table that persists and serves search. */
  def encode(emb: DataFrame, codebooks: DataFrame, subspaces: Int,
      subDim: Int): DataFrame =
    encodeOn(normalize(emb), codebooks, subspaces, subDim)

  /** [[encode]] without the normalization step (see [[trainOn]]). */
  def encodeOn(pre: DataFrame, codebooks: DataFrame, subspaces: Int,
      subDim: Int): DataFrame =
    l2Assign(subvectors(pre, subspaces, subDim), codebooks)

  /** Exact IEEE residual: r = x − c componentwise, double subtraction
    * with a float cast back (mirrored verbatim in the DuckDB oracle). */
  private val residualExpr =
    "zip_with(embedding, ce, (x, c) -> CAST(CAST(x AS DOUBLE) - CAST(c AS DOUBLE) AS FLOAT))"

  /** IVFADC index (the FAISS IVF+PQ composition — both scale paths at
    * once): IVF centroids partition the corpus (compute-side pruning, a
    * probe reads nprobe/C of the codes), and PQ codebooks trained on the
    * CLUSTER RESIDUALS x − c encode each vector as M codes (memory-side:
    * residuals are small, so the same codebook budget quantizes them much
    * more finely than raw vectors). Returns (centroids, residual
    * codebooks, codes) where codes = (vec_id, m, code, centroid_id) — at
    * 100 TB the codes table persists partitioned by centroid_id, exactly
    * like the plain IVF index. */
  def ivfPqIndex(emb: DataFrame, nClusters: Int, ivfIters: Int,
      subspaces: Int, subDim: Int, k: Int, pqIters: Int)
      : (DataFrame, DataFrame, DataFrame) =
    ivfPqIndexOn(emb, nClusters, ivfIters, subspaces, subDim, k, pqIters, 1)

  /** [[ivfPqIndex]] with Lloyd TRAINING (IVF centroids + residual PQ
    * codebooks) restricted to the deterministic 50% sample
    * vec_id % 2 = 0, while assignment and encoding still cover EVERY
    * vector — the 100 TB shape: training cost is O(sample) (the sample
    * must fit [[Similarity.MaxTrainRows]]), the expensive full-corpus
    * passes are the two one-shot broadcast assigns. Seeds widen to the
    * evens below 2C / 2K so the sampled frame still yields C centroids
    * and K codes per subspace. Same determinism contract as the full
    * trainer; q_cosine_ivfpq_sampled hash-gates the whole composition
    * against a DuckDB mirror of the sampled training, and PqSpec pins
    * that sampled-train recall stays at the shipped operating point's
    * floor. */
  def ivfPqIndexSampled(emb: DataFrame, nClusters: Int, ivfIters: Int,
      subspaces: Int, subDim: Int, k: Int, pqIters: Int)
      : (DataFrame, DataFrame, DataFrame) =
    ivfPqIndexOn(emb, nClusters, ivfIters, subspaces, subDim, k, pqIters, 2)

  /** The IVFADC build with Lloyd trained on the rows with
    * vec_id % stride = 0, seeded from ids below stride·C and stride·K. */
  private def ivfPqIndexOn(emb: DataFrame, nClusters: Int, ivfIters: Int,
      subspaces: Int, subDim: Int, k: Int, pqIters: Int, stride: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    def sample(df: DataFrame) = df.filter(pmod(col("vec_id"), lit(stride)) === 0)
    val normed = normalize(emb).materialize
    val cent = Similarity.ivfTrain(sample(normed), stride * nClusters, ivfIters)
    val assign = Similarity.ivfAssign(normed, cent)
      .select(col("vec_id"), col("centroid_id"))
    val residuals = normed.join(assign, "vec_id")
      .join(broadcast(cent), "centroid_id")
      .select(col("vec_id"), expr(residualExpr).as("embedding"))
      .materialize // codebook training + encoding both consume it
    val codebooks = trainOn(sample(residuals), subspaces, subDim, stride * k, pqIters)
    val codes = encodeOn(residuals, codebooks, subspaces, subDim)
      .join(assign, "vec_id")
    (cent, codebooks, codes)
  }

  /** IVFADC search: each query probes its `nprobe` nearest centroids and
    * scores ONLY the codes assigned there — dot(q, x) ≈ dot(q, c) +
    * Σ_m dot(q_m, cw_{m,code_m}) (q stays exact, so the residual term
    * needs q's RAW subvectors, not a query residual). Both terms are
    * integer-micro quantized before the sum, same contract as
    * [[searchAdc]]. Query-side frames (probes, base terms, lookup table)
    * are all nQ-sized broadcasts; the codes table is the only big side. */
  def searchIvfPq(emb: DataFrame, cent: DataFrame, codebooks: DataFrame,
      codes: DataFrame, nQueries: Int, topK: Int, subspaces: Int,
      subDim: Int, nprobe: Int): DataFrame = {
    val scored = adcScored(emb, cent, codebooks, codes, nQueries,
      subspaces, subDim, nprobe)
    Similarity.topK(scored, "score_ivfpq", topK)
  }

  /** The probe-scoped ADC-scored candidate frame (query_id, neighbor_id,
    * score_ivfpq) shared by [[searchIvfPq]] (top-k directly) and
    * [[searchIvfPqRerank]] (top-R shortlist → exact re-rank). */
  private def adcScored(emb: DataFrame, cent: DataFrame,
      codebooks: DataFrame, codes: DataFrame, nQueries: Int,
      subspaces: Int, subDim: Int, nprobe: Int): DataFrame = {
    Similarity.requireProbeFits(nQueries)
    val queries = normalize(emb.filter(col("vec_id") < nQueries))
    val probes = Similarity.ivfAssignTop(queries, cent, nprobe)
      .select(col("vec_id").as("query_id"), col("centroid_id"))
    val baseTerm = probes
      .join(queries.select(col("vec_id").as("query_id"), col("embedding")), "query_id")
      .join(broadcast(cent), "centroid_id")
      .select(col("query_id"), col("centroid_id"),
        floor(dot(col("embedding"), col("ce")) * 1000000 + lit(0.5)).cast("long").as("bd"))
    val qSubs = subvectors(
      queries.select(col("vec_id"), col("embedding")), subspaces, subDim)
      .select(col("vec_id").as("query_id"), col("m"), col("sv").as("qe"))
    val lut = qSubs.join(codebooks, "m")
      .select(col("query_id"), col("m"), col("code"),
        floor(dot(col("qe"), col("ce")) * 1000000 + lit(0.5)).cast("long").as("pd"))
    codes.join(broadcast(probes), "centroid_id")
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(lut), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col("vec_id"), col("centroid_id"))
      .agg(sum(col("pd")).as("rsum"))
      .join(broadcast(baseTerm), Seq("query_id", "centroid_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        r4((col("rsum") + col("bd")).cast("double") / lit(1000000.0)).as("score_ivfpq"))
  }

  /** IVFADC search with EXACT RE-RANK — the standard two-stage serving
    * shape (the codes answer "who is close", the floats answer "how
    * close"): stage 1 takes the ADC top-R shortlist per query
    * (R = `shortlist`, typically 4-8× topK; tiebreak by neighbor_id, same
    * contract as [[searchIvfPq]]); stage 2 re-scores ONLY those nQ×R
    * candidates with the exact cosine from the stored float vectors and
    * emits the exact top-k. Plan shape at 100 TB: stage 1 is the same
    * codes-table shuffle as ADC-only; stage 2 is one broadcast semi-join
    * of the nQ×R shortlist against the float corpus — the floats are
    * touched for R rows per query, never rescanned. Recall is bounded
    * only by the probe (a true neighbor outside the probed clusters
    * cannot appear); within the probe, any ADC ranking error inside the
    * top-R window is corrected exactly. Output `score` is the exact
    * 4dp cosine, so ties and ranks match a float-side oracle bit-for-bit. */
  def searchIvfPqRerank(emb: DataFrame, cent: DataFrame,
      codebooks: DataFrame, codes: DataFrame, nQueries: Int, topK: Int,
      subspaces: Int, subDim: Int, nprobe: Int,
      shortlist: Int): DataFrame = {
    require(shortlist >= topK, "shortlist must be at least topK")
    // stage 2 broadcasts the nQueries×shortlist candidate list to every
    // executor — the same every-executor-OOM hazard the other ANN entry
    // points guard with MaxBroadcastQueries, except here the broadcast is
    // the PRODUCT of the two knobs (the rerank sweep recorded in SCALE.md
    // legitimately passed shortlist up to 10^6 with a single query)
    require(nQueries.toLong * shortlist <= Similarity.MaxBroadcastQueries.toLong * 16,
      s"rerank shortlist of ${nQueries.toLong * shortlist} rows " +
        s"(nQueries=$nQueries × shortlist=$shortlist) exceeds " +
        s"${Similarity.MaxBroadcastQueries * 16L} — a candidate list this " +
        "large would be broadcast to every executor; lower the shortlist " +
        "or shard the query set")
    val scored = adcScored(emb, cent, codebooks, codes, nQueries,
      subspaces, subDim, nprobe)
    val short = Similarity.topK(scored, "score_ivfpq", shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val normed = normalize(emb)
    val exact = normed.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ne"))
      .join(broadcast(short), "neighbor_id")
      .join(broadcast(normed.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))),
        "query_id")
      .select(col("query_id"), col("neighbor_id"),
        r4(dot(col("qe"), col("ne"))).as("score"))
    Similarity.topK(exact, "score", topK)
  }

  /** ADC top-k from CODES ONLY (plus the M×K codebook and the exact
    * normalized query vectors): per-(query, m, code) dot lookup table —
    * nQueries×M×K rows, broadcast — joined to the code table on (m,
    * code), summed per (query, vector) in integer micros. One keyed
    * shuffle over the code table; the float corpus is never rescanned. */
  def searchAdc(emb: DataFrame, codebooks: DataFrame, nQueries: Int,
      topK: Int, subspaces: Int, subDim: Int): DataFrame = {
    Similarity.requireProbeFits(nQueries)
    val codes = encode(emb, codebooks, subspaces, subDim)
    val qSubs = subvectors(normalize(emb.filter(col("vec_id") < nQueries)),
      subspaces, subDim)
      .select(col("vec_id").as("query_id"), col("m"), col("sv").as("qe"))
    // integer-micro partial scores: SUM over m is order-independent
    val lut = qSubs.join(codebooks, "m")
      .select(col("query_id"), col("m"), col("code"),
        floor(dot(col("qe"), col("ce")) * 1000000 + lit(0.5)).cast("long").as("pd"))
    val scored = codes.join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd")).as("sd"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        r4(col("sd").cast("double") / lit(1000000.0)).as("score_pq"))
    Similarity.topK(scored, "score_pq", topK)
  }
}
