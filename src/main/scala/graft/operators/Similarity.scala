package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Materialize.MatOps
import graft.EntryMath.{r => r4}

/** Similarity search over an embedding column (`ARRAY<FLOAT>`).
  *
  * Shapes:
  *  - brute-force cosine top-k: the correctness baseline — a broadcast join
  *    of the (small) query set against the corpus, one pass, no shuffle of
  *    the big side;
  *  - IVF: assign every vector to its nearest centroid (broadcast of the
  *    centroid table), then search only within the probe's cluster — the
  *    100 TB path, because the corpus is partitioned by centroid id and the
  *    per-query work drops from O(N) to O(N/C).
  *
  * Float discipline for oracle parity: elementwise products are computed in
  * DOUBLE and folded strictly left-to-right (`aggregate` with a 0.0 seed ≡
  * DuckDB `list_reduce`), because float32 folds and engine-chosen
  * summation orders would diverge in the last ulps.
  */
object Similarity {

  /** SRP-LSH defaults, shared by the shipped queries and their DuckDB
    * oracles so the two can never drift. Band WIDTH is adaptive
    * ([[bandsFor]]): `LshBandBits` is the floor, `LshBandBitsMax` the
    * ceiling. Band keys are carried as one INT per band (an `ARRAY<INT>`
    * code column, one key per band), NOT packed into a single long — the
    * packed-long layout capped the width at ⌊63/bands⌋ = 10 bits, i.e.
    * 1024 buckets per band, past which (n ≈ 64·2¹⁰ ≈ 65k vectors)
    * occupancy grew linearly again and the candidate join degenerated to
    * O(n²/1024). With per-band keys the width rides to
    * [[LshBandBitsMax]] = 24 (16M buckets/band ≈ 10⁹ vectors at target
    * occupancy 64). */
  val LshBandBits = 3
  val LshBandBitsMax = 24
  val LshTargetBucket = 64
  val LshDim = 64
  val LshTau = 0.4

  /** Adaptive band width: smallest `bandBits` in
    * [[[LshBandBits]], [[LshBandBitsMax]]] such that the expected bucket
    * occupancy `n / 2^bandBits` stays ≤ `target`. This is the banding
    * analog of [[clustersFor]] and exists for the same reason: with a
    * FIXED width the per-band bucket count is constant, expected occupancy
    * is Θ(n), and the "blocked" candidate join degenerates to O(n²/2^bits)
    * — the scale-trend bench watched q_dedup_embed_lsh's per-SF ratio
    * climb two rounds running (1.23 → 1.37) before this landed. Integer
    * arithmetic only (`2^b · target ≥ n`), NOT `ceil(log2(n/target))`:
    * both engines must pick the same width, and an FP log at an exact
    * power-of-two boundary can round either way. The DuckDB oracles
    * mirror this with `min(b) FROM range(...) WHERE (1<<b)*target >= n`. */
  def bandsFor(n: Long, target: Int = LshTargetBucket): Int =
    (LshBandBits to LshBandBitsMax)
      .find(b => (1L << b) * target >= n).getOrElse(LshBandBitsMax)

  /** Adaptive band COUNT: widening the bands keeps the candidate join
    * linear, but it also shrinks the per-band collision probability
    * (p^bandBits with p = 1 − θ/π), so with a FIXED band count recall
    * decays toward zero as the corpus grows — at the old fixed 6 bands a
    * true pair at cos 0.9 collided somewhere with ~99.7% probability at
    * 3-bit bands but only ~76% at 10-bit. This table grows the band count
    * with the width so the design-point recall holds:
    * `L(b) = max(6, ⌈ln(0.01) / ln(1 − p^b)⌉)` with p = 1 − acos(0.9)/π
    * ≈ 0.8564, i.e. ≥ 99% recall for a cos ≥ 0.9 pair at every width
    * (verified ≥ 0.990 for all b in [3,24]). LITERAL values, not the
    * closed form: both engines must pick the same count, and the oracle
    * mirrors this table as a VALUES list — an FP log/pow evaluated by two
    * engines can round a ceil either way. Total planes L·b grow from 18
    * (b=3) to 4512 (b=24): the standard LSH index cost, precomputed once
    * into the persisted code table at corpus scale. */
  private val LshBandsTable: Array[Int] =
    //          b = 3  4  5   6   7   8   9  10  11  12  13  14  15
    Array(          6, 6, 8, 10, 12, 14, 17, 20, 23, 28, 33, 38, 45,
    //             16  17  18  19   20   21   22   23   24
                   53, 62, 73, 86, 100, 117, 137, 161, 188)

  def lshBandsFor(bandBits: Int): Int = {
    require(bandBits >= LshBandBits && bandBits <= LshBandBitsMax,
      s"bandBits $bandBits outside [$LshBandBits, $LshBandBitsMax]")
    LshBandsTable(bandBits - LshBandBits)
  }

  /** SQL literal `(VALUES (3,6),(4,6),...)` mirror of [[LshBandsTable]]
    * for the DuckDB oracles — one source of truth. */
  def lshBandsValuesSql: String =
    (LshBandBits to LshBandBitsMax)
      .map(b => s"($b, ${lshBandsFor(b)})").mkString(", ")

  /** Band counts for the MULTI-PROBE variant ([[dedupPairsLshMp]]): a
    * band matches if the keys agree within Hamming ≤ 1 (the exact key
    * plus each single-bit flip is probed), so the per-band collision
    * probability rises from p^b to `p^b + b·p^(b-1)(1−p)` and far fewer
    * bands hold the same ≥99% design recall — 36 vs 188 at the widest
    * point, i.e. 864 planes instead of 4512 (5.2× cheaper coding, the
    * dominant corpus-scale cost), traded for a bounded (b+1)-way probe
    * fan-out in the candidate join. Same literal-table discipline as
    * [[LshBandsTable]]; recall verified ≥ 0.990 for all b in [3,24]. */
  private val LshBandsMpTable: Array[Int] =
    //          b = 3  4  5  6  7  8  9 10  11  12  13  14  15
    Array(          6, 6, 6, 6, 6, 6, 6, 6,  7,  8,  9, 10, 11,
    //             16  17  18  19  20  21  22  23  24
                   13, 15, 17, 19, 22, 25, 28, 32, 36)

  def lshBandsMpFor(bandBits: Int): Int = {
    require(bandBits >= LshBandBits && bandBits <= LshBandBitsMax,
      s"bandBits $bandBits outside [$LshBandBits, $LshBandBitsMax]")
    LshBandsMpTable(bandBits - LshBandBits)
  }

  def lshBandsMpValuesSql: String =
    (LshBandBits to LshBandBitsMax)
      .map(b => s"($b, ${lshBandsMpFor(b)})").mkString(", ")

  /** Ceiling on the broadcast probe side of the ANN entry points
    * ([[cosineTopK]], [[cosineTopKQ8]], [[knnClassify]], the IVF
    * searches). These plans broadcast the query set to every executor —
    * sound only while it is small (64Ki × ~0.5 KB/row of 64-dim float +
    * row overhead ≈ tens of MB). Without the guard a caller passing
    * nQueries ≈ N silently turns the one-scan broadcast plan into an
    * every-executor OOM; a probe set genuinely this large is a
    * corpus×corpus join and belongs on [[dedupPairsLsh]]/[[dedupPairsIvf]]
    * shapes instead. */
  val MaxBroadcastQueries = 1 << 16

  private def requireProbeFits(nProbeRows: Int): Unit =
    require(nProbeRows >= 0 && nProbeRows <= MaxBroadcastQueries,
      s"probe side of $nProbeRows rows exceeds MaxBroadcastQueries=" +
        s"$MaxBroadcastQueries — a probe set this large would be broadcast " +
        "to every executor; use an LSH/IVF-blocked pair shape instead")

  /** Left-to-right double dot product of two float arrays (native
    * expression; ≡ aggregate(zip_with(...)) bit-for-bit). */
  def dot(a: Column, b: Column): Column = graft.functions.ArrayMath.dotF(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine from precomputed norms — avoids refolding each side's norm per
    * pair in quadratic joins; same doubles as [[cosine]]. */
  def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)


  /** Top singular direction of the (uncentered) embedding cloud by
    * QUANTIZED power iteration — the one-component PCA view an embedding
    * pipeline uses for whitening checks and drift axes.
    *
    * Each of the fixed `rounds` multiplies A = Σ xᵢxᵢᵀ into v without
    * ever forming A: per row the float_dot dᵢ = xᵢ·v (left-to-right
    * double fold), then the matvec components Σᵢ xᵢⱼdᵢ are accumulated
    * as EXACT int64 sums of floor(xᵢⱼ·⌊dᵢ·10⁶⌉·100 + 0.5) — the same
    * integer-quantization trick the corr/cluster queries use, so the
    * distributed sum is order-independent and the DuckDB oracle matches
    * bit for bit. v re-normalizes on the driver (dim-sized, sequential)
    * and is carried as FLOAT32 so both engines round identically per
    * round. The per-round reduce is one scan + one dim-keyed aggregate
    * (dim rows to the driver — a bounded probe); overflow headroom:
    * |c| ≤ 10⁸·|xd| keeps the int64 sum safe past 10⁹ rows.
    *
    * Fixed round count (no convergence exit) — the oracle unrolls the
    * identical rounds. Output: one row per dimension (pos, loading,
    * lambda), loading the 4dp final component, lambda the 4dp Rayleigh
    * estimate ‖Av‖ from the last round's integer sums. */
  def topDirection(emb: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val spark = emb.sparkSession
    import spark.implicits._
    val e = emb.select(col("embedding")).materialize // scanned per round
    val dimRow = e.select(min(size(col("embedding"))), max(size(col("embedding")))).head()
    require(!dimRow.isNullAt(0), "topDirection needs a non-empty embedding table")
    // PCA over ragged vectors is undefined — and the two engines would
    // disagree on how to mangle them (Spark's dot folds min(len), the
    // oracle NULL-poisons longer rows), so reject them up front
    require(dimRow.getInt(0) == dimRow.getInt(1),
      s"topDirection needs uniform embedding dims, got ${dimRow.getInt(0)}" +
        s"..${dimRow.getInt(1)}")
    val dim = dimRow.getInt(0)
    var v: Array[Float] =
      Array.fill(dim)((1.0 / math.sqrt(dim.toDouble)).toFloat)
    var s: Array[Long] = null
    for (_ <- 1 to rounds) {
      val vLit = array(v.map(lit): _*)
      val di6 = floor(dot(col("embedding"), col("_v")) * lit(1000000) + lit(0.5))
        .cast("long")
      val sums = e.withColumn("_v", vLit)
        .withColumn("_di6", di6)
        .select(posexplode(col("embedding")).as(Seq("pos", "x")), col("_di6"))
        .groupBy(col("pos"))
        .agg(sum(floor(col("x").cast("double") * col("_di6") * lit(100) + lit(0.5))
          .cast("long")).as("s"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      s = (0 until dim).map(p => sums.getOrElse(p, 0L)).toArray
      var n2 = 0.0
      var j = 0
      while (j < dim) { n2 += s(j).toDouble * s(j).toDouble; j += 1 }
      val nrm = math.sqrt(n2)
      v = s.map(x => (x.toDouble / nrm).toFloat)
    }
    var n2 = 0.0
    var j = 0
    while (j < dim) { n2 += s(j).toDouble * s(j).toDouble; j += 1 }
    val lambda = math.sqrt(n2) / 1e8
    (1 to dim).map(p =>
      (p.toLong, r4(v(p - 1).toDouble), r4(lambda)))
      .toDF("pos", "loading", "lambda")
  }

  /** Brute-force cosine top-k: queries = vec_id < nQueries; rank by
    * 4dp-rounded score with vec_id tiebreak (deterministic under float
    * noise). The query side is broadcast; the corpus is scanned once. */
  def cosineTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    requireProbeFits(nQueries)
    // norms once per side (r18, guide §2.3): the fused cosine refolded the
    // corpus row's norm for every query — nQ× redundant flops per row
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        norm(col("embedding")).as("_qn"))
    val scored = emb.select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("_n"))
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        r4(cosinePre(col("qe"), col("embedding"), col("_qn"), col("_n")))
          .as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rk"))
  }

  /** Seed centroids = first k vectors (deterministic; Lloyd refines them). */
  def ivfSeed(emb: DataFrame, k: Int): DataFrame =
    emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))

  /** IVF assignment against an explicit (small, broadcast) centroid table:
    * nearest by 4dp-rounded cosine, tiebreak lowest centroid id. The
    * centroid id is the partitioning key a 100 TB corpus would be written
    * with (`partitionBy(centroid_id)`). */
  def ivfAssign(emb: DataFrame, cent: DataFrame): DataFrame =
    ivfAssignTop(emb, cent, 1).select(col("vec_id"), col("centroid_id"), col("cscore"))

  /** Top-`nprobe` clusters per vector (probe_rank 1 = nearest) — rank by
    * 4dp-rounded cosine, tiebreak lowest centroid id. nprobe = 1 is corpus
    * assignment; nprobe > 1 is the query-side probe set of multi-probe
    * search.
    *
    * Plan shape (optimization r18, guide §2.3/§2.4): norms are computed
    * ONCE per side before the cross join (the fused `cosine` refolded each
    * side's norm per candidate — C× redundant flops on the corpus side),
    * and the hot nprobe = 1 assignment is an ARGMAX AGGREGATE, not a
    * window: the (cscore, centroid_id) rank key packs losslessly into one
    * int64 (cscore is exactly k/10⁴ with |k| ≤ 10⁴; centroid ids are
    * non-negative and < 2³¹), so `max(long)` partial-aggregates map-side
    * inside whole-stage codegen and the exchange carries N rows instead
    * of N·C — the window shape shuffled AND sorted every candidate row.
    * Decode is exact: arithmetic shift right = floor-division by 2³²,
    * low mask = the tiebreak remainder, and k/10⁴ re-divides to the
    * bit-identical double r4 produced (both are the nearest double to
    * k/10⁴). The nprobe > 1 path (query-side probes, bounded rows) keeps
    * the window.
    *
    * PRECONDITION (rank-key packing): `centroid_id` must be in
    * [0, Int.MaxValue]. Every centroid table built here ([[ivfSeed]] /
    * [[ivfTrain]] ids are small non-negative ints) satisfies this; a
    * caller-supplied table with negative or > 2³¹−1 ids would corrupt
    * the packed key silently in the nprobe = 1 arm. */
  def ivfAssignTop(emb: DataFrame, cent: DataFrame, nprobe: Int): DataFrame = {
    val centN = cent.select(col("centroid_id"), col("ce"),
      norm(col("ce")).as("_cn"))
    val scored = emb.select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("_en"))
      .crossJoin(broadcast(centN))
      .select(col("vec_id"), col("centroid_id"),
        r4(cosinePre(col("embedding"), col("ce"), col("_en"), col("_cn")))
          .as("cscore"))
    if (nprobe == 1) {
      // rank key: k·2³² + (Int.MaxValue − centroid_id); max ⇔ (cscore
      // desc, centroid_id asc) — k = cscore·10⁴ recovered exactly from
      // the 4dp-rounded double (|k·10⁻⁴·10⁴ − k| < 10⁻⁸ ≪ 0.5)
      val key = floor(col("cscore") * lit(10000) + lit(0.5)).cast("long") *
        lit(4294967296L) +
        (lit(Int.MaxValue.toLong) - col("centroid_id"))
      scored.groupBy(col("vec_id"))
        .agg(max(key).as("_k"))
        .select(col("vec_id"),
          (lit(Int.MaxValue.toLong) - col("_k").bitwiseAND(lit(4294967295L)))
            .as("centroid_id"),
          (shiftright(col("_k"), 32).cast("double") / lit(10000.0))
            .as("cscore"),
          lit(1).as("probe_rank"))
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("cscore").desc, col("centroid_id"))
      scored.withColumn("probe_rank", row_number().over(w))
        .filter(col("probe_rank") <= nprobe)
        .select(col("vec_id"), col("centroid_id"), col("cscore"), col("probe_rank"))
    }
  }

  /** Assignment against untrained seed centroids (spec/back-compat path). */
  def ivfAssign(emb: DataFrame, nCentroids: Int): DataFrame =
    ivfAssign(emb, ivfSeed(emb, nCentroids))

  /** Lloyd-trained IVF centroids: iters rounds of assign → elementwise
    * mean. The mean is computed in exact integer micro-units
    * (floor(x·10⁶+0.5) summed as BIGINT, divided once in double, cast to
    * float), so it is order-independent across partitions and
    * bit-reproducible in the DuckDB oracle — a naive double sum would
    * depend on Spark's partition fold order. Empty clusters drop out (k
    * shrinks), mirrored identically by the oracle. At corpus scale Lloyd
    * runs on a bounded sample; assignment of the full corpus stays one
    * broadcast pass. */
  def ivfTrain(emb: DataFrame, k: Int, iters: Int = 2): DataFrame =
    ivfTrainFrom(emb, ivfSeed(emb, k), iters)

  /** Lloyd rounds from an EXPLICIT initial centroid table — the seam the
    * train-on-sample path needs: pass a sampled `emb` and seeds drawn
    * from that sample, then assign the FULL corpus against the result. */
  def ivfTrainFrom(emb: DataFrame, cent0: DataFrame, iters: Int): DataFrame = {
    var cent = cent0
    for (it <- 1 to iters) {
      val assigned = ivfAssign(emb, cent).select("vec_id", "centroid_id")
        .join(emb.select("vec_id", "embedding"), "vec_id")
      val sums = assigned
        .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy("centroid_id", "i")
        .agg(sum(floor(col("x").cast("double") * 1000000 + lit(0.5)).cast("long")).as("s"),
          count(lit(1)).as("n"))
      cent = sums
        .withColumn("c", (col("s").cast("double") / (col("n") * lit(1000000.0))).cast("float"))
        .groupBy("centroid_id")
        .agg(array_sort(collect_list(struct(col("i"), col("c")))).as("sc"))
        .select(col("centroid_id"), expr("transform(sc, e -> e.c)").as("ce"))
        // k rows; loop-depth-aware so persist can't grow an exponential
        // describe-time plan (Materialize.loop)
        .materializeLoop(it)
    }
    cent
  }

  /** Embedding outlier detection: flag the vectors LEAST similar to their
    * own Lloyd-trained cluster centroid — the curation signal for noise,
    * mislabeled, or out-of-distribution embeddings (a clean embedding sits
    * near some cluster's center; junk sits near nothing). Per cluster, the
    * bottom `frac` by cosine-to-centroid (4dp, vec_id tiebreak) is
    * flagged, so the threshold adapts to each cluster's own density
    * instead of a global cutoff that over-flags sparse clusters. Shape:
    * Lloyd training (bounded-sample at corpus scale) + one broadcast
    * assignment pass + one window keyed by centroid — the same
    * partitioning the corpus would be laid out with. */
  def embedOutliers(emb: DataFrame, nCentroids: Int, iters: Int,
      frac: Double): DataFrame = {
    require(frac > 0 && frac < 1, "frac must be in (0, 1)")
    val asg = ivfAssign(emb, ivfTrain(emb, nCentroids, iters))
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy(col("centroid_id"))
    val w = byCluster.orderBy(col("cscore"), col("vec_id"))
    asg.withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cluster_n", count(lit(1)).over(byCluster))
      .withColumn("is_outlier", col("rk") <= ceil(col("cluster_n") * frac))
  }

  /** IVF search: probe only the query's own cluster (nprobe=1) — the scale
    * path; recall vs brute force is the standard IVF tradeoff. Centroids
    * are Lloyd-trained (iters rounds). */
  def ivfSearch(emb: DataFrame, nCentroids: Int, nQueries: Int, k: Int,
      iters: Int = 2): DataFrame = {
    // materialize the (vec_id, centroid_id) assignment once: it feeds both
    // sides of the probe join, and without this the broadcast-converted
    // subplans differ so ReuseExchange cannot dedupe the assignment
    // cross-join+window. At corpus scale this is the persisted assignment
    // table the corpus is partitioned by.
    val assign = ivfAssign(emb, ivfTrain(emb, nCentroids, iters))
      .select("vec_id", "centroid_id").materialize
    ivfSearchAssigned(emb, assign, nQueries, k)
  }

  /** The search core against a PROVIDED assignment relation — shared by
    * the train-inline path ([[ivfSearch]]) and the persisted-index path
    * ([[ivfSearchIndexed]]); both produce identical results by
    * construction (IvfPartitionSpec pins it). */
  private def ivfSearchAssigned(emb: DataFrame, assign: DataFrame,
      nQueries: Int, k: Int): DataFrame = {
    requireProbeFits(nQueries)
    // norms once per side (r18, guide §2.3) — see cosineTopK
    val withCluster = emb.join(assign, "vec_id")
      .withColumn("_n", norm(col("embedding")))
    val q = withCluster.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("centroid_id").as("qc"), col("_n").as("_qn"))
    val scored = withCluster.join(broadcast(q),
        col("centroid_id") === col("qc") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        r4(cosinePre(col("qe"), col("embedding"), col("_qn"), col("_n")))
          .as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rk"))
  }

  /** Persist a trained IVF index: the centroid table plus the corpus
    * assignment written PARTITIONED BY centroid_id — the on-disk layout
    * that turns a probe into a partition-pruned read (a query touching
    * nprobe clusters reads nprobe/k of the corpus, enforced by the file
    * source's partition filters, not by a runtime shuffle). Train once,
    * search many — the production ANN deployment shape. */
  def saveIvfIndex(emb: DataFrame, dir: String, nCentroids: Int,
      iters: Int = 2): Unit =
    saveIvfIndexWith(emb, ivfTrain(emb, nCentroids, iters), dir)

  /** [[saveIvfIndex]] against a PREBUILT centroid table — the deployment
    * split where the codebook is trained/versioned separately from the
    * data it indexes. */
  def saveIvfIndexWith(emb: DataFrame, cent: DataFrame, dir: String): Unit = {
    cent.write.mode("overwrite").parquet(s"$dir/centroids")
    ivfAssign(emb, cent).select("vec_id", "centroid_id")
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$dir/assign")
  }

  /** Incremental index maintenance — the daily-delta path: assign ONLY
    * the new vectors against the saved centroids and APPEND them into the
    * partitioned assignment (train once, append forever, periodically
    * [[Layout.compact]] the cluster partitions against small-file
    * buildup). Assignment is per-vector deterministic given the
    * centroids, so an index grown by appends is row-identical to one
    * built in a single save — q_ivf_append hash-gates exactly that, and
    * IvfPartitionSpec pins it structurally. */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
      newEmb: DataFrame, dir: String): Unit = {
    val cent = spark.read.parquet(s"$dir/centroids")
    ivfAssign(newEmb, cent).select("vec_id", "centroid_id")
      .write.mode("append").partitionBy("centroid_id")
      .parquet(s"$dir/assign")
  }

  /** Search against a persisted index (no training, no assignment
    * recompute — just the probe join over the loaded assignment). */
  def ivfSearchIndexed(spark: org.apache.spark.sql.SparkSession,
      emb: DataFrame, dir: String, nQueries: Int, k: Int): DataFrame =
    ivfSearchAssigned(emb,
      spark.read.parquet(s"$dir/assign").select("vec_id", "centroid_id"),
      nQueries, k)

  /** Multi-probe IVF search: each query probes its `nprobe` nearest
    * clusters instead of one — the standard recall/latency knob. The
    * corpus keeps its single-cluster assignment (still the partitioning
    * key at 100 TB); only the query side fans out, so a probe reads
    * nprobe/C of the data — at scale, a union of nprobe pruned partitions.
    * The probe set is (nQueries × nprobe) rows and stays broadcast. */
  def ivfSearchMultiProbe(emb: DataFrame, nCentroids: Int, nQueries: Int,
      k: Int, nprobe: Int, iters: Int = 2): DataFrame = {
    requireProbeFits(math.toIntExact(nQueries.toLong * nprobe)) // probe rows fan out nprobe×
    val cent = ivfTrain(emb, nCentroids, iters) // ends checkpointed (k rows)
    val assign = ivfAssign(emb, cent)
      .select("vec_id", "centroid_id").materialize
    val withCluster = emb.join(assign, "vec_id")
      .withColumn("_n", norm(col("embedding"))) // norm once per side (r18)
    val qe = emb.filter(col("vec_id") < nQueries)
    val probes = ivfAssignTop(qe, cent, nprobe)
      .select(col("vec_id").as("query_id"), col("centroid_id").as("qc"))
    val q = qe.select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        norm(col("embedding")).as("_qn"))
      .join(probes, "query_id")
    // a neighbor matches at most once per query: it lives in ONE cluster
    // and the probe set is distinct clusters — no post-join dedup needed
    val scored = withCluster.join(broadcast(q),
        col("centroid_id") === col("qc") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        r4(cosinePre(col("qe"), col("embedding"), col("_qn"), col("_n")))
          .as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rk"))
  }

  /** Recall@k of IVF multi-probe search against the exact brute-force
    * top-k on the same queries — the ANN quality metric: proves the index
    * is *good*, not merely deterministic. One row per query:
    * (query_id, k, hits, recall). Both rankings are fully deterministic
    * (4dp-rounded scores, neighbor_id tiebreak), so the recall fraction
    * replays exactly in the SQL oracle. Shape: the exact side is the
    * one-scan broadcast top-k, the approx side the nprobe-pruned search;
    * the comparison joins two (nQueries·k)-row frames — negligible next to
    * either search. In production this runs on a held-out query sample to
    * tune nprobe/nCentroids before partitioning the corpus. */
  def ivfRecall(emb: DataFrame, nCentroids: Int, nQueries: Int, k: Int,
      nprobe: Int, iters: Int = 2): DataFrame = {
    val exact = cosineTopK(emb, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = ivfSearchMultiProbe(emb, nCentroids, nQueries, k, nprobe, iters)
      .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
    exact.join(approx,
        col("query_id") === col("aq") && col("neighbor_id") === col("an"),
        "left")
      .groupBy(col("query_id"))
      .agg(count(col("an")).as("hits"))
      .select(col("query_id"), lit(k).as("k"), col("hits"),
        r4(col("hits") / lit(k.toDouble)).as("recall"))
  }

  /** Cluster count for cluster-blocked pair generation: grows with the
    * corpus so the MEAN CLUSTER SIZE stays bounded (~`target`). This is
    * the invariant that keeps Σ|cluster|² LINEAR in N — with a fixed k,
    * |c| ∝ N and the "blocked" dedup is quadratic again, which the
    * scale-trend bench (scripts/bench_trend.sh) measured live at 2.2×
    * per-SF on 3× data before this sizing landed. The one-row count that
    * feeds it is a parameter-sizing action, not a data collect. */
  def clustersFor(n: Long, target: Int = 250): Int =
    // clamp before toInt: beyond ~536B rows the Long division exceeds
    // Int.MaxValue and a bare toInt would wrap negative
    math.min(math.max(8L, (n + target - 1) / target), Int.MaxValue.toLong).toInt

  /** Cluster-blocked near-dup pairs — the 100 TB path: candidates only
    * within the same IVF cluster, so the pair space is Σ|cluster|² instead
    * of N². Misses cross-cluster pairs by design (standard IVF recall
    * tradeoff; raise nCentroids' coverage with multi-assignment if
    * needed). Size nCentroids with [[clustersFor]] — bounded cluster
    * size is what makes "blocked" mean linear. */
  def dedupPairsIvf(emb: DataFrame, tau: Double, nCentroids: Int,
      iters: Int = 2): DataFrame = {
    // assignment materialized once — reused by both join sides (see
    // ivfSearch); narrow (vec_id, centroid_id) rows
    val withCluster = emb
      .join(ivfAssign(emb, ivfTrain(emb, nCentroids, iters))
        .select("vec_id", "centroid_id").materialize, "vec_id")
      .select(col("vec_id"), col("embedding"), col("centroid_id"),
        norm(col("embedding")).as("nrm"))
    val a = withCluster.select(col("centroid_id"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = withCluster.select(col("centroid_id"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("centroid_id"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("centroid_id"), col("vec_a"), col("vec_b"),
        r4(cosinePre(col("ea"), col("eb"), col("na"), col("nb"))).as("cos"))
      .filter(col("cos") >= tau)
  }

  /** Multi-assignment cluster-blocked near-dup pairs — [[dedupPairsIvf]]
    * with the cross-cluster blind spot closed: every vector is assigned to
    * its top-`r` nearest clusters ([[ivfAssignTop]]), so two near-dups
    * sitting on opposite sides of a cluster boundary still share at least
    * one block whenever either's second-nearest centroid is the other's
    * nearest — the standard replication fix for IVF-blocked dedup recall.
    * Candidates are DISTINCT pairs from the per-cluster self-join (a pair
    * co-resident in two clusters is emitted once), then verified with
    * exact cosine ≥ tau. Cost: pair space grows from Σ|c|² to ≤ r²·Σ|c|²
    * (r=2 → ≤4×, still nothing like N²), and the output drops centroid_id
    * because a pair no longer belongs to a unique block. */
  def dedupPairsIvfMulti(emb: DataFrame, tau: Double, nCentroids: Int,
      r: Int = 2, iters: Int = 2): DataFrame = {
    require(r >= 1, "replication factor r must be >= 1")
    val assign = ivfAssignTop(emb, ivfTrain(emb, nCentroids, iters), r)
      .select("vec_id", "centroid_id").materialize
    val cand = assign.select(col("centroid_id"), col("vec_id").as("vec_a"))
      .join(assign.select(col("centroid_id"), col("vec_id").as("vec_b")),
        Seq("centroid_id"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    val coded = emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    cand
      .join(coded.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("nrm").as("na")), "vec_a")
      .join(coded.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("nrm").as("nb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        r4(cosinePre(col("ea"), col("eb"), col("na"), col("nb"))).as("cos"))
      .filter(col("cos") >= tau)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic near-dup
    * pruning over embedding clusters. Pipeline: Lloyd-trained IVF
    * assignment → within-cluster exact-cosine pairs ≥ tau (the blocked
    * candidate shape of [[dedupPairsIvf]] — Σ|c|², never N²) →
    * connected components over the pair graph → per component keep the
    * member with the LOWEST cosine to its cluster centroid (the paper's
    * diversity-preserving choice: among semantic duplicates, the one
    * farthest from the cluster center carries the most marginal
    * information), ties to the smallest vec_id. Singletons keep
    * trivially.
    *
    * Scale shape: one broadcast-assign scan + the bounded per-cluster
    * self-join + CC over the (duplicate-sized, not corpus-sized) pair
    * graph + one window over clustered rows. Size `nCentroids` with
    * [[clustersFor]]. Output: one row per vector —
    * (vec_id, centroid_id, cscore, component, keep). */
  def semDedup(emb: DataFrame, tau: Double, nCentroids: Int,
      iters: Int = 2): DataFrame = {
    val asg =
      ivfAssign(emb, ivfTrain(emb, nCentroids, iters)).materialize
    val withCluster = emb
      .join(asg.select("vec_id", "centroid_id"), "vec_id")
      .select(col("vec_id"), col("embedding"), col("centroid_id"),
        norm(col("embedding")).as("nrm"))
    val a = withCluster.select(col("centroid_id"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = withCluster.select(col("centroid_id"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val pairs = a.join(b, Seq("centroid_id"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        r4(cosinePre(col("ea"), col("eb"), col("na"), col("nb"))).as("cos"))
      .filter(col("cos") >= tau)
    val cc = Dedup.connectedComponents(
        pairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("canonical_id").as("component"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("cscore").asc, col("vec_id"))
    asg.join(cc, Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"), col("cscore"),
        coalesce(col("component"), col("vec_id")).as("component"))
      .withColumn("rn", row_number().over(w))
      .select(col("vec_id"), col("centroid_id"), col("cscore"),
        col("component"), (col("rn") === 1).as("keep"))
  }

  /** k-NN label classification over the labeled embedding corpus: each
    * probe's predicted label is the majority vote of its k nearest
    * neighbors by 4dp-rounded cosine (neighbor-id tiebreak inside the
    * ranking; vote ties break to the smallest label). The standard
    * embedding-quality probe over a labeled training corpus — same
    * broadcast-probe / one-corpus-scan plan as [[cosineTopK]], plus one
    * aggregate over nQueries·k rows (tiny), so at 100 TB the cost is the
    * single corpus scan. */
  def knnClassify(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val nn = cosineTopK(emb, nQueries, k)
    val votes = nn
      .join(emb.select(col("vec_id").as("neighbor_id"), col("label")), "neighbor_id")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("votes").desc, col("label"))
    votes.withColumn("vrk", row_number().over(w)).filter(col("vrk") === 1)
      .join(emb.select(col("vec_id").as("query_id"), col("label").as("true_label")),
        "query_id")
      .select(col("query_id"), col("true_label"), col("label").as("pred_label"),
        col("votes"), (col("label") === col("true_label")).as("correct"))
  }

  /** Per-vector symmetric int8 quantization: scale = max|x|/127, q_i =
    * floor(x_i/scale + 0.5) — the 4× memory/bandwidth lever that makes a
    * 100 TB ANN corpus fit executor memory (and the shape faiss-style
    * scalar quantization takes). All math after the one scale division is
    * INTEGER, so downstream scoring is bit-exact across engines — the
    * quantized queries hash-match their oracle with no float tolerance.
    * Zero vectors quantize to zeros with scale 0. */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val mx = expr(
      "aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))")
    emb.select(col("vec_id"), mx.as("mx"), col("embedding"))
      .select(col("vec_id"),
        (col("mx") / 127.0).as("scale"),
        when(col("mx") === 0.0,
          expr("transform(embedding, x -> CAST(0 AS INT))"))
          .otherwise(expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS INT))"))
          .as("qvec"))
  }

  /** Brute-force top-k over the int8-quantized corpus: integer dot and
    * integer norms (exact), one double division + sqrt at the end, 4-dp
    * rounded rank score with neighbor-id tiebreak. Same broadcast-probe
    * plan as [[cosineTopK]], ~4× less data moved per vector. */
  def cosineTopKQ8(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    requireProbeFits(nQueries)
    val quant = quantizeInt8(emb).materialize // one quantization pass
    val qnorm = (v: String) => expr(
      s"aggregate($v, CAST(0 AS BIGINT), (a, x) -> a + CAST(x AS BIGINT) * x)")
    // integer norms once per side (r18, guide §2.3): the fused form
    // refolded the corpus row's ‖q‖² per query — exact integers, so
    // hoisting them is bit-neutral
    val q = quant.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qvec").as("qq"),
        qnorm("qvec").as("_qn2"))
    val qdot = expr(
      "aggregate(zip_with(qq, qvec, (x, y) -> CAST(x AS BIGINT) * y), CAST(0 AS BIGINT), (a, v) -> a + v)")
    val scored = quant.withColumn("_n2", qnorm("qvec"))
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        r4(qdot.cast("double") /
          sqrt(col("_qn2").cast("double") * col("_n2").cast("double")))
          .as("score"))
      .filter(col("score").isNotNull && !isnan(col("score")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rk"))
  }

  /** Deterministic Rademacher (±1) hyperplanes for sign-random-projection
    * LSH, derived from md5 so the DuckDB oracle can embed the exact same
    * matrix as literals (one source of truth: this function). */
  def srpPlanes(nPlanes: Int, dim: Int): Array[Array[Float]] = {
    val flat = graft.functions.SrpCode.planesFlat(nPlanes, dim)
    Array.tabulate(nPlanes)(p => flat.slice(p * dim, (p + 1) * dim))
  }

  /** SRP-LSH near-dup pairs — the keyed-shuffle alternative to the N²
    * cross join: each vector gets a sign code (bit p = sign of the dot
    * with hyperplane p; P[bit match] = 1 − θ/π), codes are split into
    * bands, candidates come from an equi-join on (band, band-key), and
    * the exact cosine runs only on candidates. Both knobs adapt to the
    * corpus: band WIDTH via [[bandsFor]] (bounded bucket occupancy) and
    * band COUNT via [[lshBandsFor]] (recall held at the design point as
    * bands widen). The oracle mirrors the same planes/bands, so the gate
    * checks the whole pipeline, not just the verify. */
  /** (vec_id, embedding, nrm, code) — the SRP code table a corpus-scale
    * deployment precomputes and persists next to the embeddings. `code`
    * is ARRAY<INT>, one band key per band: band b's key packs the sign
    * bits of planes [b·bandBits, (b+1)·bandBits) little-endian. Per-band
    * INT keys instead of one packed long so the width can exceed
    * ⌊63/bands⌋ (see [[LshBandBitsMax]]). */
  def srpCoded(emb: DataFrame, bandBits: Int, nBands: Int,
      dim: Int = LshDim): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"),
      graft.functions.SrpCode.bandKeys(col("embedding"), bandBits, nBands, dim)
        .as("code"))

  /** Band rows (vec_id, carried cols, band, bkey) of a coded frame. */
  private def srpBands(coded: DataFrame, carry: Seq[String]): DataFrame =
    coded.select((Seq(col("vec_id")) ++ carry.map(col) :+
      posexplode(col("code"))): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")

  def dedupPairsLsh(emb: DataFrame, tau: Double = LshTau,
      bandBitsOpt: Option[Int] = None, dim: Int = LshDim): DataFrame = {
    // Band width scales with the corpus ([[bandsFor]]) so bucket occupancy
    // — and therefore the candidate-pair count — stays bounded as N grows.
    // The one-row count is parameter sizing, not a data collect (same
    // contract as clustersFor on the IVF path).
    val bandBits = bandBitsOpt.getOrElse(bandsFor(emb.count()))
    val nBands = lshBandsFor(bandBits)
    // codes+norms feed the band self-join (twice) and the verify joins
    // (twice more): compute the nPlanes dot products once and cache. At
    // corpus scale this is the precomputed code table written next to the
    // embeddings.
    val coded = srpCoded(emb, bandBits, nBands, dim).materialize
    val bands = srpBands(coded, Seq.empty)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    verifyCandidates(coded, cand, tau)
  }

  /** Exact-cosine verify over a candidate pair set — the shared tail of
    * the LSH blocked shapes. */
  private def verifyCandidates(coded: DataFrame, cand: DataFrame,
      tau: Double): DataFrame =
    cand
      .join(coded.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("nrm").as("na")), "vec_a")
      .join(coded.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("nrm").as("nb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        r4(cosinePre(col("ea"), col("eb"), col("na"), col("nb"))).as("cos"))
      .filter(col("cos") >= tau)

  /** Hamming-≤1 probe rows of a band frame: each row expanded to its
    * exact key (j = -1) plus every single-bit flip (j in [0, bandBits))
    * as `pkey` — the bounded (bandBits+1)-way fan-out every multi-probe
    * shape pays on ONE join side. */
  private def probeKeys(bands: DataFrame, bandBits: Int): DataFrame =
    bands
      .withColumn("j", explode(sequence(lit(-1), lit(bandBits - 1))))
      .withColumn("pkey", when(col("j") < 0, col("bkey"))
        .otherwise(expr("bkey ^ shiftleft(1, j)")))

  /** MULTI-PROBE SRP-LSH near-dup pairs: one side of the band self-join
    * additionally probes every single-bit flip of its band key, so a
    * band matches within Hamming ≤ 1 — which lets [[lshBandsMpFor]] hold
    * the ≥99% design recall with ~5× fewer planes than [[dedupPairsLsh]]
    * at the widest operating points (864 vs 4512 at 24-bit bands). The
    * probe expansion is a bounded (bandBits+1)-way explode on ONE side
    * of the join (Hamming-1 is symmetric, so expanding one side finds
    * every qualifying pair); candidates stay a keyed equi-join on
    * (band, key), and the exact-cosine verify is unchanged. The coding
    * pass is the dominant corpus-scale cost (it runs once per vector
    * over all planes and is what a deployment persists), so trading it
    * against probe fan-out in the delta-sized candidate join is the
    * right direction at 100 TB. */
  def dedupPairsLshMp(emb: DataFrame, tau: Double = LshTau,
      bandBitsOpt: Option[Int] = None, dim: Int = LshDim): DataFrame = {
    val bandBits = bandBitsOpt.getOrElse(bandsFor(emb.count()))
    val nBands = lshBandsMpFor(bandBits)
    val coded = srpCoded(emb, bandBits, nBands, dim).materialize
    val bands = srpBands(coded, Seq.empty)
    val probes = probeKeys(bands, bandBits)
    val cand = probes.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.pkey") === col("b.bkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    verifyCandidates(coded, cand, tau)
  }

  /** One micro-batch step of CONTINUOUS embedding near-dup screening —
    * the vector sibling of [[graft.operators.Dedup.screenBatch]]: screen
    * a batch's SRP code table against a flagged reference code table
    * (corpus vectors + stream vectors admitted earlier) plus the batch's
    * own smaller ids. Candidates come from cross-set band equi-joins
    * (the big reference side is never self-joined); matches are verified
    * with exact cosine ≥ tau. Decision per batch vector (first-wins by
    * id): `dup_of_corpus` (match_id = lowest matching corpus vec), else
    * `dup_in_batch`, else `kept`.
    *
    * `probeBits = Some(bandBits)` turns on MULTI-PROBE matching: the
    * batch (probe) side additionally explodes every single-bit flip of
    * its band keys, so a band matches within Hamming ≤ 1 — which means
    * the code tables only need [[lshBandsMpFor]] bands instead of
    * [[lshBandsFor]] for the same ≥99% design recall (~5× cheaper
    * coding at wide widths: the coding pass is the dominant corpus-scale
    * cost of a DAILY incremental screen, while the probe fan-out lands
    * on the delta-sized batch side only). Hamming-1 is symmetric, so
    * one-sided expansion finds every qualifying pair — including
    * batch-batch pairs, where both directions exist as probes. The
    * caller must code BOTH inputs at the matching band count; mixing
    * layouts is a correctness bug, which is why [[graft.streaming
    * .StreamEmbedDedup]] persists the variant alongside the width. */
  def screenEmbedBatch(refCoded: DataFrame, batchCoded: DataFrame,
      tau: Double, probeBits: Option[Int] = None): DataFrame = {
    val coded = refCoded
      .select(col("vec_id"), col("embedding"), col("nrm"), col("code"),
        col("is_corpus"), lit(false).as("_is_batch"))
      .unionByName(batchCoded.select(col("vec_id"), col("embedding"),
        col("nrm"), col("code"), lit(false).as("is_corpus"),
        lit(true).as("_is_batch")))
      .materialize
    val bands = srpBands(coded, Seq("is_corpus", "_is_batch"))
    val batchBands = bands.filter(col("_is_batch"))
    val probe = probeBits match {
      case Some(bb) => probeKeys(batchBands, bb)
      case None => batchBands.withColumn("pkey", col("bkey"))
    }
    val cand = probe.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.pkey") === col("b.bkey") &&
          col("a.vec_id") =!= col("b.vec_id") &&
          (!col("b._is_batch") || col("b.vec_id") < col("a.vec_id")))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val verified = cand
      .join(coded.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("nrm").as("na")), "vec_a")
      .join(coded.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("nrm").as("nb"), col("is_corpus").as("b_corpus")), "vec_b")
      .select(col("vec_a"), col("vec_b"), col("b_corpus"),
        r4(cosinePre(col("ea"), col("eb"), col("na"), col("nb"))).as("cos"))
      .filter(col("cos") >= tau)
    val perVec = verified.groupBy(col("vec_a").as("vec_id")).agg(
      min(when(col("b_corpus"), col("vec_b"))).as("corpus_match"),
      min(when(!col("b_corpus"), col("vec_b"))).as("batch_match"),
      count(when(col("b_corpus"), lit(1))).as("n_corpus_matches"),
      count(when(!col("b_corpus"), lit(1))).as("n_batch_matches"))
    batchCoded.select(col("vec_id")).join(perVec, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("corpus_match").isNotNull, lit("dup_of_corpus"))
          .when(col("batch_match").isNotNull, lit("dup_in_batch"))
          .otherwise(lit("kept")).as("status"),
        coalesce(col("corpus_match"), col("batch_match")).as("match_id"),
        coalesce(col("n_corpus_matches"), lit(0L)).as("n_corpus_matches"),
        coalesce(col("n_batch_matches"), lit(0L)).as("n_batch_matches"))
  }

  /** Batch-vs-corpus incremental embedding dedup (the one-shot form of
    * [[screenEmbedBatch]], and the stream parity truth): vectors matching
    * `batchPred` are screened against the rest of the corpus and against
    * smaller-id batch vectors. Multi-probe by default — the daily
    * corpus-scale screen codes with [[lshBandsMpFor]] bands (~5× fewer
    * planes at wide widths, same design recall) and pays the bounded
    * probe fan-out on the batch side only; `multiProbe = false` keeps
    * the verbatim layout for parity with pre-existing code tables. */
  def incrementalEmbed(emb: DataFrame, batchPred: Column, tau: Double,
      bandBitsOpt: Option[Int] = None, multiProbe: Boolean = true): DataFrame = {
    // Sized from the WHOLE table (corpus + batch) — the batch is a sliver
    // of the standing corpus at scale, so this matches sizing from the
    // corpus alone everywhere except right at a power-of-two boundary;
    // callers needing bit-exact parity with a separately-sized stream
    // (StreamEmbedDedup) pass the width explicitly.
    val bandBits = bandBitsOpt.getOrElse(bandsFor(emb.count()))
    val nBands = if (multiProbe) lshBandsMpFor(bandBits) else lshBandsFor(bandBits)
    val coded = srpCoded(emb, bandBits, nBands)
      .withColumn("_b", batchPred).materialize
    screenEmbedBatch(
      coded.filter(!col("_b")).withColumn("is_corpus", lit(true)),
      coded.filter(col("_b")),
      tau, probeBits = if (multiProbe) Some(bandBits) else None)
  }

  /** All-pairs embedding near-dup — O(N²), correctness baseline ONLY (not a
    * shipped query): [[dedupPairsIvf]] and [[dedupPairsLsh]] are the scale
    * paths, spec-checked against this. */
  def dedupPairs(emb: DataFrame, tau: Double): DataFrame = {
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val a = withNorm.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val b = withNorm.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        r4(cosinePre(col("ea"), col("eb"), col("na"), col("nb"))).as("cos"))
      .filter(col("cos") >= tau)
  }
}
