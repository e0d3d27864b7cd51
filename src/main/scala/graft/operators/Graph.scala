package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Materialize.MatOps
import graft.EntryMath.{r => r4}

/** Iterative graph analytics on edge lists (beyond the connected-components
  * pass in [[Dedup]]): fixed-iteration PageRank.
  *
  * Scale design: each iteration is one keyed join (ranks ⋈ edges on src)
  * plus one aggregate (sum of contributions by dst) — the standard
  * Pregel-as-DataFrame shape. Iterations only grow the logical plan (no
  * driver-side data); structural frames go through [[Materialize]] (local /
  * persist / reliable-checkpoint, cluster-selectable). Ranks are
  * re-quantized to integers at every round so float summation order cannot
  * drift between partitionings or engines (the repo's integer-cents rule).
  */
object Graph {

  /** Quantization scale for rank values (shared with the oracle SQL). */
  val RankScale: Double = 1e12

  private def q(c: org.apache.spark.sql.Column) =
    floor(c * lit(RankScale) + lit(0.5)).cast("long") / lit(RankScale)

  /** Fixed-iteration PageRank over a directed edge list `(src, dst)`.
    *
    * r₀ = 1/N; rᵢ₊₁(v) = (1−d)/N + d·(Σ_{u→v} rᵢ(u)/outdeg(u) + Dᵢ/N)
    * where Dᵢ is the round's dangling mass — the summed rank of sink
    * nodes (no out-edges), redistributed uniformly so total rank stays 1
    * on any graph. Nodes are the union of both endpoints; nodes without
    * in-edges keep the teleport term. On a graph with no sinks the
    * dangling aggregate is empty, Dᵢ = 0, and the term adds an exact
    * IEEE `+ 0.0` — results are bit-identical to the no-dangling formula.
    *
    * Everything stays declarative: N and Dᵢ ride along via broadcast
    * scalar crossJoins, never a driver-side collect. The dangling sum is
    * quantized to integer 1e-12 units (like every rank) so both engines
    * fold it identically. */
  def pagerank(edges: DataFrame, iters: Int, d: Double = 0.85): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct().materialize
    // node set + out-degree + sink flag from ONE endpoint explode and one
    // aggregate (optimization r18, guide §2.4): the former shape built the
    // node list as union+distinct and then LEFT-JOINED a separate
    // out-degree aggregate onto it — two exchanges and a join where one
    // keyed aggregate suffices (each edge contributes (src, 1) and
    // (dst, 0); the sum per node is the out-degree, zero ⇔ sink, and the
    // group keys are exactly the distinct endpoints).
    val degs = e.select(explode(array(
        struct(col("src").as("node"), lit(1L).as("o")),
        struct(col("dst").as("node"), lit(0L).as("o")))).as("x"))
      .groupBy(col("x.node").as("node"))
      .agg(sum(col("x.o")).as("outdeg"))
      .materialize
    val nodes = degs.select(col("node"), (col("outdeg") === 0L).as("is_sink"))
    val n = nodes.agg(count(lit(1)).as("n_nodes"))
    // out-degree denormalized onto each edge ONCE — each round is then a
    // single ranks ⋈ edges join instead of ranks ⋈ outdeg ⋈ edges
    val eod = e.join(degs.select(col("node").as("src"), col("outdeg")), "src")
      .select(col("src"), col("dst"), col("outdeg")).materialize

    // One driver-side probe (tiny scan of the checkpointed nodes frame,
    // same precedent as the CC fixpoint isEmpty): a sink-free graph — the
    // common case after symmetrization — skips the dangling machinery
    // entirely. The skipped term is an exact IEEE `+ 0.0`, so both paths
    // are bit-identical where both apply.
    val hasSinks = !nodes.filter(col("is_sink")).isEmpty

    def contribOf(ranks: DataFrame): DataFrame = ranks.as("rk")
      .join(eod.as("eg"), col("rk.node") === col("eg.src"))
      .select(col("eg.dst").as("dst"),
        floor(col("rk.rank") / col("eg.outdeg") * lit(RankScale) + lit(0.5))
          .cast("long").as("cq"))
      .groupBy(col("dst")).agg(sum(col("cq")).as("sumq"))

    if (!hasSinks) {
      // Sink-free fast path: the flag column is shed right after the probe
      // so every round frame stays two-column (node, rank) — the round-5
      // shape that carried is_sink through every join taxed the hot path
      // for a column the formula never reads. The whole loop is one fused
      // lazy job: no per-round broadcast jobs, no persisted rounds.
      val nd = nodes.select(col("node"))
      var ranks = nd.crossJoin(broadcast(n))
        .select(col("node"), q(lit(1.0) / col("n_nodes")).as("rank"))
      for (_ <- 1 to iters) {
        val contrib = contribOf(ranks)
        ranks = nd.as("nd").crossJoin(broadcast(n))
          .join(contrib.as("ct"), col("nd.node") === col("ct.dst"), "left")
          .select(col("nd.node").as("node"),
            q(lit(1 - d) / col("n_nodes") +
              lit(d) * (coalesce(col("sumq"), lit(0L)) / lit(RankScale)))
              .as("rank"))
      }
      ranks
    } else {
      // Sink path: ranks is consumed twice per round (dangling aggregate +
      // contribution join), so each round persists and is materialized
      // eagerly (count) — then the SUPERSEDED round unpersists, keeping
      // cache residency bounded at 2 frames regardless of iters instead of
      // growing linearly (MEMORY_AND_DISK spill pressure at deep
      // iteration). The final frame stays persisted for the caller's
      // action — O(1), released by Spark's ContextCleaner when dropped.
      var ranks = nodes.crossJoin(broadcast(n))
        .select(col("node"), col("is_sink"),
          q(lit(1.0) / col("n_nodes")).as("rank"))
        .persist()
      for (_ <- 1 to iters) {
        val dang = ranks.filter(col("is_sink"))
          .agg(coalesce(
            sum(floor(col("rank") * lit(RankScale) + lit(0.5)).cast("long")),
            lit(0L)).as("dangq"))
        val next = nodes.as("nd").crossJoin(broadcast(n))
          .crossJoin(broadcast(dang))
          .join(contribOf(ranks).as("ct"),
            col("nd.node") === col("ct.dst"), "left")
          .select(col("nd.node").as("node"), col("nd.is_sink").as("is_sink"),
            q(lit(1 - d) / col("n_nodes") +
              lit(d) * (coalesce(col("sumq"), lit(0L)) / lit(RankScale) +
                col("dangq") / lit(RankScale) / col("n_nodes")))
              .as("rank"))
          .persist()
        next.count()
        ranks.unpersist(false)
        ranks = next
      }
      ranks.select(col("node"), col("rank"))
    }
  }

  /** Synchronous label propagation (community detection): every node
    * starts labeled with its own id; each round it adopts the most
    * frequent label among its NEIGHBORS' previous-round labels, ties
    * broken by the smallest label — fully deterministic, unlike the
    * async/random-order LPA variants, so the result is oracle-checkable
    * and stable under repartitioning. A node with no out-edges (a pure
    * sink in a directed input) KEEPS its previous label — pass a
    * symmetrized edge list for undirected semantics; multi-edges should
    * be pre-deduplicated or they weight the vote.
    *
    * Scale shape: per round ONE keyed join (edges ⋈ labels on dst — the
    * same co-locatable shuffle PageRank's contribution step uses) + one
    * (node, label) count whose top-1 vote is an ARGMAX AGGREGATE
    * (`max(struct(c, −label))`, partial-aggregated map-side — r18
    * replaced the per-node window, which shuffled AND sorted the vote
    * frame); labels (V rows) materialize per round, edges are never
    * mutated. No driver graph, O(iters) rounds — the pointer-free
    * sibling of the CC loop. */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e = edges.select(col("src"), col("dst")).materialize
    var labels = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .select(col("node"), col("node").as("label"))
      .materialize
    for (it <- 1 to iters) {
      // top-1 vote as an ARGMAX AGGREGATE, not a window (optimization
      // r18, guide §2.3/§2.4): max(struct(c, −label)) ⇔ (c desc, label
      // asc) — the former row_number shape re-shuffled AND sorted every
      // (node, label) vote row; the aggregate partial-combines map-side
      // and never sorts the full vote frame. −label is safe: labels are
      // node ids ≥ 0. Bit-identical pick by construction.
      val voted = e
        .join(labels.select(col("node").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(max(struct(col("c"), (lit(0L) - col("label")).as("_nl"))).as("_b"))
        .select(col("node"), (lit(0L) - col("_b._nl")).as("_new"))
      labels = labels
        .join(voted, Seq("node"), "left")
        .select(col("node"), coalesce(col("_new"), col("label")).as("label"))
        .materializeLoop(it) // V rows; truncates the iterative lineage
    }
    labels
  }

  /** k-core membership: iteratively peel nodes of (undirected) degree
    * < k until fixpoint — the maximal subgraph where every surviving
    * node keeps ≥ k surviving neighbors, the standard backbone cut for
    * graph cleaning. Peeling is CONFLUENT (the fixpoint is independent
    * of removal order), so the result is deterministic and
    * oracle-checkable. The input is symmetrized and de-duplicated here;
    * self-loops are dropped.
    *
    * Runs AT MOST `maxRounds` peel rounds with an early exit at the
    * true fixpoint — callers that mirror an unrolled-R-round oracle get
    * bit-identical results either way (post-fixpoint rounds are
    * no-ops). Returns (node, core_deg), core_deg = the node's degree
    * within the surviving subgraph.
    *
    * Scale shape: per round one keyed degree aggregate + two keyed
    * semi-joins filtering the edge list; the edge frame materializes
    * per round (bounded residency, lineage truncated) and the
    * convergence probe is a one-row count — no driver graph. O(rounds)
    * keyed shuffles, each co-partitioned on the node key. */
  def kcore(edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    require(k >= 1 && maxRounds >= 1, "k and maxRounds must be >= 1")
    // filter AFTER the union: filtering only the forward arm would let a
    // self-loop re-enter through the reversed select
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
    var und = sym.materialize
    // Per-round job budget (optimization r18, guide §5 — the driver
    // serializes on every blocking action): the former loop ran FOUR
    // blocking jobs per round (count-before, keep materialize, und
    // materialize, count-after) where two suffice — the round's entry
    // count IS the previous round's exit count (carried in a local var,
    // one count job per round instead of two), and `keep` no longer
    // materializes: both semi-join consumers re-derive it from the
    // ALREADY-CHECKPOINTED `und`, so the duplicated subtree is one
    // aggregate over a truncated leaf — plan growth stays bounded (the
    // und materializeLoop truncates every round under `local`, every 2
    // under `persist`), and one eager job per round disappears.
    var prev = und.count()
    var rounds = 0
    var converged = false
    while (rounds < maxRounds && !converged) {
      val keep = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("node"))
      und = und
        .join(keep.select(col("node").as("src")), "src")
        .join(keep.select(col("node").as("dst")), "dst")
        .select(col("src"), col("dst"))
        .materializeLoop(rounds + 1)
      val after = und.count()
      converged = after == prev
      prev = after
      rounds += 1
    }
    und.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("core_deg"))
  }

  /** Exact triangle count (plus node/edge/wedge totals and the global
    * clustering coefficient) over an undirected edge list.
    *
    * Scale design: the classic degree-orientation algorithm. Each edge is
    * oriented from its (degree, id)-smaller endpoint to the larger one,
    * turning the graph into a DAG in which every triangle appears as
    * exactly one directed wedge u→v, v→w closed by u→w. The wedge join's
    * cost is Σ_v out(v)·in(v), which degree orientation bounds by
    * O(m^1.5) regardless of skew — orienting by raw id instead would let
    * one low-id hub contribute deg² wedges (the star-graph blowup). All
    * three joins are keyed equi-joins; counts are exact integer math.
    * Output is one row: n_nodes, n_edges, n_wedges, n_triangles,
    * clustering = 3·triangles/wedges (4-dp). */
  def triangles(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct().materialize
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg")).materialize
    val keepAB = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val dir = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(when(keepAB, col("a")).otherwise(col("b")).as("u"),
        when(keepAB, col("b")).otherwise(col("a")).as("v"))
    val tri = dir.as("e1")
      .join(dir.as("e2"), col("e2.u") === col("e1.v"))
      .join(dir.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .agg(count(lit(1)).as("n_triangles"))
    val totals = deg.agg(
      count(lit(1)).as("n_nodes"),
      expr("sum(deg) div 2").as("n_edges"),
      sum(expr("(deg * (deg - 1)) div 2")).cast("long").as("n_wedges"))
    totals.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        r4(lit(3.0) * col("n_triangles") / nullif(col("n_wedges"), lit(0L)))
          .as("clustering"))
  }
}
