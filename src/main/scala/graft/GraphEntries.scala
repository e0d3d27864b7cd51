package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.EntryMath._
import graft.operators.{FuzzyJoin, Graph}
import graft.sources.Tables

/** Graph-analytics query entries (split from ExtendedEntries): PageRank
  * (symmetrized + dangling), label-propagation communities, k-core,
  * triangle census over the backbone-cut co-supply graph, and fuzzy
  * entity matching — each with its DuckDB oracle (mechanically unrolled
  * fixed-round mirrors). */
private[graft] object GraphEntries {

  /** Fuzzy entity matching: blocked Jaro-Winkler self-join over part
    * names (prefix-3 + length-band blocking, hot-block cap, JW ≥ 0.85). */
  private def qFuzzyJoin(s: SparkSession, dir: String): DataFrame =
    FuzzyJoin.selfPairs(Tables.part(s, dir), "p_name", tau = 0.85)
      .select(col("name_a"), col("name_b"), r(col("sim")).as("sim"))

  /** PageRank damping factor, shared with the oracle (the teleport term is
    * interpolated as `1 - PrDamping` so both engines parse the identical
    * IEEE double — writing 0.15 literally would NOT match 1.0 − 0.85). */
  private val PrDamping = 0.85

  /** Distinct (custkey·2, suppkey·2+1) trade pairs that share an order —
    * the node-disambiguated bipartite relation both PageRank queries rank. */
  private def tradePairs(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("orderkey"), col("l_suppkey").as("supp"))
    val od = Tables.orders(s, dir)
      .select(col("o_orderkey").as("orderkey"), col("o_custkey").as("cust"))
    li.join(od, "orderkey")
      .select((col("cust") * 2).as("a"), (col("supp") * 2 + 1).as("b")).distinct()
  }

  /** k-core peel threshold and the unrolled oracle's round count.
    * Peeling is confluent and post-fixpoint rounds are no-ops, so the
    * early-exiting Spark loop and the always-8-round oracle agree
    * whether or not the fixpoint lands inside 8 rounds. */
  private val KcoreK = 8
  private val KcoreRounds = 8

  /** k-core backbone of the trade graph ([[Graph.kcore]]): iteratively
    * peel nodes with fewer than KcoreK surviving partners — the graph-
    * cleaning cut between raw degree filtering (one round) and full
    * community structure. */
  private def qKcore(s: SparkSession, dir: String): DataFrame = {
    val pairs = tradePairs(s, dir)
    Graph.kcore(pairs.select(col("a").as("src"), col("b").as("dst")),
      KcoreK, KcoreRounds)
  }

  /** 3-iteration PageRank over the symmetrized customer↔supplier trade
    * graph. Symmetrizing gives every node an out-edge, so the dangling
    * term in [[Graph.pagerank]] contributes an exact +0.0 here. Ranks
    * surface ×1e6 (ppm) so 4dp rounding keeps resolution at any graph
    * size. */
  private def qPagerank(s: SparkSession, dir: String): DataFrame = {
    val pairs = tradePairs(s, dir)
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    Graph.pagerank(edges, iters = 3, d = PrDamping)
      .select(col("node"), r(col("rank") * lit(1e6)).as("rank_ppm"))
  }

  /** 3-round synchronous label propagation over the symmetrized trade
    * graph ([[Graph.labelPropagation]]) — community detection, the
    * graph-family member between PageRank (importance) and the
    * connected-components consumer (reachability): most-frequent
    * neighbor label, smallest-label tiebreak, fully deterministic.
    * Output adds each community's size via a label-partitioned count. */
  private def qCommunities(s: SparkSession, dir: String): DataFrame = {
    val pairs = tradePairs(s, dir)
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    Graph.labelPropagation(edges, iters = 3)
      .select(col("node"), col("label").as("community"))
      .withColumn("community_size",
        count(lit(1)).over(Window.partitionBy(col("community"))))
  }

  /** 3-iteration PageRank over the DIRECTED customer→supplier graph (no
    * symmetrization): every supplier node is a sink, so roughly half the
    * total rank is dangling each round — the live fixture proving
    * [[Graph.pagerank]]'s dangling-mass redistribution against the same
    * mechanically unrolled oracle. */
  private def qPagerankDangling(s: SparkSession, dir: String): DataFrame = {
    val edges = tradePairs(s, dir)
      .select(col("a").as("src"), col("b").as("dst"))
    Graph.pagerank(edges, iters = 3, d = PrDamping)
      .select(col("node"), r(col("rank") * lit(1e6)).as("rank_ppm"))
  }

  /** Gap-filled hourly close/volume series: dense per-symbol grid, last
    * observation carried forward (see [[Resample]] for the scale shape). */
  /** Backbone of the supplier co-supply graph: suppliers are linked by the
    * number of distinct parts both supply, and only the TopCoEdges
    * strongest relationships survive — raw bipartite projections of
    * high-cardinality relations saturate toward complete graphs (at sf0.1
    * every supplier pair shares some part), so the census without the
    * backbone cut is Θ(n³). The per-part pair expansion is bounded by the
    * per-part supplier count (TPC-H: single digits); the cut is an
    * orderBy+limit → TakeOrderedAndProject (per-partition heaps, no global
    * sort) with a full (count, a, b) tiebreak for determinism. */
  private def qTriangles(s: SparkSession, dir: String): DataFrame = {
    val ps = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sv")).distinct()
    val co = ps.as("x").join(ps.as("y"),
        col("x.pk") === col("y.pk") && col("x.sv") < col("y.sv"))
      .groupBy(col("x.sv").as("a"), col("y.sv").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val top = co.orderBy(col("cnt").desc, col("a"), col("b")).limit(TopCoEdges)
      .select(col("a").as("src"), col("b").as("dst"))
    Graph.triangles(top)
  }

  private val TopCoEdges = 5000

  /** Mechanical 3-round unroll of [[Graph.pagerank]]: same 1e12 rank
    * quantization, same interpolated damping constants, and the same
    * per-round dangling-mass CTE (quantized rank sum of nodes absent from
    * `outdeg`, redistributed as d·D/N — on a sink-free graph dq = 0 and
    * the term is an exact IEEE `+ 0.0`). `edgesSql` supplies the
    * `pairs`/`edges` CTEs. */
  private def pagerankUnrollSql(edgesSql: String): String = {
    val rounds = (1 to 3).map { i =>
      s"""d$i AS (
         |  SELECT CAST(COALESCE(sum(CAST(floor(r.rank * 1e12 + 0.5) AS BIGINT)), 0) AS BIGINT) AS dq
         |  FROM r${i - 1} r LEFT JOIN outdeg o ON r.node = o.src
         |  WHERE o.src IS NULL
         |), c$i AS (
         |  SELECT e.dst,
         |    CAST(sum(CAST(floor(r.rank / o.odeg * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS sumq
         |  FROM r${i - 1} r JOIN outdeg o ON r.node = o.src
         |  JOIN edges e ON e.src = o.src
         |  GROUP BY e.dst
         |), r$i AS (
         |  SELECT nodes.node,
         |    floor((${1 - PrDamping} / n.nn + $PrDamping * (COALESCE(c$i.sumq, 0) / 1e12 + d$i.dq / 1e12 / n.nn)) * 1e12 + 0.5) / 1e12 AS rank
         |  FROM nodes CROSS JOIN n CROSS JOIN d$i
         |  LEFT JOIN c$i ON nodes.node = c$i.dst
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql, nodes AS (
       |  SELECT src AS node FROM edges UNION SELECT dst FROM edges
       |), n AS (SELECT count(*) AS nn FROM nodes),
       |outdeg AS (SELECT src, count(*) AS odeg FROM edges GROUP BY src),
       |r0 AS (
       |  SELECT node, floor(1.0 / n.nn * 1e12 + 0.5) / 1e12 AS rank
       |  FROM nodes CROSS JOIN n
       |),
       |$rounds
       |SELECT node, ${r4("rank * 1e6")} AS rank_ppm FROM r3""".stripMargin
  }

  val entries: Seq[Query] = Seq(
    Query("q_fuzzy_join", qFuzzyJoin, Some(
      """WITH names AS (
        |  SELECT DISTINCT p_name AS name FROM part WHERE p_name IS NOT NULL
        |), b AS (
        |  SELECT name, substr(name, 1, 3) AS blk, length(name) AS len,
        |    count(*) OVER (PARTITION BY substr(name, 1, 3)) AS blk_n
        |  FROM names
        |), capped AS (SELECT name, blk, len FROM b WHERE blk_n <= 1000)
        |SELECT a.name AS name_a, c.name AS name_b,
        |  floor(jaro_winkler_similarity(a.name, c.name) * 10000 + 0.5) / 10000 AS sim
        |FROM capped a JOIN capped c
        |  ON a.blk = c.blk AND a.name < c.name AND abs(a.len - c.len) <= 2
        |WHERE jaro_winkler_similarity(a.name, c.name) >= 0.85""".stripMargin)),
    // degree-oriented triangle census, same (deg, id) total order as
    // Graph.triangles so each triangle is counted exactly once
    Query("q_triangles", qTriangles, Some(
      s"""WITH sup AS (
        |  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sv FROM lineitem
        |), co AS (
        |  SELECT x.sv AS a, y.sv AS b, count(*) AS cnt
        |  FROM sup x JOIN sup y ON x.pk = y.pk AND x.sv < y.sv
        |  GROUP BY 1, 2
        |), e0 AS (
        |  SELECT a, b FROM co ORDER BY cnt DESC, a, b LIMIT $TopCoEdges
        |), d AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0
        |  ) GROUP BY node
        |), o AS (
        |  SELECT
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e0.a < e0.b)
        |         THEN e0.a ELSE e0.b END AS u,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e0.a < e0.b)
        |         THEN e0.b ELSE e0.a END AS v
        |  FROM e0 JOIN d da ON da.node = e0.a JOIN d db ON db.node = e0.b
        |), t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM o e1 JOIN o e2 ON e2.u = e1.v
        |       JOIN o e3 ON e3.u = e1.u AND e3.v = e2.v
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(CAST(sum(deg) AS BIGINT) // 2 AS BIGINT) AS n_edges,
        |    CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges
        |  FROM d
        |)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  floor(3.0 * n_triangles / nullif(n_wedges, 0) * 10000 + 0.5) / 10000
        |    AS clustering
        |FROM tot, t""".stripMargin)),
    Query("q_pagerank", qPagerank, Some(pagerankUnrollSql(
      """pairs AS (
        |  SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |), edges AS (
        |  SELECT a AS src, b AS dst FROM pairs
        |  UNION ALL SELECT b AS src, a AS dst FROM pairs
        |)""".stripMargin))),
    Query("q_pagerank_dangling", qPagerankDangling, Some(pagerankUnrollSql(
      """pairs AS (
        |  SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |), edges AS (SELECT a AS src, b AS dst FROM pairs)""".stripMargin))),
    // k-core peel unrolled to exactly KcoreRounds rounds: each round
    // keeps edges whose BOTH endpoints had degree >= k in the previous
    // round's subgraph — post-fixpoint rounds are no-ops, so this equals
    // Graph.kcore's early-exiting loop
    Query("q_kcore", qKcore, Some {
      // AS MATERIALIZED is load-bearing: each round references the
      // previous one 3x, and inlined CTEs would re-expand the base scan
      // 3^rounds times ("too many open files" long before any result)
      val rounds = (1 to KcoreRounds).map { i =>
        s"""d$i AS MATERIALIZED (
           |  SELECT src, count(*) AS deg FROM e${i - 1} GROUP BY src),
           |e$i AS MATERIALIZED (
           |  SELECT e.src, e.dst FROM e${i - 1} e
           |  JOIN d$i s ON s.src = e.src AND s.deg >= $KcoreK
           |  JOIN d$i t ON t.src = e.dst AND t.deg >= $KcoreK
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |), e0 AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION SELECT b AS src, a AS dst FROM pairs
         |),
         |$rounds
         |SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg
         |FROM e$KcoreRounds GROUP BY src""".stripMargin
    }),
    // synchronous LPA unrolled: per round, per node, the most frequent
    // neighbor label with smallest-label tiebreak — mirrors
    // Graph.labelPropagation exactly
    Query("q_communities", qCommunities, Some {
      val rounds = (1 to 3).map { i =>
        s"""c$i AS (
           |  SELECT e.src AS node, l.label, count(*) AS c
           |  FROM edges e JOIN l${i - 1} l ON l.node = e.dst
           |  GROUP BY 1, 2
           |), l$i AS (
           |  SELECT node, label FROM (
           |    SELECT node, label,
           |      row_number() OVER (PARTITION BY node
           |        ORDER BY c DESC, label) AS rn
           |    FROM c$i
           |  ) WHERE rn = 1
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |), edges AS (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION ALL SELECT b AS src, a AS dst FROM pairs
         |), l0 AS (
         |  SELECT node, node AS label FROM (
         |    SELECT src AS node FROM edges UNION SELECT dst FROM edges
         |  )
         |),
         |$rounds
         |SELECT node, label AS community,
         |  CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
         |FROM l3""".stripMargin
    }),
  )
}
