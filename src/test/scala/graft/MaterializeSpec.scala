package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Graph, Materialize}

/** The materialization strategy moves bytes, never values: the iterative
  * consumers (CC fixpoint loop, PageRank rounds) must produce bit-identical
  * frames under local / persist / checkpoint. `persist` + `checkpoint` are
  * the cluster-mode paths (recompute-on-loss / durable truncation) that a
  * local[_] run cannot exercise for fault tolerance — but it CAN pin that
  * swapping the strategy never changes a result. */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // two 3-cliques bridged to nothing + one chain + isolated pair: several
  // components, >1 CC round, and a sink-heavy directed graph for pagerank
  private def pairs = Seq(
    (1L, 2L), (2L, 3L), (1L, 3L),
    (10L, 11L), (11L, 12L),
    (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L),
    (30L, 31L)).toDF("doc_a", "doc_b")

  private def edges = pairs.select(
    org.apache.spark.sql.functions.col("doc_a").as("src"),
    org.apache.spark.sql.functions.col("doc_b").as("dst"))

  private def withStrategy[A](s: String)(f: => A): A = {
    spark.conf.set(Materialize.ConfKey, s)
    try f finally spark.conf.unset(Materialize.ConfKey)
  }

  test("CC and PageRank results are identical under all three strategies") {
    spark.sparkContext.setCheckpointDir(
      graft.SessionScoped.scratchDir("graft_ckpt"))
    def ccRun() = Dedup.connectedComponents(pairs)
      .orderBy("doc_id").collect().toSeq
    def prRun() = Graph.pagerank(edges, iters = 3)
      .orderBy("node").collect().toSeq
    val (ccLocal, prLocal) = (ccRun(), prRun())            // default: local
    for (s <- Seq("persist", "checkpoint")) withStrategy(s) {
      assert(ccRun() == ccLocal, s"CC drifted under strategy=$s")
      assert(prRun() == prLocal, s"PageRank drifted under strategy=$s")
    }
  }

  test("SemDeDup is identical under all three strategies (real embeddings)") {
    // the semdedup family materializes its IVF assignment mid-pipeline
    // (Similarity.semDedup) — the other iterative consumer class next to
    // CC/PageRank, pinned here on real sf0.001 vectors so the strategy
    // swap crosses a genuine multi-consumer cached frame
    spark.sparkContext.setCheckpointDir(
      graft.SessionScoped.scratchDir("graft_ckpt_sd"))
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def sdRun() = graft.operators.Similarity
      .semDedup(emb, 0.4, graft.operators.Similarity.clustersFor(emb.count()))
      .orderBy("vec_id").collect().toSeq
    val base = sdRun()                                     // default: local
    for (s <- Seq("persist", "checkpoint")) withStrategy(s) {
      assert(sdRun() == base, s"semDedup drifted under strategy=$s")
    }
  }

  test("deep Lloyd loop completes under persist (loop auto-truncation)") {
    // before Materialize.loop, a deep k-means iteration under
    // materializer=persist was non-viable — the lineage-kept plan is a
    // self-referencing DAG whose describe-time expansion is exponential
    // in rounds (r16 sweep: driver OOM uncapped; >20 min plan walk
    // capped). The loop-depth-aware truncation bounds lineage to
    // Materialize.LoopTruncateEvery segments, so this run must finish in seconds AND
    // produce the exact frame the local strategy produces.
    spark.sparkContext.setCheckpointDir(
      graft.SessionScoped.scratchDir("graft_ckpt_lloyd"))
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def train() = graft.operators.Similarity.ivfTrain(emb, k = 4, iters = 12)
      .orderBy("centroid_id").collect().toSeq
    val base = train()                                     // default: local
    withStrategy("persist") {
      assert(train() == base, "deep Lloyd drifted under strategy=persist")
    }
  }

  test("deep label propagation is identical under persist (loop auto-truncation)") {
    // the loop-depth-aware truncation (Materialize.loop) under persist with
    // a checkpoint dir: twelve rounds cross six truncation points
    spark.sparkContext.setCheckpointDir(
      graft.SessionScoped.scratchDir("graft_ckpt_lp"))
    def lp() = Graph.labelPropagation(edges, iters = 12)
      .orderBy("node").collect().toSeq
    val base = lp()                                        // default: local
    withStrategy("persist") {
      assert(lp() == base, "label propagation drifted under strategy=persist")
    }
  }

  test("unknown strategy fails fast") {
    withStrategy("bogus") {
      intercept[IllegalArgumentException] {
        Dedup.connectedComponents(pairs).collect()
      }
    }
  }

  private def withHuge[A](s: String)(f: => A): A = {
    spark.conf.set(Materialize.HugeConfKey, s)
    try f finally spark.conf.unset(Materialize.HugeConfKey)
  }

  test("huge-frame strategies (disk/off/inherit) are value-identical") {
    // DSIR is the consumer that motivated huge(): its gram frame feeds
    // three downstream readers, so a strategy that changed values would
    // corrupt the weights
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run() = graft.operators.TextAnalysis
      .dsirWeights(docs, org.apache.spark.sql.functions.col("lang") === "en")
      .orderBy("doc_id").collect().toSeq
    val base = run()                                       // default: disk
    for (s <- Seq("off", "inherit")) withHuge(s) {
      assert(run() == base, s"dsirWeights drifted under huge=$s")
    }
    withHuge("bogus") {
      intercept[IllegalArgumentException] { run() }
    }
  }
}
