package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** SCALE.md's IVF routing claim made concrete: the corpus written
  * partitioned by centroid id, a probe reading ONLY its cluster's
  * partition via partition pruning. */
class IvfPartitionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("IVF corpus partitioned by centroid_id: probe reads one cluster, pruned at the source") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = graft.SessionScoped.scratchDir("graft_ivf") + "/corpus"
    val assigned = emb.join(
      Similarity.ivfAssign(emb, Similarity.ivfTrain(emb, 8))
        .select("vec_id", "centroid_id"), "vec_id")
    assigned.write.partitionBy("centroid_id").parquet(dir)

    val corpus = spark.read.parquet(dir)
    val probe = corpus.filter(col("centroid_id") === 3)
    // pruning: the scan's partition filter carries the centroid predicate
    val scan = probe.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("centroid_id"))
    // the probe's rows are exactly cluster 3's assignment
    val expected = assigned.filter(col("centroid_id") === 3).count()
    assert(probe.count() == expected && expected > 0)
    // and every cluster is nonempty-ish overall (sane assignment spread)
    assert(corpus.select("centroid_id").distinct().count() == 8)
  }

  test("multi-probe search: nprobe=2 recall vs brute force >= nprobe=1 recall") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.cosineTopK(emb, 10, 3))
    val p1 = pairs(Similarity.ivfSearch(emb, 8, 10, 3))
    val p2 = pairs(Similarity.ivfSearchMultiProbe(emb, 8, 10, 3, nprobe = 2))
    def recall(approx: Set[(Long, Long)]) =
      approx.intersect(exact).size.toDouble / exact.size
    assert(recall(p2) >= recall(p1))
    assert(recall(p2) > 0.5) // probing 2 of 8 clusters must find most true neighbors
  }

  test("int8 quantization: per-element error < scale/2; q8 top-k recall >= 0.9 vs exact") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val joined = graft.operators.Similarity.quantizeInt8(emb).join(emb, "vec_id")
      .collect()
    joined.foreach { r =>
      val scale = r.getAs[Double]("scale")
      val q = r.getAs[scala.collection.Seq[Int]]("qvec")
      val x = r.getAs[scala.collection.Seq[Float]]("embedding")
      q.zip(x).foreach { case (qi, xi) =>
        assert(math.abs(qi * scale - xi) <= scale / 2 + 1e-9,
          s"vec ${r.getAs[Long]("vec_id")}: $qi*$scale vs $xi")
      }
    }
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.cosineTopK(emb, 10, 5))
    val q8 = pairs(graft.operators.Similarity.cosineTopKQ8(emb, 10, 5))
    assert(q8.intersect(exact).size.toDouble / exact.size >= 0.9)
  }

  test("Lloyd training tightens clusters vs untrained seeds and keeps spread bounded") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def meanScore(assign: org.apache.spark.sql.DataFrame): Double =
      assign.agg(avg(col("cscore"))).collect()(0).getDouble(0)
    val seeded = Similarity.ivfAssign(emb, 8)
    val trained = Similarity.ivfAssign(emb, Similarity.ivfTrain(emb, 8, iters = 2))
    // training must not make the mean vector→centroid cosine worse
    assert(meanScore(trained) >= meanScore(seeded) - 1e-9,
      "Lloyd iterations degraded assignment quality")
    // cluster-size spread: no cluster may swallow the corpus (skew knob)
    val sizes = trained.groupBy("centroid_id").count()
      .collect().map(_.getLong(1))
    val n = sizes.sum.toDouble
    assert(sizes.max < n * 0.7, s"degenerate clustering: ${sizes.mkString(",")}")
  }

  test("embedOutliers flags the planted junk vector, not the cluster bulk") {
    import spark.implicits._
    def jit(base: Array[Float], i: Int, eps: Float) = {
      val v = base.clone(); v(2) = eps * (i % 3); v
    }
    val a = Array(1f, 0f, 0f, 0f)
    val b = Array(0f, 1f, 0f, 0f)
    val rows =
      // vec 0 in A and vec 1 in B so the k=2 seeds start one per cluster
      Seq((0L, a), (1L, b)) ++
        (2L to 11L).map(i => (i, jit(a, i.toInt, 0.02f))) ++
        (12L to 21L).map(i => (i, jit(b, i.toInt, 0.02f))) :+
        ((22L, Array(0.5f, 0.45f, 0.74f, 0f)))   // junk: near neither center
    val emb = rows.toDF("vec_id", "embedding")
    val out = Similarity.embedOutliers(emb, nCentroids = 2, iters = 2, frac = 0.06)
      .collect()
    val flagged = out.filter(_.getAs[Boolean]("is_outlier")).map(_.getAs[Long]("vec_id"))
    // ceil(cluster_n * 0.06) = 1 per cluster: the junk vector must be the
    // flagged member of its cluster, and its rank is the cluster's worst
    assert(flagged.contains(22L), s"junk not flagged; flagged=${flagged.mkString(",")}")
    val junk = out.find(_.getAs[Long]("vec_id") == 22L).get
    assert(junk.getAs[Long]("rk") == 1L)
    // bulk members of the OTHER cluster are not flagged beyond its 1 slot
    assert(flagged.length == 2)
  }

  test("persisted IVF index: loaded search == inline search; probe prunes partitions") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val dir = graft.SessionScoped.scratchDir("graft_ivfidx")
    Similarity.saveIvfIndex(emb, dir, nCentroids = 8, iters = 2)
    // on-disk layout: one directory per cluster (partitioned by centroid_id)
    val parts = new java.io.File(s"$dir/assign").listFiles()
      .filter(_.getName.startsWith("centroid_id=")).map(_.getName)
    assert(parts.length > 1, s"assignment not partitioned: ${parts.mkString(",")}")
    // identical results from the persisted index and the inline path
    val inline = Similarity.ivfSearch(emb, 8, nQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    val loaded = Similarity.ivfSearchIndexed(spark, emb, dir, nQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    assert(loaded.sameElements(inline))
    // a single-cluster probe over the loaded assignment is a
    // PARTITION-PRUNED scan: the predicate lands in PartitionFilters
    val probe = spark.read.parquet(s"$dir/assign")
      .filter(col("centroid_id") === 0)
    val scan = probe.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("centroid_id"),
      s"probe not partition-pruned: $scan")
  }

  test("append-maintained index == single-save index (rows and layout)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cent = Similarity.ivfTrain(emb, 8, 2)
    val whole = graft.SessionScoped.scratchDir("graft_ivf_a")
    val grown = graft.SessionScoped.scratchDir("graft_ivf_b")
    Similarity.saveIvfIndexWith(emb, cent, whole)
    // grown: even half saved, odd half appended as the "daily delta"
    Similarity.saveIvfIndexWith(emb.filter(col("vec_id") % 2 === 0), cent, grown)
    Similarity.appendToIvfIndex(spark, emb.filter(col("vec_id") % 2 === 1), grown)
    // partition-column type is inferred from dir names (int), cast to pin
    def rows(d: String) = spark.read.parquet(s"$d/assign")
      .select(col("vec_id"), col("centroid_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows(grown) == rows(whole))
    // appended files still land INSIDE the centroid partitions
    val parts = new java.io.File(s"$grown/assign").listFiles()
      .filter(_.getName.startsWith("centroid_id=")).map(_.getName)
    assert(parts.length > 1)
  }

  test("Lloyd fit: identical seeds leave an empty centroid, which drops out") {
    import spark.implicits._
    val (a, b) = (Array(1f, 0f, 0f), Array(0f, 1f, 0f))
    val emb = Seq((0L, a), (1L, a), (2L, b), (3L, a), (4L, b)).toDF("vec_id", "embedding")
    // seeds 0 and 1 are equal, the tie goes to the lowest id, so centroid 1
    // gets no point and k shrinks from 3 to 2
    val cent = Similarity.ivfTrain(emb, k = 3, iters = 1).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    assert(cent == Seq((0L, a.toSeq), (2L, b.toSeq)))
  }

  test("Lloyd fit: rows with a null embedding change no centroid") {
    import spark.implicits._
    val base = (1L to 40L).map(i => (i, Array.tabulate(4)(j =>
      ((i * 7 + j * 3) % 5 - 2).toFloat + 0.5f))).toDF("vec_id", "embedding")
    // one null row inside the seed range, one outside it
    val withNulls = base.union(
      Seq((0L, null: Array[Float]), (1000000L, null: Array[Float])).toDF("vec_id", "embedding"))
    def cent(df: org.apache.spark.sql.DataFrame) = Similarity.ivfTrain(df, 4, 2).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    assert(cent(withNulls) == cent(base))
  }

  test("Lloyd fit: a zero-norm training vector fails loudly") {
    import spark.implicits._
    val emb = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)), (2L, Array(0f, 0f)))
      .toDF("vec_id", "embedding")
    val err = intercept[ArithmeticException](Similarity.ivfTrain(emb, k = 2, iters = 1))
    assert(err.getMessage.contains("DIVIDE_BY_ZERO"))
  }

  test("Lloyd training frame over the row cap fails with the cap's message") {
    import spark.implicits._
    val emb = (0L to 4L).map(i => (i, Array(1f, i.toFloat))).toDF("vec_id", "embedding")
    assert(Similarity.collectTraining(emb.limit(3), cap = 3).length == 3)
    val err = intercept[IllegalArgumentException](Similarity.collectTraining(emb, cap = 3))
    assert(err.getMessage.contains("more than 3 rows") &&
      err.getMessage.contains("train on a sample"))
  }
}
