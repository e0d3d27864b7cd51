package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FreqSketch
import graft.streaming.{Feeder, StreamGate}

/** The streaming Misra–Gries accumulator's contracts: with k above the
  * live vocabulary the merged stream summary is EXACT (no trim ever
  * fires, so merge order is irrelevant and stream == batch == truth bit
  * for bit); with a small k the merge-tree-independent error theorems
  * hold; and per-batch segments are overwrite-keyed, so replaying a
  * batch is a no-op. */
class StreamTopkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // 600 weighted items over ms 0..599: vocab {w0..w9}, zipf-ish skew
  private def feed(work: String): org.apache.spark.sql.DataFrame = {
    val rows = (0 until 600).map { i =>
      val r = i % 15
      val item = if (r < 5) "w0" else if (r < 9) "w1" else s"w${2 + r % 8}"
      (item, i.toLong)
    }
    val df = rows.toDF("item", "_ms")
    Feeder.writeTimeSlicedFeed(df, "_ms", work, slices = 3)
    df
  }

  private def runStream(work: String, k: Int): Unit = {
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("item",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1").parquet(s"$work/feed")
    val q = StreamGate.run(stream, (mb, batchId) =>
      mb.agg(FreqSketch.mgSketch(col("item"), k).as("sk"))
        .withColumn("batch_id", lit(batchId)), work)
    q.processAllAvailable(); q.stop()
  }

  test("k above vocab: merged stream summary is exact and == batch") {
    val work = graft.SessionScoped.scratchDir("graft_stopk1")
    val df = feed(work)
    runStream(work, k = 32) // vocab is 10 — no trim can ever fire
    val got = StreamGate.report(spark, work)
      .agg(FreqSketch.mgMerge(col("sk"), 32).as("s"))
      .select(explode(col("s.items")).as("it"), col("s.d"), col("s.n"))
      .select(col("it.item"), col("it.est"), col("d"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val truth = df.groupBy("item").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.forall { case (_, _, d, n) => d == 0L && n == 600L })
    assert(got.map(g => g._1 -> g._2).toMap == truth)
    // and identical to the one-pass batch sketch (merge-order free)
    val batch = df.agg(FreqSketch.mgSketch(col("item"), 32).as("sk"))
      .agg(FreqSketch.mgMerge(col("sk"), 32).as("s"))
      .select(explode(col("s.items")).as("it"))
      .collect().map(r => (r.getStruct(0).getString(0), r.getStruct(0).getLong(1)))
    assert(got.map(g => (g._1, g._2)).sorted.toSeq == batch.sorted.toSeq)
  }

  test("small k: error theorems hold for the streamed summary") {
    val work = graft.SessionScoped.scratchDir("graft_stopk2")
    val df = feed(work)
    val k = 4
    runStream(work, k)
    val s = StreamGate.report(spark, work)
      .agg(FreqSketch.mgMerge(col("sk"), k).as("s"))
      .select(col("s.items"), col("s.d"), col("s.n")).head()
    val (items, d, n) = (s.getSeq[org.apache.spark.sql.Row](0), s.getLong(1), s.getLong(2))
    val truth = df.groupBy("item").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n == 600L, "trims must never lose n")
    assert(d * k <= n, "d <= n/k")
    for (it <- items) {
      val (item, est) = (it.getString(0), it.getLong(1))
      assert(est <= truth(item) && truth(item) <= est + d,
        s"$item est $est outside [true-d, true] band (true ${truth(item)}, d $d)")
    }
    // every heavy item (true > d) must be present
    val reported = items.map(_.getString(0)).toSet
    for ((item, cnt) <- truth if cnt > d)
      assert(reported(item), s"heavy item $item (true $cnt > d $d) missing")
  }

  test("replaying a batch overwrites its segment with identical bytes") {
    val work = graft.SessionScoped.scratchDir("graft_stopk3")
    feed(work)
    runStream(work, k = 4)
    def merged() = StreamGate.report(spark, work)
      .agg(FreqSketch.mgMerge(col("sk"), 4).as("s"))
      .select(col("s.items"), col("s.d"), col("s.n"))
      .collect().map(_.toSeq.toString).toSeq
    val before = merged()
    // re-derive batch 1's segment exactly as the foreachBatch would
    val b1 = spark.read.parquet(s"$work/feed/b00001.parquet")
      .agg(FreqSketch.mgSketch(col("item"), 4).as("sk"))
      .withColumn("batch_id", lit(1L))
    StreamGate.writeBatch(b1, work, 1L)
    assert(merged() == before, "replayed segment must be a no-op")
  }
}
