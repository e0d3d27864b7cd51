package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Drift
import graft.streaming.{Feeder, StreamGate}

/** The streaming drift monitor must emit, per micro-batch, EXACTLY the
  * batch operator's table for that batch's rows — stateless parity, the
  * simplest of the ingest screens' contracts. */
class StreamDriftSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("per-batch drift tables == batch Drift on each slice; replay idempotent") {
    val work = graft.SessionScoped.scratchDir("graft_sdrift")
    val ref = (1 to 200).map(i => (i % 40).toDouble).toDF("value")
    // 300 rows over ms 0..299 with a value shift in the last third
    val cur = (0 until 300).map(i =>
      (if (i < 200) (i % 40).toDouble else (i % 40) + 30.0, i.toLong))
      .toDF("value", "_ms")
    Feeder.writeTimeSlicedFeed(cur, "_ms", work, slices = 3)
    val stream = spark.readStream.schema(ref.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$work/feed")
    val refM = graft.operators.Materialize(ref)
    val q = StreamGate.run(stream, (mb, batchId) =>
      Drift.drift(refM, mb, "value", 10.0, 7)
        .withColumn("batch_id", lit(batchId)), work)
    q.processAllAvailable(); q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("bin", "cnt_ref", "cnt_cur", "p_ref", "p_cur",
        "psi_term", "js_term", "psi", "js")
        .collect().map(_.toSeq).sortBy(_.toString()).toSeq
    val report = StreamGate.report(spark, work)
    val span = 300 / 3
    for (i <- 0 until 3) {
      val slice = cur.filter(col("_ms") >= i * span &&
        col("_ms") < (i + 1) * span).select("value")
      assert(canon(report.filter(col("batch_id") === i)) ==
        canon(Drift.drift(ref, slice, "value", 10.0, 7)),
        s"batch $i diverges from the batch operator")
    }
    // the shifted last slice actually registers as drift
    val lastPsi = report.filter(col("batch_id") === 2)
      .select("psi").head().getDouble(0)
    val firstPsi = report.filter(col("batch_id") === 0)
      .select("psi").head().getDouble(0)
    assert(lastPsi > firstPsi && lastPsi > 0.1,
      s"shifted slice should alarm (psi $lastPsi vs $firstPsi)")

    // replay: rewriting a batch's dir (overwrite-keyed) changes nothing
    val before = canon(report.filter(col("batch_id") === 1))
    StreamGate.writeBatch(Drift.drift(ref, cur.filter(col("_ms") >= span &&
        col("_ms") < 2 * span).select("value"), "value", 10.0, 7)
      .withColumn("batch_id", lit(1L)), work, 1L)
    assert(canon(StreamGate.report(spark, work)
      .filter(col("batch_id") === 1)) == before)
  }
}
