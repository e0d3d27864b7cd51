package graft.streaming

import org.apache.spark.sql.functions._

/** End-to-end streaming demo without a broker:
  * `graft.streaming.StreamRunner <sfDir> <workDir>` — Feeder renders the
  * events table as JSON tick messages to `<workDir>/ticks`, a file-source
  * stream consumes them through the stateful indicator pipeline, and
  * foreachBatch applies the first-write-wins sink to `<workDir>/out`.
  * Swap the file source/sink for format("kafka") against a real broker —
  * the pipeline itself is identical (see StreamIngest scaladoc).
  *
  * A second leg runs the LLM-pipeline half end-to-end: the documents
  * table streams in micro-batches through [[StreamDedup]] (near-dup
  * screening against a held-out corpus prefix + accumulated state) and
  * the per-status decision counts print alongside the tick totals.
  */
object StreamRunner {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, workDir) = args
    val spark = graft.GraftSession.local(graft.GraftSession.cpus, StreamIngest.rocksdbConf)

    Feeder.tickMessages(spark, sfDir).select(col("value"))
      .write.mode("overwrite").text(s"$workDir/ticks")

    val raw = spark.readStream.schema("value STRING")
      .option("maxFilesPerTrigger", "1")
      .text(s"$workDir/ticks")

    val q = StreamIngest.startSink(raw, s"$workDir/out", s"$workDir/chk")
    q.processAllAvailable()
    q.stop()

    val out = spark.read.parquet(s"$workDir/out")
    println(s"STREAMED_ROWS=${out.count()} SYMBOLS=${out.select("symbol").distinct().count()}")

    // LLM-pipeline leg: docs with id < split form the standing corpus;
    // the rest stream through the near-dup screen in file micro-batches
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val split = 250L
    val corpus = docs.filter(col("doc_id") < split)
    docs.filter(col("doc_id") >= split)
      .write.mode("overwrite").parquet(s"$workDir/doc_feed")
    val docStream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$workDir/doc_feed")
    val dq = StreamDedup.run(docStream, corpus, s"$workDir/dedup", tau = 0.5)
    dq.processAllAvailable()
    dq.stop()
    val decisions = StreamDedup.decisions(spark, s"$workDir/dedup")
    val byStatus = decisions.groupBy(col("status")).count()
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted
    println(s"SCREENED_DOCS=${decisions.count()} ${byStatus.mkString(" ")}")
    spark.stop()
  }
}
