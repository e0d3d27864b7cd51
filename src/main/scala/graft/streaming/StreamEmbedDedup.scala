package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.{Materialize, Similarity}

/** Streaming EMBEDDING near-dup screening — the vector sibling of
  * [[StreamDedup]]: each micro-batch of (vec_id, embedding) rows is
  * SRP-coded and screened against the corpus code table plus everything
  * admitted in earlier micro-batches via [[Similarity.screenEmbedBatch]].
  *
  * State is the accumulated CODE TABLE of seen vectors — (vec_id,
  * embedding, nrm, code) rows in a [[SegmentedState]] store: exactly the
  * precomputed-code-table layout a corpus-scale ANN deployment persists
  * next to its embeddings (the embedding rides along because the exact
  * cosine verify needs it; the per-band INT keys in `code` are what the
  * band join keys on). Feeding micro-batches in id order reproduces the
  * one-shot [[Similarity.incrementalEmbed]] report bit-for-bit
  * (StreamDedupSpec).
  *
  * MULTI-PROBE by default: the screen codes with [[Similarity
  * .lshBandsMpFor]] bands and probes Hamming-≤1 key flips on the
  * (delta-sized) batch side — at wide operating points ~5× fewer planes
  * than the verbatim layout for the same ≥99% design recall, and the
  * coding pass is the dominant cost of a screen that runs DAILY at
  * corpus scale.
  *
  * Same idempotency contract as [[StreamDedup]]: per-batch overwrite
  * writes keyed by batch id, replay-stable [[SegmentedState.readAsOf]]
  * reads, and periodic compaction bounding long-run state file counts.
  */
object StreamEmbedDedup {

  /** Schema of the coded-state rows: `code` is one INT band key per band
    * ([[Similarity.srpCoded]]). */
  val CodedSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("nrm", DoubleType),
    StructField("code", ArrayType(IntegerType))))

  /** (vec_id LONG, embedding ARRAY<FLOAT>) stream → decisions under
    * `workDir/report`, coded-state under `workDir/seen_coded`.
    *
    * CODE LAYOUT — band width AND probe variant — is sized ONCE, at the
    * FIRST stream setup (width from the standing corpus via
    * [[Similarity.bandsFor]] when not given; variant defaults to
    * multi-probe), and then PERSISTED in `workDir/band_bits`: codes in
    * state were computed at that layout, so a restart that re-derived
    * the width from a corpus that has since crossed a power-of-two
    * boundary — or that coded new batches at the other band count —
    * would reinterpret or mis-join old state codes and silently miss
    * duplicates. On restart the persisted layout is adopted when the
    * caller passed none, and a mismatching explicit `bandBits` or
    * `multiProbe` fails loudly instead of corrupting the band join.
    * Pass both explicitly when parity with a separately-sized one-shot
    * run ([[Similarity.incrementalEmbed]]) matters. The layout file
    * resolves through Hadoop's FileSystem like every other state path
    * here, so a non-local workDir (hdfs://, s3a://) keeps the guard. */
  def run(stream: DataFrame, corpusEmb: DataFrame, workDir: String,
      tau: Double, bandBits: Option[Int] = None,
      compactEvery: Int = 16, multiProbe: Option[Boolean] = None): StreamingQuery = {
    val spark = corpusEmb.sparkSession
    val (bb, mp) = resolveLayout(spark, workDir,
      bandBits.getOrElse(Similarity.bandsFor(corpusEmb.count())),
      widthExplicit = bandBits.isDefined, multiProbe)
    val nBands =
      if (mp) Similarity.lshBandsMpFor(bb) else Similarity.lshBandsFor(bb)
    val probeBits = if (mp) Some(bb) else None
    val corpusCoded = Materialize(
      Similarity.srpCoded(corpusEmb, bb, nBands)
        .withColumn("is_corpus", lit(true)))
    stream.writeStream
      .option("checkpointLocation", s"$workDir/ckpt")
      .foreachBatch { (mb: DataFrame, batchId: Long) =>
        val batchCoded = Materialize(Similarity.srpCoded(mb, bb, nBands))
        val ref = corpusCoded.unionByName(
          seenCodedAsOf(spark, workDir, batchId).withColumn("is_corpus", lit(false)))
        StreamGate.writeBatch(
          Similarity.screenEmbedBatch(ref, batchCoded, tau, probeBits),
          workDir, batchId)
        SegmentedState.maybeCompact(spark, s"$workDir/seen_coded", batchId,
          compactEvery, sortKeys = Seq("code"))
        SegmentedState.write(batchCoded.select(CodedSchema.fieldNames.map(col): _*),
          s"$workDir/seen_coded", batchId)
        ()
      }
      .start()
  }

  /** First run records "<width> <variant>" in `workDir/band_bits`; later
    * runs adopt it (or, when the caller insists on a different layout,
    * fail loudly — the persisted seen_coded codes are only valid at the
    * layout they were computed at). Legacy files holding a bare width
    * read as the verbatim variant (what they were written by). Resolved
    * through Hadoop's FileSystem so the guard engages on non-local
    * workDirs too. */
  private def resolveLayout(spark: SparkSession, workDir: String,
      derivedWidth: Int, widthExplicit: Boolean,
      multiProbe: Option[Boolean]): (Int, Boolean) = {
    val path = new org.apache.hadoop.fs.Path(workDir, "band_bits")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(path)) {
      val buf = new Array[Byte](fs.getFileStatus(path).getLen.toInt)
      val in = fs.open(path)
      try in.readFully(buf) finally in.close()
      val txt = new String(buf, "UTF-8")
      val (persistedBb, persistedMp) =
        try {
          val parts = txt.trim.split("\\s+")
          (parts(0).toInt, parts.length > 1 && parts(1) == "mp")
        } catch {
          case e: Exception => throw new IllegalStateException(
            s"layout file $path exists but is unparseable " +
              s"(content: '${txt.trim}') — likely a crash mid-write by a " +
              "legacy non-atomic writer. The persisted codes' layout is " +
              "unknown; recover band_bits from the deployment record or " +
              "restart with a fresh workDir", e)
        }
      require(!widthExplicit || persistedBb == derivedWidth,
        s"stream state at $workDir was coded at bandBits=$persistedBb but " +
          s"caller passed bandBits=$derivedWidth — persisted codes cannot be " +
          "reinterpreted at a different width; restart with the persisted " +
          "width or a fresh workDir")
      require(multiProbe.forall(_ == persistedMp),
        s"stream state at $workDir was coded with the " +
          s"${if (persistedMp) "multi-probe" else "verbatim"} band layout " +
          s"but caller passed multiProbe=${multiProbe.get} — band counts " +
          "differ between layouts, so persisted codes cannot be re-joined " +
          "under the other one; restart with the persisted variant or a " +
          "fresh workDir")
      (persistedBb, persistedMp)
    } else {
      // A missing layout file may only mean FIRST RUN. If coded state
      // already exists (band_bits lost to a crash, a partial copy, or a
      // legacy writer that put it on a different FS than the state),
      // silently re-deriving a layout would mis-join every persisted
      // code — exactly the duplicate-miss this guard exists to prevent.
      val stateDirs = Seq("seen_coded", "report")
        .map(d => new org.apache.hadoop.fs.Path(workDir, d))
        .filter(fs.exists)
      require(stateDirs.isEmpty,
        s"stream state ${stateDirs.mkString(", ")} exists but the layout " +
          s"file $path is missing — the persisted codes' band layout is " +
          "unknown and cannot be re-derived safely; recover band_bits " +
          "from the deployment record or restart with a fresh workDir")
      val mp = multiProbe.getOrElse(true)
      // write-temp + rename: a crash between create and close must never
      // leave a half-written band_bits that a later run misparses
      val tmp = new org.apache.hadoop.fs.Path(workDir, "band_bits.tmp")
      val out = fs.create(tmp, true)
      try out.write(s"$derivedWidth ${if (mp) "mp" else "verbatim"}".getBytes("UTF-8"))
      finally out.close()
      require(fs.rename(tmp, path),
        s"failed to atomically commit $tmp -> $path")
      (derivedWidth, mp)
    }
  }

  private def seenCodedAsOf(spark: SparkSession, workDir: String,
      batchId: Long): DataFrame =
    SegmentedState.readAsOf(spark, s"$workDir/seen_coded", batchId, CodedSchema)

  /** Accumulated code table of stream vectors seen so far. Missing state
    * dir → empty frame; other read failures propagate. */
  def seenCoded(spark: SparkSession, workDir: String): DataFrame =
    SegmentedState.readAll(spark, s"$workDir/seen_coded", CodedSchema)

  def decisions(spark: SparkSession, workDir: String): DataFrame =
    StreamGate.report(spark, workDir)
}
