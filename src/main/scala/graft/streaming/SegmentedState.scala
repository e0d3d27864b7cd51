package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.operators.Layout

/** Generational parquet state store for foreachBatch screens
  * ([[StreamDedup]], [[StreamEmbedDedup]]): per-micro-batch segment dirs
  * plus a periodically compacted base generation.
  *
  * Layout under `stateDir`:
  * {{{
  *   base-000000008/   // compacted generation: exactly batches < 8
  *   b-000000008/      // per-batch segments, overwrite-keyed by batch id
  *   b-000000009/
  * }}}
  *
  * Contracts, in order of importance:
  *
  *  - '''Idempotent writes.''' foreachBatch is at-least-once on restart; a
  *    replayed batch OVERWRITES its own `b-<id>` dir instead of appending,
  *    so state never accumulates duplicate rows (duplicated (doc_id, h)
  *    rows would inflate exact-Jaccard sizes and intersections and could
  *    flip borderline kept/dup decisions downstream).
  *  - '''Replay-stable reads.''' [[readAsOf]] gives batch B the newest
  *    base-K with K ≤ B plus segments K ≤ id < B — segments ≥ B are
  *    excluded, so a replayed batch sees EXACTLY the state its first
  *    attempt saw even if that attempt had already written `b-<B>`.
  *  - '''Crash-safe compaction.''' [[maybeCompact]] folds segments < B
  *    into `base-<B>` (written to a tmp dir, RENAMED in, old dirs deleted
  *    only after the rename). A crash at any point leaves either the old
  *    generation or both; [[readAsOf]]/[[readAll]] always pick the newest
  *    base and ignore segments it already covers, so no row is ever lost
  *    or double-counted.
  *  - '''Loud failures.''' Only a missing `stateDir` maps to the empty
  *    frame; corrupt files, permission errors, and other IO failures
  *    propagate instead of being silently treated as empty state (an
  *    empty-looking index would wave genuine duplicates through).
  *
  * At 100 TB the same layout holds: the base generation is the big
  * bucketed side (compaction re-sorts on the probe key, restoring tight
  * row groups); per-batch segments stay small; a long-running stream's
  * file count is bounded by the compaction interval instead of growing
  * one file-set per trigger forever.
  */
object SegmentedState {

  private val SegRe = "b-(\\d{9})".r
  private val BaseRe = "base-(\\d{9})".r

  private def segName(batchId: Long) = f"b-$batchId%09d"
  private def baseName(batchId: Long) = f"base-$batchId%09d"

  private def fsFor(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Idempotently write one batch's rows: overwrite keyed by batch id. */
  def write(df: DataFrame, stateDir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$stateDir/${segName(batchId)}")

  /** (newest base id if any, per-batch segment ids) under `stateDir`.
    * Missing dir → (None, Nil); any other listing failure propagates. */
  private def listSegments(spark: SparkSession, stateDir: String): (Option[Long], Seq[Long]) = {
    val p = new Path(stateDir)
    val fs = fsFor(spark, stateDir)
    if (!fs.exists(p)) (None, Nil)
    else {
      val names = fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      val bases = names.collect { case BaseRe(id) => id.toLong }
      val segs = names.collect { case SegRe(id) => id.toLong }
      (bases.sorted.lastOption, segs.sorted.toSeq)
    }
  }

  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)

  private def read(spark: SparkSession, stateDir: String, schema: StructType,
      base: Option[Long], segs: Seq[Long]): DataFrame = {
    val paths = base.map(b => s"$stateDir/${baseName(b)}").toSeq ++
      segs.map(s => s"$stateDir/${segName(s)}")
    if (paths.isEmpty) empty(spark, schema)
    else spark.read.schema(schema).parquet(paths: _*)
  }

  /** State visible to batch `batchId`: newest base-K with K ≤ batchId plus
    * segments K ≤ id < batchId. */
  def readAsOf(spark: SparkSession, stateDir: String, batchId: Long,
      schema: StructType): DataFrame = {
    val (bases, segs) = listSegments(spark, stateDir)
    val base = bases.filter(_ <= batchId)
    val k = base.getOrElse(0L)
    read(spark, stateDir, schema, base, segs.filter(id => id >= k && id < batchId))
  }

  /** Full current state (post-hoc readers and specs): newest base plus the
    * segments it doesn't cover. */
  def readAll(spark: SparkSession, stateDir: String, schema: StructType): DataFrame = {
    val (base, segs) = listSegments(spark, stateDir)
    val k = base.getOrElse(0L)
    read(spark, stateDir, schema, base, segs.filter(_ >= k))
  }

  /** Fold everything visible to `batchId` into `base-<batchId>` when the
    * interval fires (batchId > 0 and divisible by `every`). Returns true
    * if a compaction ran. Idempotent under replay: if `base-<batchId>`
    * already exists (a prior attempt got through the rename) there is
    * nothing left to fold and this is a no-op. */
  def maybeCompact(spark: SparkSession, stateDir: String, batchId: Long,
      every: Int, sortKeys: Seq[String], targetBytes: Long = 128L << 20): Boolean = {
    if (every <= 0 || batchId <= 0 || batchId % every != 0) return false
    val (bases, segs) = listSegments(spark, stateDir)
    val base = bases.filter(_ <= batchId)
    val k = base.getOrElse(0L)
    if (base.contains(batchId)) return false // replay: already folded
    val foldSegs = segs.filter(id => id >= k && id < batchId)
    val inPaths = base.map(b => s"$stateDir/${baseName(b)}").toSeq ++
      foldSegs.map(s => s"$stateDir/${segName(s)}")
    if (inPaths.size < 2) return false // nothing worth folding
    val fs = fsFor(spark, stateDir)
    val tmp = new Path(s"$stateDir/tmp-compact")
    Layout.compactPaths(spark, inPaths, tmp.toString, targetBytes, sortKeys)
    val target = new Path(s"$stateDir/${baseName(batchId)}")
    if (fs.exists(target)) fs.delete(target, true)
    // Hadoop rename reports many failures as `false` rather than throwing
    // (object-store semantics); deleting the inputs after a failed rename
    // would destroy the only copy of the state — fail loudly instead
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(
        s"compaction rename $tmp -> $target failed; state left untouched")
    // GC only after the new generation is in place — deletes are pure
    // cleanup; a crash here leaves covered dirs the readers ignore.
    // Sweep ALL segments below the new generation (not just foldSegs):
    // a crash between a previous rename and its GC leaves orphans < k
    // that no later foldSegs recomputation would ever revisit — their
    // rows are already inside the base by construction, so they are
    // safe to drop whenever noticed
    base.foreach(b => fs.delete(new Path(s"$stateDir/${baseName(b)}"), true))
    segs.filter(_ < batchId)
      .foreach(s => fs.delete(new Path(s"$stateDir/${segName(s)}"), true))
    true
  }

  /** Live (base + uncovered segment) dir count — spec observability. */
  def segmentCount(spark: SparkSession, stateDir: String): Int = {
    val (base, segs) = listSegments(spark, stateDir)
    val k = base.getOrElse(0L)
    base.size + segs.count(_ >= k)
  }
}
