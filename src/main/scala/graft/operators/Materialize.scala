package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Pluggable materialization for iterative and multiply-consumed frames
  * (LSH indexes, CC/PageRank rounds, IVF assignments).
  *
  * Strategy is read per-call from the session conf `spark.graft.materializer`:
  *
  *  - `local` (default): `localCheckpoint` — materializes to executor-local
  *    block storage and truncates lineage. Fastest, and the right choice on
  *    local[_] where "executor loss" cannot happen — but NOT fault-tolerant:
  *    on a cluster, losing an executor loses blocks with no lineage left to
  *    recompute them, killing the query.
  *  - `persist`: `persist(MEMORY_AND_DISK)` — keeps lineage, so lost blocks
  *    are recomputed on executor failure (Spark's standard recovery path).
  *    Lazy: materialized by whichever job first consumes the frame. Plans
  *    grow with iteration count, which every caller here bounds (fixpoint
  *    guards / fixed rounds).
  *  - `checkpoint`: reliable `checkpoint()` to the SparkContext checkpoint
  *    dir (caller must `sc.setCheckpointDir` to durable/shared storage,
  *    e.g. HDFS or object store). Truncates lineage AND survives executor
  *    loss — the 1000-executor, 100 TB setting for deep iteration.
  *
  * All three strategies produce bit-identical frames (a materialization
  * boundary never changes values, only where bytes live), pinned by
  * MaterializeSpec on the connected-components loop.
  */
object Materialize {
  val ConfKey = "spark.graft.materializer"

  def apply(df: DataFrame): DataFrame =
    df.sparkSession.conf.get(ConfKey, "local") match {
      case "local"      => df.localCheckpoint()
      case "persist"    => df.persist(StorageLevel.MEMORY_AND_DISK)
      case "checkpoint" => df.checkpoint()
      case other => throw new IllegalArgumentException(
        s"$ConfKey must be local|persist|checkpoint, got '$other'")
    }

  /** Under `persist`, truncate an iterative loop's lineage every this
    * many iterations (see [[loop]]). The loops that use it are the
    * connected-components fixpoint ([[Dedup]]), label propagation and the
    * k-core peel ([[Graph]]). 2 was measured as the binding value on a
    * 2-round Spark Lloyd loop (IVF training before it moved in-process),
    * already past the describe-time horizon at sf0.1 (probe: non-viable
    * untruncated, 0.8 s at every=2). */
  val LoopTruncateEvery = 2

  /** Materialization INSIDE an iterative loop — `depth` is the 1-based
    * iteration index. Same contract as [[apply]] for `local`/`checkpoint`;
    * under `persist` the lineage is AUTO-TRUNCATED every
    * [[LoopTruncateEvery]] iterations instead of kept
    * forever. Why this is mechanical rather than advisory (r16 sweep,
    * SCALE.md): a loop body that references its predecessor more than
    * once makes the logical plan a self-referencing DAG, and
    * `TreeNode.generateTreeString` expands a DAG as a TREE — merely
    * DESCRIBING the plan for the UI/event log is exponential in loop
    * depth (measured both ways at sf0.1: uncapped plan strings OOMed a
    * 16 GB driver; capped, the walk itself spun the driver >20 min,
    * jstack-confirmed inside generateTreeString). Bounding lineage to
    * `every` segments bounds the expansion; its measured price on the
    * k-means families is zero (checkpoint vs local: 3.53 vs 3.45 s).
    * Truncation is a reliable `checkpoint()` when a checkpoint dir is
    * set (the cluster setting — survives executor loss, which is the
    * point of choosing persist), else `localCheckpoint()`. */
  def loop(df: DataFrame, depth: Int): DataFrame =
    df.sparkSession.conf.get(ConfKey, "local") match {
      case "persist" =>
        if (depth % LoopTruncateEvery == 0) {
          if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
            df.checkpoint()
          else df.localCheckpoint()
        } else df.persist(StorageLevel.MEMORY_AND_DISK)
      case _ => apply(df)
    }

  val HugeConfKey = "spark.graft.materializer.huge"

  /** Materialization for frames ∝ CORPUS size (gram explodes, shingle
    * indexes) — the frames whose cached blocks cannot be assumed to fit
    * executor memory at scale. The standard strategies unroll each block
    * in memory before spilling (localCheckpoint and MEMORY_AND_DISK both
    * build the partition array first); at 1000×-sf0.1 in one 16 GB JVM
    * that unroll pressure OOMed the DSIR gram cache (measured, SCALE.md
    * r15). Strategies via `spark.graft.materializer.huge`:
    *
    *  - `disk` (default): `persist(DISK_ONLY)` — streams blocks through
    *    serialization to disk, no in-memory unroll; lineage kept, so
    *    executor loss recomputes.
    *  - `off`: no materialization — each consumer recomputes the frame
    *    (N linear passes instead of one write + N reads; zero cache
    *    footprint, the safest 100 TB setting when input scans are cheap).
    *  - `inherit`: use the standard [[apply]] strategy (the pre-r15
    *    behavior; right when the frame is known to fit).
    *
    * All strategies produce bit-identical frames (MaterializeSpec). */
  def huge(df: DataFrame): DataFrame =
    df.sparkSession.conf.get(HugeConfKey, "disk") match {
      case "disk"    => df.persist(StorageLevel.DISK_ONLY)
      case "off"     => df
      case "inherit" => apply(df)
      case other => throw new IllegalArgumentException(
        s"$HugeConfKey must be disk|off|inherit, got '$other'")
    }

  /** `.materialize` chain syntax — drop-in replacement for the former
    * hard-wired `.localCheckpoint()` call sites. */
  implicit class MatOps(private val df: DataFrame) extends AnyVal {
    def materialize: DataFrame = Materialize(df)
    /** corpus-sized variant — see [[Materialize.huge]]. */
    def materializeHuge: DataFrame = Materialize.huge(df)
    /** loop-iteration variant — see [[Materialize.loop]]. */
    def materializeLoop(depth: Int): DataFrame = Materialize.loop(df, depth)
  }
}
