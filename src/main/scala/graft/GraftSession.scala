package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode SparkSession factory every main and the test suite
  * build through: UTC session time, the plan-string cap, no UI, one shuffle
  * partition per core, WARN logging. Callers pass only what differs. */
object GraftSession {

  /** Local cores: SPARK_GRAFT_CPUS, else every processor this JVM sees. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int, extraConfs: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // plan strings of lineage-kept iterative loops are exponential to
      // DESCRIBE (generateTreeString expands a DAG as a tree) — cap so the
      // driver never OOMs stringifying a plan (r16 sweep, SCALE.md)
      .config("spark.sql.maxPlanStringLength", (1 << 20).toString)
      .config("spark.ui.enabled", "false")
    val spark = extraConfs.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
