package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Model

/** S6 analog — the reference's DDL + hypertable setup
  * (trading-etl-python/src/db/setup.py:43-119) re-expressed as a
  * date-partitioned parquet table:
  *  - `CREATE TABLE stock_indicators (...20 cols...)` → parquet schema from
  *    Model.DbColumns;
  *  - `create_hypertable('stock_indicators', by_range('time'))` → parquet
  *    `PARTITIONED BY (day)`: time-range queries prune partitions exactly
  *    like hypertable chunk exclusion. [[writeIndicators]]' first-write-
  *    wins probe is not scoped by it (see [[IdempotentSink]]).
  */
object TableSetup {

  /** Drop-and-recreate (setup.py drops first, :49). */
  def setup(spark: SparkSession, path: String): Unit = {
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hadoopPath)) fs.delete(hadoopPath, true)
  }

  /** Append indicator rows with PK(time,symbol) first-write-wins semantics
    * (the ON CONFLICT DO NOTHING analog, [[IdempotentSink]]), partitioned by
    * calendar day. Within the batch the smallest full-row tuple per key
    * wins (dropDuplicates keeps an arbitrary row and varies run to run). */
  def writeIndicators(df: DataFrame, path: String): Unit =
    IdempotentSink.firstWriteWins(
      df.select(Model.DbColumns.map(col): _*)
        .withColumn("day", to_date(col("time")))
        .withColumn("__first", struct(Model.DbColumns.map(col): _*)),
      path, Seq("time", "symbol"), "__first", Seq("day"))

  /** Idempotent backfill: overwrite ONLY the partitions present in the
    * batch (dynamic partition overwrite), leaving every other partition
    * byte-identical — the Spark shape of the reference's re-runnable
    * backfill window (trading-etl-python/src/db/backfill.py:150-172
    * re-downloads a symbol/date range and re-lands it without disturbing
    * the rest of the table). Unlike [[writeIndicators]]'s first-write-wins
    * append, a backfill REPLACES its window: re-running with corrected
    * upstream data must win. Static overwrite mode would truncate the
    * whole table; the `partitionOverwriteMode=dynamic` writer option
    * scopes the overwrite to the touched partitions only — no
    * read-modify-write of 100 TB, no session-level conf mutation. */
  def backfillPartitions(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Time-range read — the filter on `day` prunes to the touched
    * partitions (chunk exclusion). */
  def readRange(spark: SparkSession, path: String, fromDay: String, toDay: String): DataFrame =
    spark.read.parquet(path)
      .filter(col("day") >= lit(fromDay) && col("day") <= lit(toDay))
      .select(Model.DbColumns.map(col): _*)
}
