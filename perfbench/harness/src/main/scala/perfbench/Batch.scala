package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.IndicatorPipeline
import graft.sinks.TableSetup
import graft.sources.Tables

/** The batch workload: the backfill path (Tables.bars ->
  * IndicatorPipeline.full -> TableSetup.writeIndicators, a re-landed
  * overlapping window, then range and latest-row reads) and a mix of the
  * `SparkEntry` queries, each a timed operation. */
object Batch {
  import Harness.Ctx

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def rowsAt(spark: SparkSession, path: String): Long = spark.read.parquet(path).count()

  /** The sub-second tail and the heavy operator families (IVF centroid
    * fit, n-gram LM, shingle self-join), over tables of the query suite's
    * sf0.1 size. The indicator windows are the backfill's work. */
  val Mix: Seq[String] = Seq(
    "q_tick_parse", "q_latest_per_key", "q_time_range", "q_dedup_first_wins",
    "q_bars_hourly", "q_text_stats",
    "q_cosine_ivf", "q_kn3_lm", "q_jaccard_pairs")

  val Reads = 6

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val c = ctx.c
    val hist = s"${c.inputs}/history"
    val a = s"$hist/A"
    val b = s"$hist/B"
    val tables = s"${c.inputs}/tables"
    def land(src: String, path: String): Unit =
      TableSetup.writeIndicators(IndicatorPipeline.full(Tables.bars(spark, src)), path)
    // warm-up: one `SparkEntry` query (its scan, shuffle and aggregation paths)
    noop(SparkEntry.queries("q_bars_hourly")(spark, tables))

    val manifest = Files.readString(Paths.get(s"$hist/manifest.json"))
    def field(k: String) = ("\"" + k + "\":\\s*(\\d+)").r.findFirstMatchIn(manifest).get.group(1).toLong
    val firstDay = field("first_day")
    val days = field("days").toInt
    val rnd = new scala.util.Random(c.seed)
    val reads = (0 until Reads).map { i =>
      val from = firstDay + rnd.nextInt(days)
      val to = if (i % 2 == 0) math.min(firstDay + days - 1, from + rnd.nextInt(7)) else from
      (if (i % 2 == 0) "range" else "latest", java.time.LocalDate.ofEpochDay(from).toString,
        java.time.LocalDate.ofEpochDay(to).toString)
    }
    val order = rnd.shuffle(Mix)
    val path = s"${c.work}/tbl"
    val ops = mutable.ArrayBuffer.empty[(String, Double)]
    val results = mutable.LinkedHashMap.empty[String, (Array[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType)]
    val errors = mutable.LinkedHashMap.empty[String, String]
    val readRows = mutable.ArrayBuffer.empty[Map[String, Any]]
    var counts = (0L, 0L)
    ctx.measured {
      TableSetup.setup(spark, path)
      ops += "backfill.land" -> ctx.time(ctx.trace.span("sinks.table_setup.write", "sinks")(
        land(a, path)))._2
      val n1 = rowsAt(spark, path)
      ops += "backfill.reland" -> ctx.time(ctx.trace.span("sinks.table_setup.reland", "sinks")(
        land(b, path)))._2
      counts = (n1, rowsAt(spark, path))
      reads.foreach { case (kind, from, to) =>
        val (rows, ms) = ctx.time(ctx.trace.span("sinks.table_setup.read_range", "sinks") {
          val df = TableSetup.readRange(spark, path, from, to)
          (if (kind == "range") df else IndicatorPipeline.latestPerSymbol(df))
            .select(col("symbol"), unix_millis(col("time"))).collect()
        })
        ops += s"read.$kind" -> ms
        readRows += Map("kind" -> kind, "from" -> from, "to" -> to, "rows" -> rows.length,
          "latest" -> (if (kind == "latest") rows.map(r => r.getString(0) -> r.getLong(1)).toMap
            else Map.empty))
      }
      for (q <- order) {
        spark.sparkContext.setJobGroup(q, q)
        try {
          // collected rows are both timed and compared with the oracle
          val ((rows, schema), ms) = ctx.time(ctx.trace.span("operators.query." + q, "operators") {
            val df = SparkEntry.queries(q)(spark, tables)
            (df.collect(), df.schema)
          })
          ops += s"query.$q" -> ms
          results(q) = (rows, schema)
        } catch { case e: Exception => errors(q) = e.toString.take(500) }
        spark.sparkContext.clearJobGroup()
      }
      if (ctx.trace.enabled) {
        val bars = Tables.bars(spark, a).persist()
        val (_, barsMs) = ctx.time(ctx.trace.span("sources.bars", "sources")(noop(bars)))
        val (_, indMs) = ctx.time(ctx.trace.span("operators.indicator_pipeline", "operators")(
          noop(IndicatorPipeline.full(bars))))
        bars.unpersist()
        ctx.layer("sources.bars_ms") = barsMs
        ctx.layer("operators.indicator_pipeline_ms") = indMs
      }
    }
    // what the checks compare, written after the measured phase, side by side
    val writes = results.toSeq.map { case (q, (rows, schema)) => Future {
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(s"${c.work}/check/query/$q")
    } } :+ Future {
      IndicatorPipeline.full(Tables.bars(spark, a)).write.parquet(s"${c.work}/check/backfill_ref")
    }
    Await.result(Future.sequence(writes), Duration.Inf)
    ctx.out("ops") = ops.map { case (n, ms) => Map("op" -> n, "ms" -> ms) }
    ctx.out("order") = order
    ctx.out("errors") = errors
    ctx.out("oracle_sql") = Mix.map(q => q -> SparkEntry.oracleSql(q)).toMap
    ctx.out("reads") = readRows
    ctx.out("table_rows") = Seq(counts._1, counts._2)
    ctx.out("table") = path
    if (ctx.trace.enabled) {
      ops.foreach { case (n, ms) => if (n.startsWith("query.")) ctx.layer(n + "_ms") = ms }
      ctx.layer("sinks.table_setup.write_ms") = ops.find(_._1 == "backfill.land").get._2
      ctx.layer("sinks.table_setup.reland_ms") = ops.find(_._1 == "backfill.reland").get._2
      ctx.layer("sinks.table_setup.rows_written") = counts._1.toDouble
      val relandRows = IndicatorPipeline.full(Tables.bars(spark, b)).count()
      ctx.layer("sinks.table_setup.rows_skipped") = (relandRows - (counts._2 - counts._1)).toDouble
      ctx.layer("sinks.table_setup.files_written") = Files.walk(Paths.get(path)).iterator().asScala
        .count(f => f.getFileName.toString.endsWith(".parquet")).toDouble
      ctx.layer("sinks.table_setup.read_range_ms") =
        Stats.median(ops.filter(_._1.startsWith("read.")).map(_._2).toSeq)
    }
  }
}

