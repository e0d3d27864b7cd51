package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.streaming.StreamIngest

/** Drives one benchmark workload through the library's public entry points
  * and writes `<work>/result.json`: raw timings, correctness counts and, in
  * a traced run, the per-layer counters and `<work>/spans.jsonl`.
  *
  * `perfbench.Harness --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cores <n> --work <dir> --inputs <dir>`
  */
object Harness {

  final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, work: String, inputs: String)

  /** Shared state of one run. `measured` runs the measured phase: it marks
    * the end of set-up, registers the traced run's engine listeners, opens
    * the root span, and reads peak RSS when the phase ends. */
  final class Ctx(val spark: SparkSession, val c: Conf, val trace: Trace) {
    val out = mutable.LinkedHashMap.empty[String, Any]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val engine = new EngineMeter
    val stream = new StreamMeter(trace)

    def measured[T](body: => T): T = {
      out("setup_end_ms") = System.currentTimeMillis()
      if (trace.enabled) {
        spark.sparkContext.addSparkListener(engine)
        spark.listenerManager.register(engine)
      }
      val r = trace.rootSpan("workload." + c.workload)(body)
      out("measure_end_ms") = System.currentTimeMillis()
      out("peak_rss_mb") = peakRssMb()
      r
    }

    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e6)
    }
  }

  private def peakRssMb(): Double = statusMb("VmHWM")

  /** A memory figure of this process from /proc/self/status, in MB. */
  private def statusMb(field: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(field + ":"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** Runs the workload and ends the JVM: code 0 once `result.json` is
    * written, 1 on any failure. The session's orderly shutdown is skipped,
    * as nothing is left to flush and a failed stream could hold it up. */
  def main(args: Array[String]): Unit = {
    // the JVM's own footprint, its pre-touched heap included, before any work
    startRssMb = statusMb("VmRSS")
    val code =
      try { runAll(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }

  @volatile private var startRssMb = 0.0

  private def runAll(args: Array[String]): Unit = {
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val c = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("cores").toInt, kv("work"), kv("inputs"))
    val spark = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxPlanStringLength", (1 << 20).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config(StreamIngest.rocksdbConf._1, StreamIngest.rocksdbConf._2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, c, new Trace(c.trace, s"${c.workload}-${c.seed}"))
    // every micro-batch's progress, the warm-up batch's too: the exact
    // counts cover all input
    spark.streams.addListener(ctx.stream)
    ctx.out("start_rss_mb") = startRssMb
    ctx.out("session_ready_ms") = System.currentTimeMillis()
    // the inputs are generated while the JVM and session start
    val ready = Paths.get(s"${c.inputs}/ready")
    val readyBy = System.currentTimeMillis() + 120000L
    while (!Files.exists(ready)) {
      require(System.currentTimeMillis() < readyBy, "inputs were not generated")
      Thread.sleep(5)
    }
    c.workload match {
      case "stream" => Streams.run(ctx)
      case "batch" => Batch.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (c.trace) {
      org.apache.spark.BusAccess.drain(spark.sparkContext)
      val (total, perGroup) = ctx.engine.summary
      ctx.layer ++= total
      ctx.out("spark_groups") = perGroup
      ctx.layer("trace.spans") = ctx.trace.size.toDouble
      ctx.trace.write(s"${c.work}/spans.jsonl")
    }
    ctx.out("layer") = ctx.layer
    Files.writeString(Paths.get(s"${c.work}/result.json"), Json.render(ctx.out))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Least-squares slope of y over x (0 with fewer than two points). */
  def slope(x: Seq[Double], y: Seq[Double]): Double =
    if (x.size < 2) 0.0
    else {
      val mx = x.sum / x.size
      val my = y.sum / y.size
      val den = x.map(v => (v - mx) * (v - mx)).sum
      if (den == 0) 0.0 else x.zip(y).map { case (a, b) => (a - mx) * (b - my) }.sum / den
    }
}
