package perfbench

import java.nio.file.{Files, Paths}
import java.sql.{Connection, DriverManager}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.Model
import graft.operators.IndicatorPipeline
import graft.sinks.{AnsiInsertIgnoreDialect, IdempotentSink, JdbcInsertIgnoreSink}
import graft.streaming.StreamIngest

/** The stream workload: file-source ticks through `StreamIngest.fromRaw`
  * into a first-write-wins sink via `foreachBatch`, in two phases.
  *
  *  1. drain: a Zipf-skewed backlog, one file per micro-batch, into
  *     `IdempotentSink` (parquet), after untimed warm-up batches.
  *  2. live: an open-loop generator writes tick files on a wall-clock
  *     schedule; the stream lands them through `JdbcInsertIgnoreSink` with
  *     the ANSI dialect into embedded Derby. Its first batch (the symbols'
  *     warm-up history) is untimed as well.
  */
object Streams {
  import Harness.Ctx

  /** A running stream whose sink calls can be fenced off before `stop()`,
    * so no micro-batch is interrupted half-written. */
  final class Run(val name: String, val chk: String) {
    @volatile var q: StreamingQuery = _
    val ends = new ConcurrentHashMap[Long, Long]()
    val emitted = new AtomicLong(0)
    private var fenced = false
    private var inSink = false

    private[Streams] def enter(): Boolean = synchronized {
      if (!fenced) inSink = true
      !fenced
    }
    private[Streams] def leave(): Unit = synchronized { inSink = false; notifyAll() }

    def awaitBatch(id: Long, timeoutMs: Long): Unit = {
      val until = System.currentTimeMillis() + timeoutMs
      while (!ends.containsKey(id)) {
        q.exception.foreach(e => throw e)
        require(System.currentTimeMillis() < until, s"$name: micro-batch $id did not finish")
        Thread.sleep(2)
      }
    }

    def inputRows: Long = q.recentProgress.map(_.numInputRows).sum

    /** Waits until the stream has read `rows` input rows (true) or
      * `timeoutMs` passed (false). */
    def awaitRows(rows: Long, timeoutMs: Long): Boolean = {
      val until = System.currentTimeMillis() + timeoutMs
      while (inputRows < rows && System.currentTimeMillis() < until) {
        q.exception.foreach(e => throw e)
        Thread.sleep(5)
      }
      inputRows >= rows
    }

    def stop(): Unit = {
      synchronized {
        fenced = true
        while (inSink) wait()
      }
      q.stop()
      q.exception.foreach(e => throw e)
    }

    private def logFiles(dir: String): Iterator[java.nio.file.Path] =
      Files.list(Paths.get(dir)).iterator().asScala
        .filter(p => p.getFileName.toString.matches("""\d+(\.compact)?"""))

    /** file name -> micro-batch. The file source's metadata log numbers
      * files by its own offset, which a no-data micro-batch does not
      * advance; the offsets log gives the source offset each micro-batch
      * read up to, and a file belongs to the first batch that covers it. */
    def fileBatches(): Map[String, Long] = {
      val logOffset = """"logOffset":(\d+)""".r
      val upTo = logFiles(s"$chk/offsets")
        .flatMap(p => logOffset.findFirstMatchIn(Files.readString(p))
          .map(m => p.getFileName.toString.toLong -> m.group(1).toLong))
        .toSeq.sortBy(_._1)
      val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
      logFiles(s"$chk/sources/0")
        .flatMap(p => Files.readAllLines(p).asScala)
        .flatMap(l => entry.findFirstMatchIn(l))
        .map(m => m.group(1).split('/').last ->
          upTo.find(_._2 >= m.group(2).toLong).fold(-1L)(_._1))
        .toMap
    }

    /** Files of the micro-batches whose sink call completed. */
    def consumed(): Map[String, Long] = fileBatches().filter { case (_, b) => ends.containsKey(b) }
  }

  private def start(ctx: Ctx, name: String, inDir: String, maxFiles: Option[Int])(
      sink: (DataFrame, Long) => Unit): Run = {
    val reader = ctx.spark.readStream.schema("value STRING")
    val raw = maxFiles.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString)).text(inDir)
    val run = new Run(name, s"${ctx.c.work}/chk_$name")
    run.q = StreamIngest.fromRaw(raw)
      .select(col("row.*"), col("seq"))
      .writeStream
      .queryName(name)
      .option("checkpointLocation", run.chk)
      .foreachBatch { (df: DataFrame, id: Long) =>
        if (run.enter()) {
          try {
            if (ctx.trace.enabled) {
              // traced only: run parse -> dedup -> state on its own, so the
              // sink span below times the write alone
              val cached = df.persist()
              run.emitted.addAndGet(
                ctx.trace.inBatch(name, id, "streaming.compute", "streaming")(cached.count()))
              sink(cached, id)
              cached.unpersist()
            } else sink(df, id)
            run.ends.put(id, System.currentTimeMillis())
          } finally run.leave()
        } else {
          // fenced: the state store must still commit this batch
          df.write.format("noop").mode("overwrite").save()
        }
        ()
      }
      .start()
    run
  }

  /** The reference the checks compare a sink with: `IndicatorPipeline.gated`
    * over each symbol's first 60 ticks (the generator's record of them).
    * The checks keep the rows of the files the stream consumed (each row
    * depends only on earlier ticks) and compare outside the JVM. The write
    * runs in the background; the result is its completion. */
  private def writeReference(ctx: Ctx, in: String, out: String): Future[Unit] =
    Future {
      val ref = ctx.spark.read.parquet(s"$in/ref_ticks.parquet")
      val bars = ref.select(timestamp_millis(col("timestamp")).as("time"), col("symbol"),
        col("price").as("open"), col("price").as("high"), col("price").as("low"),
        col("price").as("close"), lit(null).cast("long").as("volume"))
      IndicatorPipeline.gated(bars).write.parquet(out)
    }

  /** Untimed warm-up micro-batches of the drain, one small file each: the
    * query's cold start, then a first pass for the JIT. */
  val DrainWarmBatches = 2L

  def run(ctx: Ctx): Unit = {
    var warm = Map("drain" -> DrainWarmBatches, "live" -> Long.MaxValue)
    ctx.trace.warmBatches = warm
    // set-up, both streams side by side: the drain's warm-up batches, and
    // the live stream's start, its first batch (the symbols' history) and
    // the no-data batch the watermark move then triggers
    val drain = startDrain(ctx)
    val live = startLive(ctx)
    // the drain's reference needs only the generated ticks
    val drainRef = writeReference(ctx, s"${ctx.c.inputs}/drain", s"${ctx.c.work}/check/drain_gated")
    live.run.q.processAllAvailable()
    warm += "live" -> (live.run.ends.keySet.asScala.max + 1)
    ctx.trace.warmBatches = warm
    drain.run.awaitBatch(DrainWarmBatches - 1, 150000)
    Await.result(drainRef, Duration.Inf)
    ctx.measured {
      ctx.trace.phase("drain") {
        // the timed backlog appears at once, in file order
        val backlog = Paths.get(s"${ctx.c.inputs}/drain/backlog")
        Files.list(backlog).iterator().asScala.toSeq.sortBy(_.getFileName.toString).foreach { f =>
          Files.move(f, backlog.resolveSibling("ticks").resolve(f.getFileName),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
        require(drain.run.awaitRows(manifestLines(s"${ctx.c.inputs}/drain/manifest.json"), 150000),
          "drain: the backlog was not consumed")
        drain.run.stop()
      }
      ctx.trace.phase("live")(feedLive(ctx, live.run))
    }
    ctx.out("warm_batches") = warm
    val liveRef = writeReference(ctx, s"${ctx.c.inputs}/live", s"${ctx.c.work}/check/live_gated")
    drain.check()
    live.check()
    Await.result(liveRef, Duration.Inf)
    // the checks compare the engine's drop counts with what was planted
    org.apache.spark.BusAccess.drain(ctx.spark.sparkContext)
    ctx.out("progress") = ctx.stream.batches.asScala.toSeq
  }

  /** A stream and its check, which records what the checks read. */
  private final class Phase(val run: Run, val check: () => Unit)

  private def startDrain(ctx: Ctx): Phase = {
    val spark = ctx.spark
    val in = s"${ctx.c.inputs}/drain"
    val sinkPath = s"${ctx.c.work}/drain_sink"
    val appends = new ConcurrentHashMap[Long, Array[Double]]()
    val run = start(ctx, "drain", s"$in/ticks", Some(1)) { (df, id) =>
      val existing =
        if (ctx.trace.enabled && Files.exists(Paths.get(sinkPath))) spark.read.parquet(sinkPath).count()
        else 0L
      val (_, ms) = ctx.time(ctx.trace.inBatch("drain", id, "sinks.idempotent.append", "sinks")(
        IdempotentSink.append(df, sinkPath, Seq("time", "symbol"), "seq")))
      if (ctx.trace.enabled) appends.put(id, Array(ms, existing.toDouble))
    }
    new Phase(run, () => {
      val done = run.consumed()
      val consumed = done.keys.toSeq.map(_.stripPrefix("part-").take(5).toInt)
      ctx.out("drain") = Map("consumed" -> consumed, "file_batch" -> done,
        "batch_end_ms" -> run.ends.asScala.map { case (k, v) => k.toString -> v })
      if (ctx.trace.enabled) {
        // timed batches that read a file (not the no-data batches)
        val timed = done.values.toSet.filter(_ >= DrainWarmBatches)
        val as = appends.asScala.toSeq.filter(a => timed(a._1)).sortBy(_._1).map(_._2)
        ctx.layer("sinks.idempotent.append_ms") = Stats.median(as.map(_(0)))
        ctx.layer("sinks.idempotent.existing_rows") = spark.read.parquet(sinkPath).count().toDouble
        ctx.layer("sinks.idempotent.append_us_per_existing_row") =
          Stats.slope(as.map(_(1)), as.map(_(0) * 1000.0))
        ctx.layer("streaming.emitted_rows") = run.emitted.get.toDouble
      }
    })
  }

  private val DerbyUrl = "jdbc:derby:memory:perfbench;create=true"
  /** Derby reserves TIME, OPEN and CLOSE; the JDBC table renames them. */
  private val JdbcCols = Model.DbColumns.map {
    case "time" => "tick_time"
    case "open" => "open_px"
    case "close" => "close_px"
    case other => other
  }

  private def withDerby[T](f: Connection => T): T = {
    val conn = DriverManager.getConnection(DerbyUrl)
    try f(conn) finally conn.close()
  }

  private def derbyCount(): Long = withDerby { conn =>
    val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM ticks_ind")
    rs.next()
    rs.getLong(1)
  }

  /** The JDBC table as CSV (time as epoch ms), read by the checks. */
  private def dumpDerby(path: String): Unit = withDerby { conn =>
    val rs = conn.createStatement().executeQuery(JdbcCols.mkString("SELECT ", ", ", " FROM ticks_ind"))
    val sb = new StringBuilder(("time_ms" +: Model.DbColumns.tail).mkString("", ",", "\n"))
    while (rs.next()) {
      sb ++= rs.getTimestamp(1).getTime.toString
      for (i <- 2 to JdbcCols.size) {
        sb += ','
        val v = rs.getObject(i)
        if (v != null) sb ++= v.toString
      }
      sb += '\n'
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), sb.toString)
  }

  private def startLive(ctx: Ctx): Phase = {
    val in = s"${ctx.c.inputs}/live"
    val types = Map("tick_time" -> "TIMESTAMP NOT NULL", "symbol" -> "VARCHAR(16) NOT NULL",
      "volume" -> "BIGINT", "obv" -> "BIGINT").withDefaultValue("DOUBLE")
    withDerby(_.createStatement().execute(
      JdbcCols.map(n => s"$n ${types(n)}").mkString("CREATE TABLE ticks_ind (", ", ",
        ", PRIMARY KEY (tick_time, symbol))")))
    val connect: () => Connection = {
      val u = DerbyUrl
      () => DriverManager.getConnection(u)
    }
    val writer = JdbcInsertIgnoreSink.foreachBatchWriter(connect, "ticks_ind",
      Seq("tick_time", "symbol"), AnsiInsertIgnoreDialect)
    val writes = new ConcurrentHashMap[Long, Double]()
    val run = start(ctx, "live", s"$in/ticks", None) { (df, id) =>
      val rows = df.select(Model.DbColumns.zip(JdbcCols).map { case (a, b) => col(a).as(b) }: _*)
      val (_, ms) = ctx.time(ctx.trace.inBatch("live", id, "sinks.jdbc.write", "sinks")(
        writer(rows, id)))
      writes.put(id, ms)
    }
    new Phase(run, () => {
      val done = run.consumed()
      val consumed = done.keys.toSeq.map(f => if (f.startsWith("w-")) -1 else f.drop(2).take(5).toInt)
      dumpDerby(s"${ctx.c.work}/check/live_sink.csv")
      ctx.out("live") = Map("consumed" -> consumed, "file_batch" -> done,
        "batch_end_ms" -> run.ends.asScala.map { case (k, v) => k.toString -> v })
      if (ctx.trace.enabled) {
        ctx.layer("sinks.jdbc.write_ms") = Stats.median(writes.asScala.toSeq
          .filter(_._1 >= ctx.trace.warmBatches("live")).map(_._2))
        ctx.layer("sinks.jdbc.rows_attempted") = run.emitted.get.toDouble
        ctx.layer("sinks.jdbc.rows_inserted") = derbyCount().toDouble
      }
    })
  }

  /** Input lines a generator manifest records in all (its last "lines"). */
  private def manifestLines(path: String): Long =
    "\"lines\":\\s*(\\d+)".r.findAllMatchIn(Files.readString(Paths.get(path)))
      .map(_.group(1).toLong).toSeq.last

  /** Lets the open-loop generator run, then stops the stream once every
    * tick landed or a bounded grace passed; what is left counts as failed. */
  private def feedLive(ctx: Ctx, run: Run): Unit = {
    val in = s"${ctx.c.inputs}/live"
    val manifest = Paths.get(s"$in/manifest.json")
    Files.createFile(Paths.get(s"$in/go"))
    val genDeadline = System.currentTimeMillis() + ctx.c.seconds * 1000L + 60000L
    while (!Files.exists(manifest)) {
      run.q.exception.foreach(e => throw e)
      require(System.currentTimeMillis() < genDeadline, "live generator did not finish")
      Thread.sleep(10)
    }
    run.awaitRows(manifestLines(manifest.toString), 5000L)
    run.stop()
  }
}
