package graft

/** Composition-level scale check for the [[Curate]] pipeline (dev tooling,
  * sibling of [[BenchTrend]]): every Curate stage is individually trended
  * by its query-level twin, but the COMPOSITION feeds each stage the
  * previous stage's survivors — different selectivities, different join
  * shapes — so this runs the whole pipeline at the base SF and at a
  * synthesized `copies`× SF and reports per-stage wall-time ratios.
  *
  * Stage times come from [[Curate.runTimed]]: cumulative-through-stage at
  * the counts (the pipeline is one lazy plan), so the reported per-stage
  * ratio is the ratio of adjacent-count DELTAS — the recompute prefix is
  * identical on both sides and cancels. A stage whose delta-ratio exceeds
  * `copies × flag` is super-linear IN COMPOSITION even if its query-level
  * twin is clean.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_TREND_COPIES
  * (default 10), SPARK_GRAFT_TREND_DIR, SPARK_GRAFT_TREND_OUT (default
  * plans/curate_trend.json).
  */
object CurateTrend {
  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_TREND_COPIES", "10").toInt
    // NOT the shared BenchTrend dir: the composition needs the stopword-
    // PRESERVING synthesis (see ScaleSynth.keepStopwords — plain rotation
    // fails every copy at the first stopword-keyed gate and the pipeline
    // silently shrinks back to base size past stage 2)
    val synthDir = sys.env.getOrElse("SPARK_GRAFT_TREND_DIR",
      s"/tmp/graft_trend/${new java.io.File(baseDir).getName}x${copies}sw")
    val spark = GraftSession.local(GraftSession.cpus)

    System.err.println(s"[curate-trend] synthesizing $synthDir = $baseDir x$copies (stopword-preserving)")
    sources.ScaleSynth.synthesize(spark, baseDir, synthDir, copies, keepStopwords = true)

    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def once(dir: String, out: String): (Curate.Funnel, Vector[(String, Double)], Double) = {
      val s = System.nanoTime()
      val (fn, times) = Curate.runTimed(spark, dir, out)
      (fn, times, (System.nanoTime() - s) / 1e9)
    }
    // warm scan paths so neither side pays first-read costs, then measure
    val (fb, tb, wb) = once(baseDir, "/tmp/graft_curate_trend/base")
    val (fs, ts, ws) = once(synthDir, "/tmp/graft_curate_trend/scaled")

    // per-stage deltas of the cumulative count timings; writes stand alone
    def deltas(times: Vector[(String, Double)]): Vector[(String, Double)] = {
      var prevCount = 0.0
      times.map { case (label, sec) =>
        if (label.startsWith("count_")) {
          val d = sec; val out = (label, math.max(0.0, d - prevCount))
          prevCount = d; out
        } else (label, sec)
      }
    }
    val (db, dsv) = (deltas(tb).toMap, deltas(ts).toMap)
    val stages = deltas(tb).map(_._1)
    val ratios = stages.flatMap { st =>
      for (b <- db.get(st); s <- dsv.get(st); if b > 0.05) // sub-50ms deltas are noise
        yield (st, b, s, s / (copies * b))
    }
    val stageJson = ratios.map { case (st, b, s, r) =>
      s""""$st":{"base_sec":${f3(b)},"scaled_sec":${f3(s)},"per_sf_ratio":${f3(r)}}"""
    }.mkString("{", ",", "}")
    def funnelJson(f: Curate.Funnel): String =
      s"""{"input":${f.input},"blocklist":${f.blocklist},""" +
        s""""quality":${f.quality},"rules":${f.rules},""" +
        s""""repetition":${f.repetition},"dedup":${f.dedup},"semdedup":${f.semdedup},""" +
        s""""decontaminated":${f.decontaminated},"fuzzy_clean":${f.fuzzyClean},""" +
        s""""dsir":${f.dsir},"ccnet":${f.ccnet},"sampled":${f.sampled},"chunks":${f.chunks},""" +
        s""""seqs":${f.seqs},"merges":${f.merges},"vocab":${f.vocab},"shards":${f.shards}}"""
    val worst = ratios.map(_._4).maxOption.getOrElse(0.0)
    val json =
      s"""{"metric":"curate_per_sf_ratio_max","value":${f3(worst)},"unit":"x",""" +
        s""""base":"$baseDir","copies":$copies,""" +
        s""""wall_base_sec":${f3(wb)},"wall_scaled_sec":${f3(ws)},""" +
        s""""wall_per_sf_ratio":${f3(ws / (copies * wb))},""" +
        s""""funnel_base":${funnelJson(fb)},"funnel_scaled":${funnelJson(fs)},""" +
        s""""stages":$stageJson}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_TREND_OUT", "plans/curate_trend.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    spark.stop()
    println(json)
  }
}
