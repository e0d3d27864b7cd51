package graft

/** Scale-TREND bench: runs the most expensive queries at the base SF and at
  * a synthesized `copies`× SF ([[graft.sources.ScaleSynth]]) and reports the
  * per-SF time ratio — `scaled_sec / (copies × base_sec)`. A query whose
  * plan is linear-with-constant-startup lands BELOW 1.0 (fixed costs
  * amortize); one that crosses a cliff (broadcast flipping to shuffle, a
  * band-key hot spot, an accidentally quadratic join) lands well above.
  * `flagged` lists queries over `SPARK_GRAFT_TREND_FLAG` (default 1.5).
  *
  * This is a TREND check, not a correctness gate: the synth dir has no
  * DuckDB oracle on purpose, and the numbers are comparative (same host,
  * same JVM, minutes apart), so host noise largely cancels out of the
  * ratio. Launch via scripts/bench_trend.sh (plain java, 16g — the same
  * geometry as the committed floors).
  *
  * Env:
  *   SPARK_GRAFT_SF_DIR        base dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_TREND_DIR     synth output (default /tmp/graft_trend/<base>x<c>)
  *   SPARK_GRAFT_TREND_COPIES  scale multiple (default 3)
  *   SPARK_GRAFT_TREND_ONLY    comma list of queries (default: the heavy set)
  *   SPARK_GRAFT_TREND_FLAG    per-SF ratio flag threshold (default 1.5)
  *   SPARK_GRAFT_TREND_OUT     full JSON artifact (default plans/trend_out.json)
  */
object BenchTrend {

  /** The default set: every query with a committed floor >= ~1.3 s at sf0.1,
    * plus the banded near-dup family the trend check exists to watch,
    * plus one representative per remaining heavy family — CDC
    * (snapshot-sized keyed merge + diff), media walks (payload-linear
    * byte folds + the real imageio decode), and BPE (fixed iteration
    * count over a corpus-scaled dictionary). The harness caught a real
    * quadratic in round 8; its value grows with coverage. */
  val DefaultQueries: Seq[String] = Seq(
    "q_corr_matrix", "q_pagerank", "q_pagerank_dangling", "q_triangles",
    "q_communities", "q_kcore",
    "q_profile", "q_containment", "q_sample_dedup", "q_split_safe",
    "q_dedup_keep_best", "q_dedup_corpus", "q_dedup_incremental",
    "q_jaccard_pairs", "q_simhash", "q_simhash_mp", "q_simhash_classes",
    "q_minhash_lsh",
    "q_substring_dup", "q_substring_sa",
    "q_rolling_quantile", "q_dedup_embed_lsh", "q_dedup_embed_lsh_mp",
    "q_dedup_embed_incremental",
    "q_dedup_embed_ivf", "q_semdedup",
    "q_dedup_embed_ivf2", "q_cosine_pq", "q_cosine_ivfpq",
    "q_cosine_ivfpq_sampled",
    "q_cdc_apply", "q_cdc_diff",
    "q_media_jpeg", "q_media_mp4", "q_media_png", "q_media_decode",
    "q_media_decode_png",
    "q_image_neardup",
    "q_bpe_train", "q_bpe_encode", "q_backoff_lm", "q_kn_lm",
    "q_nb_classify",
    "q_unigram_train", "q_unigram_encode", "q_dsir", "q_dsir_resample",
    "q_decontaminate_fuzzy", "q_shuffle_shards", "q_shards_stratified",
    "q_jsonl_roundtrip", "q_export_shards")

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_TREND_COPIES", "3").toInt
    val synthDir = sys.env.getOrElse("SPARK_GRAFT_TREND_DIR",
      s"/tmp/graft_trend/${new java.io.File(baseDir).getName}x$copies")
    val flagAt = sys.env.getOrElse("SPARK_GRAFT_TREND_FLAG", "1.5").toDouble
    val names = sys.env.get("SPARK_GRAFT_TREND_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty).getOrElse(DefaultQueries)
      .filter(SparkEntry.queries.contains)

    val spark = GraftSession.local(GraftSession.cpus)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

    System.err.println(s"[trend] synthesizing $synthDir = $baseDir x$copies")
    val t0 = System.nanoTime()
    sources.ScaleSynth.synthesize(spark, baseDir, synthDir, copies)
    System.err.println(f"[trend] synth ready in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    def timed(name: String, dir: String): Option[Double] = {
      def once(): Option[Double] = {
        val s = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - s) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[trend] $name @ $dir FAILED: ${e.getMessage}")
          None
        }
      }
      val runs = Seq(once(), once()).flatten
      if (runs.isEmpty) None else Some(runs.min)
    }

    // warm both dirs' scan paths once so neither side pays first-read costs
    timed(names.head, baseDir); timed(names.head, synthDir)

    val rows = names.flatMap { n =>
      for (b <- timed(n, baseDir); s <- timed(n, synthDir))
        yield (n, b, s, s / (copies * b))
    }
    val failed = names.filterNot(n => rows.exists(_._1 == n))
    val flagged = rows.filter(_._4 > flagAt).map(_._1)

    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qjson = rows.sortBy(-_._4).map { case (n, b, s, r) =>
      s""""$n":{"base_sec":${f3(b)},"scaled_sec":${f3(s)},"per_sf_ratio":${f3(r)}}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"per_sf_ratio_max","value":${f3(rows.map(_._4).maxOption.getOrElse(0.0))},""" +
        s""""unit":"x","base":"$baseDir","copies":$copies,"flag_at":${f3(flagAt)},""" +
        s""""flagged":${flagged.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""queries":$qjson}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_TREND_OUT", "plans/trend_out.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    // exactly ONE JSON line on stdout (unlike graft.Bench's deliberate
    // double print for clipped capture windows, nothing machine-parses
    // this mid-stream — bench_trend.sh captures complete stdout)
    spark.stop()
    println(
      s"""{"metric":"per_sf_ratio_max","value":${f3(rows.map(_._4).maxOption.getOrElse(0.0))},""" +
        s""""unit":"x","n_queries":${rows.size},"flagged":${flagged.size},""" +
        s""""failed":${failed.size},"file":"$outFile"}""")
    if (flagged.nonEmpty || failed.nonEmpty) sys.exit(4)
  }
}
