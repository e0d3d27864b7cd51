package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.EntryMath.r

/** What the two trainable tokenizers ([[Bpe]], [[Unigram]]) share: the
  * word filter, the driver-side training dictionary, code-point symbols
  * and order, the distributed per-word segmentation pass, and the
  * fertility report.
  *
  * Scale shape: the only corpus-sized pass is one distributed word count.
  * Its result, the word-frequency dictionary, is collected once under
  * [[MaxDictWords]], and each tokenizer fits in-process on it (a
  * tokenizer's artifact is driver-sized by definition, and so is the
  * dictionary it is learned from). Encoding segments each DISTINCT word
  * in one `mapPartitions` with the model broadcast, then aggregates.
  *
  * Symbols are Unicode code points, as Spark's and DuckDB's `length` and
  * `substr` count them, and every tie-break orders strings by code point,
  * which is the UTF-8 byte order both engines sort by. Java `String`
  * indexes and compares UTF-16 units instead, which splits and misorders
  * characters outside the Basic Multilingual Plane. */
object Subword {

  // control chars excluded from every tokenizer word (the oracles' wc
  // CTEs apply the same filter); written as escapes so the source stays
  // clean text for git/grep
  private val L = "\u0001"
  private val R = "\u0002"

  /** Row cap on the collected training dictionary (distinct words). */
  val MaxDictWords = 1000000

  /** Non-empty and free of the reserved control chars. */
  private[operators] def isWord(w: Column): Column =
    length(w) > 0 && !w.contains(L) && !w.contains(R)

  /** (word, cnt) for the filtered whitespace tokens of `docs.text`. */
  private[operators] def wordCounts(docs: DataFrame, keep: Column => Column): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .filter(keep(col("word")))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Collect a (word, cnt) dictionary in one job; more than
    * [[MaxDictWords]] rows fail instead of flooding the driver. */
  private[operators] def collectDict(wd: DataFrame): Array[(String, Long)] = {
    val rows = wd.select("word", "cnt").limit(MaxDictWords + 1).collect()
    require(rows.length <= MaxDictWords,
      s"tokenizer training dictionary has more than MaxDictWords = $MaxDictWords " +
        "distinct words; train on a sample of the corpus")
    rows.map(r => (r.getString(0), r.getLong(1)))
  }

  /** The code points of `w`, one string each. */
  private[operators] def codePoints(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** String order by code point (= UTF-8 byte order). */
  private[operators] val codePointOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      var i = 0
      var j = 0
      var c = 0
      while (c == 0 && i < a.length && j < b.length) {
        val x = a.codePointAt(i)
        val y = b.codePointAt(j)
        c = Integer.compare(x, y)
        i += Character.charCount(x)
        j += Character.charCount(y)
      }
      if (c != 0) c else Integer.compare(a.length - i, b.length - j)
    }
  }

  /** (word, cnt, pieces) for every dictionary word: one `mapPartitions`
    * with the model broadcast once per executor (a task-closure copy
    * would re-serialize a 32k-entry vocabulary per task). */
  private def segmented[M: scala.reflect.ClassTag](wd: DataFrame, model: M)(
      seg: (String, M) => Seq[String]): DataFrame = {
    val spark = wd.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    wd.select(col("word"), col("cnt")).as[(String, Long)]
      .mapPartitions(_.map { case (w, c) => (w, c, seg(w, bc.value)) })
      .toDF("word", "cnt", "pieces")
  }

  /** Exact per-piece corpus counts: (token, n). */
  private[operators] def encode[M: scala.reflect.ClassTag](wd: DataFrame, model: M)(
      seg: (String, M) => Seq[String]): DataFrame =
    segmented(wd, model)(seg)
      .select(explode(col("pieces")).as("token"), col("cnt"))
      .groupBy("token").agg(sum(col("cnt")).as("n"))

  /** Pieces per dictionary word: (word, n_pieces). */
  private[operators] def wordPieces[M: scala.reflect.ClassTag](wd: DataFrame, model: M)(
      seg: (String, M) => Seq[String]): DataFrame =
    segmented(wd, model)(seg)
      .select(col("word"), size(col("pieces")).cast("long").as("n_pieces"))

  /** The stratified fertility aggregation over ANY tokenizer's per-word
    * piece table — shared by the BPE and Unigram reports (same corpus
    * side, same ratios; only `wp` differs).
    *
    * Shape at scale: the per-word piece table is dictionary-sized; the
    * corpus side is one explode collapsed to (stratum, word, k) and a
    * word-keyed equi-join (AQE broadcasts the dictionary when it fits).
    * Ratios are exact integer sums divided once, 4dp-rounded. */
  private[operators] def fertilityReport(docs: DataFrame, wp: DataFrame): DataFrame = {
    val dw = docs
      .select(col("source"), col("lang"),
        explode(TextAnalysis.tokens(col("text"))).as("word"))
      .filter(isWord(col("word")))
      .groupBy(col("source"), col("lang"), col("word"))
      .agg(count(lit(1)).as("k"))
    dw.join(wp, "word")
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("k")).as("n_words"),
        sum(col("k") * col("n_pieces")).as("n_pieces"),
        sum(col("k") * length(col("word")).cast("long")).as("n_word_chars"))
      .select(col("source"), col("lang"), col("n_words"), col("n_pieces"),
        col("n_word_chars"),
        r(col("n_pieces").cast("double") / col("n_words")).as("fertility"),
        r(col("n_word_chars").cast("double") / col("n_pieces"))
          .as("chars_per_piece"))
  }
}
