package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.EntryMath.r

/** What the two trainable tokenizers ([[Bpe]], [[Unigram]]) share: the
  * word filter, the driver-side training dictionary, code-point symbols
  * and order, and the fitted [[Tokenizer]] with its encode and fertility
  * views.
  *
  * Scale shape: the only corpus-sized pass of a fit is one distributed
  * word count. Its result, the word-frequency dictionary, is collected
  * once under [[MaxDictWords]], and each tokenizer fits in-process on it
  * (a tokenizer's artifact is driver-sized by definition, and so is the
  * dictionary it is learned from). The fitted tokenizer keeps that
  * dictionary, and encoding segments it in the driver, so encode reads
  * no corpus at all; fertility adds one corpus pass for its strata.
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

  /** Collect the (word, cnt) dictionary of the filtered whitespace
    * tokens of `docs.text` in one distributed word count; more than
    * [[MaxDictWords]] rows fail instead of flooding the driver. */
  private[operators] def collectDict(docs: DataFrame,
      keep: Column => Column): Seq[(String, Long)] = {
    val rows = docs.select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .filter(keep(col("word")))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .limit(MaxDictWords + 1).collect()
    require(rows.length <= MaxDictWords,
      s"tokenizer training dictionary has more than MaxDictWords = $MaxDictWords " +
        "distinct words; train on a sample of the corpus")
    rows.toSeq.map(r => (r.getString(0), r.getLong(1)))
  }

  /** Σ cnt per key over (key, cnt) pairs. */
  private[operators] def sumBy(kv: Iterator[(String, Long)]): Map[String, Long] = {
    val m = collection.mutable.HashMap.empty[String, Long]
    kv.foreach { case (k, c) => m(k) = m.getOrElse(k, 0L) + c }
    m.toMap.withDefaultValue(0L)
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

  /** A fitted tokenizer: its artifact `table` (the BPE merge table or
    * the Unigram piece table), the (word, cnt) dictionary it was fitted
    * on, and its word → pieces function. [[encode]] and [[wordPieces]]
    * segment that dictionary in the driver (dictionary-sized work, like
    * the fit) with exact `Long` sums, so they describe the training
    * corpus and fire no Spark job. */
  final case class Tokenizer(table: DataFrame, dict: Seq[(String, Long)],
      pieces: String => Seq[String]) {

    private def frame(rows: Iterable[(String, Long)], ddl: String): DataFrame =
      table.sparkSession.createDataFrame(
        rows.map { case (k, v) => Row(k, v) }.toSeq.asJava, StructType.fromDDL(ddl))

    /** Tokenize the training corpus: exact per-piece corpus counts,
      * (token, n) — the subword-vocabulary view a tokenizer ships. */
    def encode: DataFrame =
      frame(sumBy(dict.iterator.flatMap { case (w, c) => pieces(w).map(p => (p, c)) }),
        "token STRING, n BIGINT")

    /** Pieces per dictionary word: (word, n_pieces). */
    def wordPieces: DataFrame =
      frame(dict.map { case (w, _) => (w, pieces(w).size.toLong) },
        "word STRING, n_pieces BIGINT")

    /** Tokenizer FERTILITY report per (source, lang) stratum of `docs`,
      * the corpus this tokenizer was fitted on — the standard
      * post-training eval of a subword tokenizer (how many pieces a word
      * costs, and how many characters a piece buys, per language/domain):
      * multilingual corpora surface fertility DISPARITY here (strata the
      * tokenizer under-served tokenize long), which is exactly what this
      * report exists to catch before a tokenizer ships. Words outside the
      * fitted dictionary (over Unigram's [[Unigram.MaxWordLen]]) are not
      * counted.
      *
      * Shape at scale: one corpus explode collapsed to (stratum, word, k)
      * and a word-keyed equi-join against the dictionary-sized
      * [[wordPieces]] (AQE joins it without a shuffle when it fits).
      * Ratios are exact integer sums divided once, 4dp-rounded. */
    def fertility(docs: DataFrame): DataFrame =
      docs
        .select(col("source"), col("lang"),
          explode(TextAnalysis.tokens(col("text"))).as("word"))
        .filter(isWord(col("word")))
        .groupBy(col("source"), col("lang"), col("word"))
        .agg(count(lit(1)).as("k"))
        .join(wordPieces, "word")
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
