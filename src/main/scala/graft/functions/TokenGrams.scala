package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native token-n-gram generators — the byte-slice fast path for every
  * word-shingle operator (optimization r19, guide §1.2 step 2 / §4).
  *
  * Why they exist: the composed form
  * `transform(sequence(0, size(toks)-n), i -> concat_ws(' ', element_at..))`
  * is a higher-order function — Catalyst evaluates the lambda INTERPRETED,
  * once per gram, allocating a fresh concatenated string per element; a
  * follow-up `transform(…, g -> hash(g))` pays a second interpreted pass.
  * Documents are single-space-joined, so every word n-gram is a CONTIGUOUS
  * byte slice of the document text (split(' ') never merges or drops
  * separators, and concat_ws(' ') re-inserts exactly the byte removed):
  * one linear scan finds the token-start offsets and every gram is a
  * zero-copy slice — no lambda dispatch, no string building, and the md5 /
  * xxhash64 runs over the slice in place. Same design as [[WindowHashes]]
  * (the r17 substring-window fast path).
  *
  * Value contracts (each pinned by TokenGramSpec on ASCII, multi-byte,
  * empty-token and short-document inputs):
  *   - [[TokenGramStrings]](text, n)[i] == element i of
  *     `shinglesFromTokens(split(text,' '), n)` — the identical string.
  *   - [[TokenGramXx64s]] emits `(n, i, xxhash64(gram))` with the exact
  *     Spark xxhash64 (seed 42) of the identical gram bytes.
  *   - [[TokenGramHash60s]] / [[TokenGramHash60Structs]] emit
  *     `hash60(gram) [% mod]` — md5-derived, bit-equal to
  *     `conv(substring(md5(g),1,15),16,10)`. With `distinct = true` the
  *     per-document dedup keys on the FULL 128-bit md5 of the gram bytes
  *     (strictly finer than the 60-bit key every downstream consumer
  *     already trusts), so it equals `array_distinct` on the gram strings
  *     unless two distinct grams of one document collide in full md5.
  */
object TokenGram {

  /** Token start byte offsets of a single-space-tokenized string, plus a
    * sentinel at nBytes+1: token k spans [starts(k), starts(k+1)-1).
    * Space (0x20) never occurs inside a multi-byte UTF-8 sequence, so the
    * byte scan is codepoint-correct. Token count = starts.length - 1
    * (split(' ') yields spaces+1 tokens, keeping empty ones). */
  private def tokenStarts(bytes: Array[Byte]): Array[Int] = {
    val nb = bytes.length
    var spaces = 0
    var i = 0
    while (i < nb) { if (bytes(i) == ' ') spaces += 1; i += 1 }
    val starts = new Array[Int](spaces + 2)
    starts(0) = 0
    var t = 1
    i = 0
    while (i < nb) {
      if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(spaces + 1) = nb + 1
    starts
  }

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex digits of an md5 digest as a long — exactly
    * `conv(substring(md5(x),1,15),16,10)` (same as [[WindowHash]]). */
  private def first60Bits(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) >> 4) & 0xfL)
  }

  /** All word n-grams as zero-copy UTF8String slices. Every slice shares
    * the whole document's byte array, so a consumer that RETAINS the
    * returned array (caching it, collect_list of grams, a driver collect)
    * pins the full document once per gram. Today's callers explode the
    * array at once, which copies each gram into its own UnsafeRow; copy a
    * slice (`UTF8String.clone`) before keeping it any longer. */
  def grams(s: UTF8String, n: Int): Array[UTF8String] = {
    val bytes = s.getBytes
    val starts = tokenStarts(bytes)
    val nWins = starts.length - 1 - n + 1
    if (nWins <= 0) return Array.empty
    val out = new Array[UTF8String](nWins)
    var i = 0
    while (i < nWins) {
      val off = starts(i)
      out(i) = UTF8String.fromBytes(bytes, off, starts(i + n) - 1 - off)
      i += 1
    }
    out
  }

  /** (ng, gram) rows for every n in `ns` — the tagged fused-pass form the
    * LM estimators aggregate in one corpus scan. */
  def gramStructs(s: UTF8String, ns: Array[Int]): Array[AnyRef] = {
    val bytes = s.getBytes
    val starts = tokenStarts(bytes)
    val nTok = starts.length - 1
    var total = 0
    var k = 0
    while (k < ns.length) {
      val w = nTok - ns(k) + 1; if (w > 0) total += w; k += 1
    }
    val out = new Array[AnyRef](total)
    var o = 0
    k = 0
    while (k < ns.length) {
      val n = ns(k)
      val nWins = nTok - n + 1
      var i = 0
      while (i < nWins) {
        val off = starts(i)
        out(o) = new GenericInternalRow(Array[Any](
          n, UTF8String.fromBytes(bytes, off, starts(i + n) - 1 - off)))
        o += 1
        i += 1
      }
      k += 1
    }
    out
  }

  /** (n, i, xxhash64(gram)) rows for every n in `ns`; i is the 0-based
    * start-token index (the repetition interval-fold key). Hash is Spark's
    * xxhash64 (seed 42) over the identical gram bytes. */
  def gramXx64(s: UTF8String, ns: Array[Int]): Array[AnyRef] = {
    val bytes = s.getBytes
    val starts = tokenStarts(bytes)
    val nTok = starts.length - 1
    var total = 0
    var k = 0
    while (k < ns.length) {
      val w = nTok - ns(k) + 1; if (w > 0) total += w; k += 1
    }
    val out = new Array[AnyRef](total)
    var o = 0
    k = 0
    while (k < ns.length) {
      val n = ns(k)
      val nWins = nTok - n + 1
      var i = 0
      while (i < nWins) {
        val off = starts(i)
        val h = XXH64.hashUTF8String(
          UTF8String.fromBytes(bytes, off, starts(i + n) - 1 - off), 42L)
        out(o) = new GenericInternalRow(Array[Any](n, i, h))
        o += 1
        i += 1
      }
      k += 1
    }
    out
  }

  /** hash60 of every n-gram for every n in `ns`, flattened (order: all of
    * ns(0), then ns(1), …), reduced `% mod` when mod > 0. With
    * `distinct = true` the per-doc dedup keys on the full md5 (see object
    * doc); dedup is per-n, matching `array_distinct` per shingle array. */
  def gramHash60(s: UTF8String, ns: Array[Int], mod: Long,
      distinct: Boolean): Array[Long] = {
    val bytes = s.getBytes
    val starts = tokenStarts(bytes)
    val nTok = starts.length - 1
    val md = md5.get()
    var total = 0
    var k = 0
    while (k < ns.length) {
      val w = nTok - ns(k) + 1; if (w > 0) total += w; k += 1
    }
    val out = new Array[Long](total) // upper bound; exact when !distinct
    var o = 0
    k = 0
    while (k < ns.length) {
      val n = ns(k)
      val nWins = nTok - n + 1
      val seen: java.util.HashSet[java.math.BigInteger] =
        if (distinct) new java.util.HashSet[java.math.BigInteger]() else null
      var i = 0
      while (i < nWins) {
        val off = starts(i)
        md.reset()
        md.update(bytes, off, starts(i + n) - 1 - off)
        val d = md.digest()
        if (seen == null || seen.add(new java.math.BigInteger(d))) {
          val h = first60Bits(d)
          out(o) = if (mod > 0) h % mod else h
          o += 1
        }
        i += 1
      }
      k += 1
    }
    if (o == total) out else java.util.Arrays.copyOf(out, o)
  }

  /** Per-document repetition statistics for every n in `ns` in ONE linear
    * pass — the per-doc kernel behind the Gopher repetition gates
    * (optimization r19, guide §2.4): every output of those operators is a
    * PER-DOCUMENT metric, so the (doc, n, gram) count aggregates the r18
    * form shuffled exist only to express intra-document grouping; here the
    * grouping runs inside the scan task and the queries become pure maps.
    *
    * Per n, over the xxhash64 gram keys (identical values and collision
    * semantics to [[gramXx64]]/the r18 form):
    *   - total  = gram count (windows),
    *   - top_c  = occurrences of the most frequent gram,
    *   - dup_occ = Σ occurrences of grams occurring ≥ 2 times,
    *   - covered = interval-union length of the spans [i, i+n−1] of all
    *     duplicated-gram start positions — the EXACT r18 fold
    *     (`aggregate(array_sort(flatten(starts_all)), (e=−1, t=0), …)`):
    *     start positions are collected in scan order, so they are already
    *     sorted, and the fold adds max(0, (i+n−1) − max(e, i−1)) per
    *     start before advancing e (OptEquivalenceSpec pins overlapping
    *     spans against the hand-counted distinct-position form). */
  def repStats(s: UTF8String, ns: Array[Int]): Array[AnyRef] = {
    val bytes = s.getBytes
    val starts = tokenStarts(bytes)
    val nTok = starts.length - 1
    val out = new Array[AnyRef](ns.length)
    var k = 0
    while (k < ns.length) {
      val n = ns(k)
      val nWins = nTok - n + 1
      if (nWins <= 0) {
        out(k) = new GenericInternalRow(Array[Any](n, 0L, 0L, 0L, 0L))
      } else {
        val hs = new Array[Long](nWins)
        val counts = new java.util.HashMap[java.lang.Long, Integer]()
        var i = 0
        while (i < nWins) {
          val off = starts(i)
          val h = XXH64.hashUTF8String(
            UTF8String.fromBytes(bytes, off, starts(i + n) - 1 - off), 42L)
          hs(i) = h
          counts.merge(h, 1, (a: Integer, b: Integer) => a + b)
          i += 1
        }
        var top = 0L
        var dup = 0L
        val it = counts.values().iterator()
        while (it.hasNext) {
          val c = it.next().intValue()
          if (c > top) top = c
          if (c > 1) dup += c
        }
        var e = -1
        var t = 0L
        i = 0
        while (i < nWins) {
          if (counts.get(hs(i)).intValue() > 1) {
            val end = i + n - 1
            t += math.max(0, end - math.max(e, i - 1))
            e = math.max(e, end)
          }
          i += 1
        }
        out(k) = new GenericInternalRow(Array[Any](n, nWins.toLong, top, dup, t))
      }
      k += 1
    }
    out
  }

  /** (n, hash60 % mod) rows, per-n md5-distinct — the n-sweep form. */
  def gramHash60Structs(s: UTF8String, ns: Array[Int], mod: Long): Array[AnyRef] = {
    val bytes = s.getBytes
    val starts = tokenStarts(bytes)
    val nTok = starts.length - 1
    val md = md5.get()
    val buf = new java.util.ArrayList[AnyRef]()
    var k = 0
    while (k < ns.length) {
      val n = ns(k)
      val nWins = nTok - n + 1
      val seen = new java.util.HashSet[java.math.BigInteger]()
      var i = 0
      while (i < nWins) {
        val off = starts(i)
        md.reset()
        md.update(bytes, off, starts(i + n) - 1 - off)
        val d = md.digest()
        if (seen.add(new java.math.BigInteger(d))) {
          val h = first60Bits(d)
          buf.add(new GenericInternalRow(Array[Any](n,
            if (mod > 0) h % mod else h)))
        }
        i += 1
      }
      k += 1
    }
    buf.toArray()
  }
}

/** Base class: STRING in, array out, one static call inside codegen. */
abstract class TokenGramExpression extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${dt.simpleString}")
  }
  /** Java source of the static call producing the element array; `ns` is
    * the order array hoisted into the references (one allocation per
    * operator, not per row). */
  protected def callFor(ctx: CodegenContext, input: String): String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  ${callFor(ctx, a)});
       """.stripMargin
    })
}

/** All word n-grams of a single-space-joined text, as zero-copy slices —
  * drop-in for `shinglesFromTokens(split(text,' '), n)`. Explode the
  * result; a retained array pins the whole document (see
  * [[TokenGram.grams]]). */
case class TokenGramStrings(child: Expression, n: Int)
  extends TokenGramExpression {
  // n reaches here straight from SQL (`token_grams(s, 0)`), so it is
  // rejected at analysis with a clear message rather than by a require
  override def checkInputDataTypes(): TypeCheckResult =
    if (n < 1) TypeCheckResult.TypeCheckFailure(s"$prettyName needs n >= 1 (got $n)")
    else super.checkInputDataTypes()
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "token_grams"
  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(TokenGram.grams(a.asInstanceOf[UTF8String], n))
  override protected def callFor(ctx: CodegenContext, input: String): String =
    s"graft.functions.TokenGram.grams($input, $n)"
  override protected def withNewChildInternal(newChild: Expression): TokenGramStrings =
    copy(child = newChild)
}

/** Tagged (ng, g) gram rows for several orders in one pass — the fused
  * LM-estimation generator. */
case class TokenGramStructs(child: Expression, ns: Seq[Int])
  extends TokenGramExpression {
  require(ns.nonEmpty && ns.forall(_ >= 1), s"bad ns: $ns")
  private val nsArr = ns.toArray
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("ng", IntegerType, nullable = false),
    StructField("g", StringType, nullable = false))), containsNull = false)
  override def prettyName: String = "token_gram_structs"
  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(TokenGram.gramStructs(a.asInstanceOf[UTF8String], nsArr))
  override protected def callFor(ctx: CodegenContext, input: String): String = {
    val nsRef = ctx.addReferenceObj("ns", nsArr, "int[]")
    s"graft.functions.TokenGram.gramStructs($input, $nsRef)"
  }
  override protected def withNewChildInternal(newChild: Expression): TokenGramStructs =
    copy(child = newChild)
}

/** (n, i, xxhash64(g)) gram rows for several orders in one pass — the
  * repetition-rule generator (hashed intra-doc keys, 0-based positions). */
case class TokenGramXx64s(child: Expression, ns: Seq[Int])
  extends TokenGramExpression {
  require(ns.nonEmpty && ns.forall(_ >= 1), s"bad ns: $ns")
  private val nsArr = ns.toArray
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("i", IntegerType, nullable = false),
    StructField("g", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "token_gram_xx64"
  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(TokenGram.gramXx64(a.asInstanceOf[UTF8String], nsArr))
  override protected def callFor(ctx: CodegenContext, input: String): String = {
    val nsRef = ctx.addReferenceObj("ns", nsArr, "int[]")
    s"graft.functions.TokenGram.gramXx64($input, $nsRef)"
  }
  override protected def withNewChildInternal(newChild: Expression): TokenGramXx64s =
    copy(child = newChild)
}

/** hash60(g) [% mod] of every n-gram, flattened across `ns`; optional
  * per-doc (per-n) md5-keyed dedup — the shingle-index generator. */
case class TokenGramHash60s(child: Expression, ns: Seq[Int], mod: Long,
    distinct: Boolean) extends TokenGramExpression {
  require(ns.nonEmpty && ns.forall(_ >= 1), s"bad ns: $ns")
  private val nsArr = ns.toArray
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_gram_hash60"
  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(
      TokenGram.gramHash60(a.asInstanceOf[UTF8String], nsArr, mod, distinct))
  override protected def callFor(ctx: CodegenContext, input: String): String = {
    val nsRef = ctx.addReferenceObj("ns", nsArr, "int[]")
    s"graft.functions.TokenGram.gramHash60($input, $nsRef, ${mod}L, $distinct)"
  }
  override protected def withNewChildInternal(newChild: Expression): TokenGramHash60s =
    copy(child = newChild)
}

/** Per-document repetition statistics (n, total, top_c, dup_occ, covered)
  * for every n in `ns` — exactly `ns.length` elements, so literal-index
  * `element_at` is ANSI-safe. */
case class TokenGramRepStats(child: Expression, ns: Seq[Int])
  extends TokenGramExpression {
  require(ns.nonEmpty && ns.forall(_ >= 1), s"bad ns: $ns")
  private val nsArr = ns.toArray
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("total", LongType, nullable = false),
    StructField("top_c", LongType, nullable = false),
    StructField("dup_occ", LongType, nullable = false),
    StructField("covered", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "token_gram_rep_stats"
  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(TokenGram.repStats(a.asInstanceOf[UTF8String], nsArr))
  override protected def callFor(ctx: CodegenContext, input: String): String = {
    val nsRef = ctx.addReferenceObj("ns", nsArr, "int[]")
    s"graft.functions.TokenGram.repStats($input, $nsRef)"
  }
  override protected def withNewChildInternal(newChild: Expression): TokenGramRepStats =
    copy(child = newChild)
}

/** (n, hash60 % mod) rows, per-n md5-distinct — the decontamination
  * n-sweep generator. */
case class TokenGramHash60Structs(child: Expression, ns: Seq[Int], mod: Long)
  extends TokenGramExpression {
  require(ns.nonEmpty && ns.forall(_ >= 1), s"bad ns: $ns")
  private val nsArr = ns.toArray
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("h", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "token_gram_hash60_structs"
  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(
      TokenGram.gramHash60Structs(a.asInstanceOf[UTF8String], nsArr, mod))
  override protected def callFor(ctx: CodegenContext, input: String): String = {
    val nsRef = ctx.addReferenceObj("ns", nsArr, "int[]")
    s"graft.functions.TokenGram.gramHash60Structs($input, $nsRef, ${mod}L)"
  }
  override protected def withNewChildInternal(newChild: Expression): TokenGramHash60Structs =
    copy(child = newChild)
}

object TokenGrams {
  /** Column of all word n-grams of `text` (zero-copy byte slices). */
  def tokenGrams(text: Column, n: Int): Column =
    ColumnBridge.column(TokenGramStrings(ColumnBridge.expression(text), n))

  /** Column of (ng, g) struct rows for all orders in `ns`. */
  def tokenGramStructs(text: Column, ns: Seq[Int]): Column =
    ColumnBridge.column(TokenGramStructs(ColumnBridge.expression(text), ns))

  /** Column of (n, i, xxhash64) struct rows for all orders in `ns`. */
  def tokenGramXx64(text: Column, ns: Seq[Int]): Column =
    ColumnBridge.column(TokenGramXx64s(ColumnBridge.expression(text), ns))

  /** Column of hash60(gram) [% mod] longs, flattened across `ns`. */
  def tokenGramHash60(text: Column, ns: Seq[Int], mod: Long = 0L,
      distinct: Boolean = false): Column =
    ColumnBridge.column(
      TokenGramHash60s(ColumnBridge.expression(text), ns, mod, distinct))

  /** Column of (n, hash60 % mod) struct rows, per-n distinct. */
  def tokenGramHash60Structs(text: Column, ns: Seq[Int], mod: Long): Column =
    ColumnBridge.column(
      TokenGramHash60Structs(ColumnBridge.expression(text), ns, mod))

  /** Column of per-doc (n, total, top_c, dup_occ, covered) repetition
    * stats, one element per requested n. */
  def tokenGramRepStats(text: Column, ns: Seq[Int]): Column =
    ColumnBridge.column(TokenGramRepStats(ColumnBridge.expression(text), ns))
}
