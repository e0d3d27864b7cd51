package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{SeededAggs, WindowIndicators => WI}
import graft.operators.IndicatorPipeline

/** ScalaCheck-generated property tests from SURVEY §5's plan: indicator
  * invariants under arbitrary 2-dp price series (raw Gen sampling — the
  * scalatest/scalacheck bridge artifact isn't available offline). */
class PropertiesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val seriesGen: Gen[List[Double]] =
    Gen.chooseNum(30, 80).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1.0, 1000.0).map(v => math.rint(v * 100) / 100)))

  private def samples(n: Int): Seq[List[Double]] =
    (1 to n).map(i => seriesGen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private def df(vals: Seq[Double]) =
    vals.zipWithIndex.map { case (v, i) => (new Timestamp(i * 1000L), "S", v) }
      .toDF("time", "symbol", "close")

  test("SMA within window min/max; RSI in [0,100]; EMA within running min/max (5 random series)") {
    samples(5).foreach { vals =>
      val spec = WI.w()
      val wcum = spec.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val bars = CloseBars(df(vals).withColumn("volume", lit(null).cast("long")))
      val rows = IndicatorPipeline.full(bars)
        .withColumn("sma", WI.sma(col("close"), 14, spec))
        .withColumn("mn", min(col("close")).over(spec.rowsBetween(-13, 0)))
        .withColumn("mx", max(col("close")).over(spec.rowsBetween(-13, 0)))
        .withColumn("rsi", col("rsi_14"))
        .withColumn("ema", SeededAggs.ema(col("close"), 10, spec))
        .withColumn("rmn", min(col("close")).over(wcum))
        .withColumn("rmx", max(col("close")).over(wcum))
        .collect()
      rows.foreach { r =>
        if (!r.isNullAt(r.fieldIndex("sma"))) {
          assert(r.getAs[Double]("sma") >= r.getAs[Double]("mn") - 1e-9)
          assert(r.getAs[Double]("sma") <= r.getAs[Double]("mx") + 1e-9)
        }
        if (!r.isNullAt(r.fieldIndex("rsi"))) {
          val v = r.getAs[Double]("rsi"); assert(v >= -1e-9 && v <= 100 + 1e-9)
        }
        if (!r.isNullAt(r.fieldIndex("ema"))) {
          assert(r.getAs[Double]("ema") >= r.getAs[Double]("rmn") - 1e-9)
          assert(r.getAs[Double]("ema") <= r.getAs[Double]("rmx") + 1e-9)
        }
      }
    }
  }

  test("sampling: nested rates are subsets; rate accuracy within 3% (7 random rates)") {
    val ids = spark.range(8000).select(col("id").as("doc_id"))
    val rates = (1 to 7).map(i =>
      Gen.chooseNum(0.05, 0.95).pureApply(Gen.Parameters.default, Seed(i.toLong)))
    val kept = rates.map { r =>
      r -> graft.operators.Sampling.sample(ids, col("doc_id"), "p:", r)
        .collect().map(_.getLong(0)).toSet
    }.sortBy(_._1)
    kept.foreach { case (r, s) =>
      assert(math.abs(s.size / 8000.0 - r) < 0.03, s"rate $r kept ${s.size}")
    }
    // monotone thresholds ⇒ lower-rate samples nest inside higher-rate ones
    kept.sliding(2).foreach { case Seq((_, lo), (_, hi)) =>
      assert(lo.subsetOf(hi))
    }
  }

  test("chunking: full token coverage and stride spacing for random (size, stride)") {
    val cases = (1 to 6).map { i =>
      val g = for {
        n <- Gen.chooseNum(1, 200)
        size <- Gen.chooseNum(1, 60)
        stride <- Gen.chooseNum(1, 60)
      } yield (n, size, stride)
      g.pureApply(Gen.Parameters.default, Seed(100L + i))
    }
    cases.foreach { case (n, size, stride) =>
      val d = Seq((1L, (1 to n).map(k => s"t$k").mkString(" "))).toDF("doc_id", "text")
      val ch = graft.operators.Chunking.chunk(d, size, stride)
        .orderBy("chunk_id").collect()
      // starts advance by exactly stride from 1 while they stay ≤ n
      assert(ch.map(_.getAs[Long]("start_token")).toSeq ==
        (1L to n.toLong by stride.toLong).toSeq)
      // when stride ≤ size every token is inside some chunk, and the final
      // token is always covered by the tail chunk
      val covered = ch.map(r =>
        (r.getAs[Long]("start_token"), r.getAs[Long]("start_token") + r.getAs[Long]("n_chunk_tokens") - 1))
      assert(covered.last._2 == n.toLong)
      if (stride <= size) {
        val holes = covered.sliding(2).collect {
          case Array((_, e1), (s2, _)) if s2 > e1 + 1 => (e1, s2)
        }
        assert(holes.isEmpty, s"coverage holes at n=$n size=$size stride=$stride")
      }
    }
  }

  test("binned range join ≡ naive range join for random intervals and widths") {
    import graft.operators.RangeJoin
    val base = 1700000000000L
    // random events over ~8 hours; random interval sets with varied lengths
    val evGen = Gen.chooseNum(100, 300).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, 8L * 3600 * 1000)))
    val ivGen = Gen.chooseNum(3, 12).flatMap(n =>
      Gen.listOfN(n, for {
        s <- Gen.chooseNum(0L, 8L * 3600 * 1000)
        len <- Gen.chooseNum(1L, 2L * 3600 * 1000) // 1ms .. 2h
      } yield (s, s + len)))
    (1 to 4).foreach { i =>
      val evs = evGen.pureApply(Gen.Parameters.default, Seed(100L + i))
        .zipWithIndex.map { case (off, id) => (id.toLong, new Timestamp(base + off)) }
        .toDF("event_id", "ts")
      val ivs = ivGen.pureApply(Gen.Parameters.default, Seed(200L + i))
        .zipWithIndex.map { case ((s, e), id) =>
          (id.toLong, new Timestamp(base + s), new Timestamp(base + e)) }
        .toDF("iv_id", "lo", "hi")
      // widths intentionally unaligned with interval lengths
      Seq(60000L, 1800000L, 7200000L).foreach { widthMs =>
        val got = RangeJoin.binned(evs, col("ts"), ivs, col("lo"), col("hi"),
            widthMs * 1000)
          .select("event_id", "iv_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).sorted
        val want = evs.join(ivs, col("ts") >= col("lo") && col("ts") < col("hi"))
          .select("event_id", "iv_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).sorted
        assert(got.toSeq == want.toSeq, s"seed $i width $widthMs")
      }
    }
  }

  test("connected components converges on an adversarial 10^4-node path graph") {
    // A path graph is the worst case for min-label propagation: the minimum
    // must travel the full diameter. Pointer jumping makes the travelled
    // distance grow geometrically per round, so 10^4 nodes must converge
    // well inside the maxRounds=30 guard (plain hop propagation would need
    // 10^4 rounds and trip the require()).
    val n = 10000
    val pairs = spark.range(n - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val labels = graft.operators.Dedup.connectedComponents(pairs)
    val distinctLabels = labels.select("canonical_id").distinct().collect()
    assert(distinctLabels.map(_.getLong(0)).toSeq == Seq(0L))
    assert(labels.count() == n)
  }

  test("OBV telescopes to v0 + Σ sign(Δclose)·v, exactly (5 random series)") {
    samples(5).foreach { vals =>
      val withVol = vals.zipWithIndex.map { case (v, i) =>
        (new Timestamp(i * 1000L), "S", v, (i % 50 + 1).toLong)
      }.toDF("time", "symbol", "close", "volume")
      val lastObv = IndicatorPipeline.full(CloseBars(withVol))
        .select(col("time"), col("obv"))
        .orderBy(col("time").desc).limit(1).head().getLong(1)
      var acc = 1L // volume at i=0 is (0 % 50) + 1
      (1 until vals.length).foreach { i =>
        val d = vals(i) - vals(i - 1)
        if (d > 0) acc += i % 50 + 1 else if (d < 0) acc -= i % 50 + 1
      }
      assert(lastObv == acc)
    }
  }

  test("rollingQuantile ≡ brute-force type-7 interpolation (5 random series × 3 p)") {
    samples(5).foreach { vals =>
      val base = df(vals)
      for (p <- Seq(0.25, 0.5, 0.9)) {
        val got = base
          .select(col("time"), WI.rollingQuantile(col("close"), 10, p, WI.w()).as("q"))
          .orderBy("time").collect()
          .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
        for (i <- vals.indices) {
          if (i < 9) assert(got(i).isEmpty)
          else {
            val win = vals.slice(i - 9, i + 1).sorted
            val pos = 9 * p
            val lo = math.floor(pos).toInt
            val frac = pos - lo
            val want = if (frac == 0) win(lo) else win(lo) * (1 - frac) + win(lo + 1) * frac
            assert(math.abs(got(i).get - want) < 1e-9, s"p=$p i=$i")
          }
        }
      }
    }
  }

  test("ffill/gaps duality: filled rows = grid − observations = Σ gap_slots (random subsets)") {
    val hourMs = 3600000L
    (1 to 5).foreach { seed =>
      // deterministic pseudo-random subset of a 48-hour grid, endpoints kept
      val keep = (0 until 48).filter(h =>
        h == 0 || h == 47 || ((h * 2654435761L + seed) % 97) < 55)
      val obs = keep.map(h => ("K", new Timestamp(1700000000000L / hourMs * hourMs + h * hourMs), h.toDouble))
        .toDF("symbol", "time", "close")
      val filled = graft.operators.Resample
        .ffill(obs, "symbol", "time", "1 hour", Seq("close"))
      assert(filled.count() == 48)
      val nFilled = filled.filter(col("filled") === 1).count()
      assert(nFilled == 48 - keep.size)
      val gapSlots = graft.operators.Resample
        .gaps(obs, "symbol", "time", "1 hour")
        .agg(sum(col("gap_slots"))).head()
      assert((if (gapSlots.isNullAt(0)) 0L else gapSlots.getLong(0)) == 48 - keep.size)
      // forward fill carries the most recent kept hour's value
      val rows = filled.orderBy("time").collect()
      var lastKept = 0.0
      rows.zipWithIndex.foreach { case (r, h) =>
        if (keep.contains(h)) lastKept = h.toDouble
        assert(r.getDouble(2) == lastKept, s"hour $h")
      }
    }
  }
}
