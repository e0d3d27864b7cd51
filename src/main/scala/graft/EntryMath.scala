package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared numeric/SQL helpers for the per-family entry objects: the 4dp
  * floor-rounding rule, integer-cents money, and the DuckDB mirrors of
  * hash60 and the left-to-right double dot product. See [[Query]]'s
  * `oracle` for the shared portability rules these implement. */
private[graft] object EntryMath {

  /** Deterministic 4-dp rounding: floor(x·10⁴+0.5)/10⁴ in pure double
    * arithmetic — bitwise-identical in Spark and DuckDB, unlike round(),
    * whose half-case handling differs (Spark: decimal-string HALF_UP;
    * DuckDB: IEEE double). One definition per form: Column, driver-side
    * Double, and the oracle's SQL text. */
  def r(c: Column): Column = floor(c * lit(10000) + lit(0.5)) / lit(10000)
  def r(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
  def r4(e: String): String = s"floor(($e) * 10000 + 0.5) / 10000"

  /** Exact integer cents — order-independent money aggregation. */
  def cents(c: Column): Column = floor(c * 100 + lit(0.5)).cast("long")

  /** DuckDB 60-bit md5 hash (mirrors TextAnalysis.hash60). */
  def oHash60(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"

  /** Left-to-right double dot product (mirrors Similarity.dot). */
  def oDot(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, len($a) + 1),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)""".stripMargin

  def oCos(a: String, b: String): String =
    s"(${oDot(a, b)}) / (sqrt(${oDot(a, a)}) * sqrt(${oDot(b, b)}))"
}
