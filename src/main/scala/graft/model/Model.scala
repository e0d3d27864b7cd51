package graft.model

import java.sql.Timestamp

import org.apache.spark.sql.types._

/** Data model mirroring the reference's row shapes (SURVEY §1). The typed
  * tick is `StreamIngest.TickEvent`.
  *
  * Reference citations:
  *  - tick wire schema: trading-etl-python/src/ingestion/producer.py:81-86
  *  - IndicatorRow (20-col sink row): trading-etl-python/src/processing/consumer.py:41-62,
  *    DDL trading-etl-python/src/db/setup.py:55-89
  */
object Model {

  /** Kafka tick JSON wire schema (producer.py:81-86): the raw message as
    * produced to Kafka (key = symbol); `timestamp`/`fetched_at` are epoch
    * millis. */
  val tickSchema: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("price", DoubleType),
    StructField("timestamp", LongType),
    StructField("fetched_at", LongType)))

  /** Sink row: 20 columns in the exact order of the reference DDL
    * (setup.py:55-89). PK (time, symbol); first-write-wins dedup. */
  final case class IndicatorRow(
      time: Timestamp,
      symbol: String,
      open: Option[Double],
      high: Option[Double],
      low: Option[Double],
      close: Double,
      volume: Option[Long],
      sma_20: Option[Double],
      ema_10: Option[Double],
      ema_20: Option[Double],
      macd_line: Option[Double],
      adx_14: Option[Double],
      rsi_14: Option[Double],
      stoch_k_14: Option[Double],
      mfi_14: Option[Double],
      bb_upper: Option[Double],
      bb_lower: Option[Double],
      atr_14: Option[Double],
      obv: Option[Long],
      vwap: Option[Double])

  /** Column order of the sink relation (consumer.py:41-62 = backfill.py:77-98). */
  val DbColumns: Seq[String] = Seq(
    "time", "symbol", "open", "high", "low", "close", "volume",
    "sma_20", "ema_10", "ema_20", "macd_line", "adx_14", "rsi_14",
    "stoch_k_14", "mfi_14", "bb_upper", "bb_lower", "atr_14", "obv", "vwap")

  /** Warm-up gate: no output until a symbol has this many rows
    * (MACD slow period; consumer.py:165-167). */
  val WarmupRows: Int = 26

  /** Live-path state cap: most recent N rows per symbol (consumer.py:33). */
  val LookbackRows: Int = 60
}
