package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One Bench/Verify query, declared once in its family's `entries` list
  * ([[AnnEntries]], [[CorpusEntries]], [[GraphEntries]], [[MediaEntries]],
  * [[RelationalEntries]], [[StreamEntries]], [[TextDedupEntries]] and
  * [[SparkEntry]]'s own indicator queries).
  *
  * @param name    its key in Bench/Verify output and `oracle_sql.json`
  * @param body    builds the result from a session and an sf directory
  * @param oracle  the equivalent DuckDB SQL the Verify gate hash-compares
  *                against; None = rows-only (an engine-specific sketch
  *                estimate with no DuckDB mirror). Shared portability rules
  *                (see OracleSql and [[EntryMath]]): md5-derived integer
  *                hashes; int64-safe modular arithmetic; money as
  *                floor(x*100+0.5) integer cents so sums are
  *                order-independent and bit-exact; floor-based 4dp rounding
  *                for any true floating output; left-to-right double folds
  *                for dot products.
  * @param benched false for verify-gate-only queries, excluded from the
  *                bench sweep:
  *                - the sketch _check companions hash-check a sketch query's
  *                  error contract (exact aggregates + in-band booleans) and
  *                  deliberately pay for the exact distinct/percentiles the
  *                  sketch plan avoids — timing them would charge the sketch
  *                  for its oracle;
  *                - q_stream_indicators runs the REAL streaming pipeline
  *                  (file-replay micro-batches, RocksDB state store,
  *                  checkpointing, parquet sink) to gate the sunk table —
  *                  ~18 s at sf0.1 of trigger/state-store machinery, not a
  *                  query plan; benching it would dominate the sweep while
  *                  measuring Structured Streaming overhead, not this library;
  *                - q_stream_cdc likewise replays the CDC changelog through
  *                  the real foreachBatch merge (StreamCdc) and gates the
  *                  final snapshot against the batch oracle — streaming
  *                  machinery, not a plan (as do the other q_stream_*
  *                  replays).
  */
final case class Query(
    name: String,
    body: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    benched: Boolean = true)

object Query {

  /** The families' entries as one list. Fails on a name declared twice,
    * naming it: a `Map ++` union would silently let the last declaration
    * shadow the other's body or oracle. */
  def concat(families: Seq[Query]*): Seq[Query] = {
    val all = families.flatten
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }
}
