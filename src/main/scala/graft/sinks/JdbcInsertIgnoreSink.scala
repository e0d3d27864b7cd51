package graft.sinks

import java.sql.{Connection, SQLException, Types}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Per-row "insert iff the key is absent" SQL, parameterized once and
  * executed in JDBC batches. */
trait InsertIgnoreDialect extends Serializable {
  def insertIgnoreSql(table: String, columns: Seq[String], keys: Seq[String],
      schema: StructType): String
}

/** The reference's actual sink statement — batched
  * `INSERT … ON CONFLICT (keys) DO NOTHING`
  * (trading-etl-python/src/processing/consumer.py:195-205, where
  * psycopg2's `execute_values` plays the role of the JDBC batch). */
object PostgresInsertIgnoreDialect extends InsertIgnoreDialect {
  override def insertIgnoreSql(table: String, columns: Seq[String],
      keys: Seq[String], schema: StructType): String = {
    val cols = columns.map(c => s""""$c"""").mkString(", ")
    val params = columns.map(_ => "?").mkString(", ")
    val conflict = keys.map(k => s""""$k"""").mkString(", ")
    s"INSERT INTO $table ($cols) VALUES ($params) ON CONFLICT ($conflict) DO NOTHING"
  }
}

/** ANSI fallback for engines without ON CONFLICT (Derby, H2, …):
  * `INSERT INTO t SELECT … FROM (VALUES …) v WHERE NOT EXISTS (key probe)`.
  * (MERGE was rejected: Derby only accepts base tables / table functions as
  * a MERGE source — 42XAL.) Engines like Derby require typed parameters
  * inside VALUES, so each `?` is wrapped in a CAST derived from the
  * DataFrame schema. Identifiers are left unquoted (engines that upcase
  * unquoted DDL keep matching).
  *
  * The NOT-EXISTS probe is not atomic across concurrent writers: two
  * partitions racing on the same key can both see "absent". The target
  * table therefore REQUIRES a unique constraint / primary key on `keys`;
  * with it, the losing writer raises a duplicate-key error that
  * [[JdbcInsertIgnoreSink.write]] absorbs row-by-row (first write still
  * wins). Without it, racing writers insert silent duplicates. */
object AnsiInsertIgnoreDialect extends InsertIgnoreDialect {
  override def insertIgnoreSql(table: String, columns: Seq[String],
      keys: Seq[String], schema: StructType): String = {
    val casts = columns.map(c =>
      s"CAST(? AS ${JdbcInsertIgnoreSink.sqlTypeOf(schema(c).dataType).get._2})").mkString(", ")
    val vcols = columns.mkString(", ")
    val sel = columns.map(c => s"v.$c").mkString(", ")
    val probe = keys.map(k => s"t.$k = v.$k").mkString(" AND ")
    s"INSERT INTO $table ($vcols) SELECT $sel FROM (VALUES ($casts)) AS v($vcols) " +
      s"WHERE NOT EXISTS (SELECT 1 FROM $table t WHERE $probe)"
  }
}

/** First-write-wins JDBC sink: `foreachPartition` + one connection + one
  * PreparedStatement per partition, rows added to JDBC batches of
  * [[BatchSize]], one transaction per partition with rollback-on-failure —
  * the Spark shape of the reference consumer's
  * `execute_values(cur, "INSERT … ON CONFLICT DO NOTHING", records)` +
  * `db_conn.commit()` / `db_conn.rollback()`
  * (trading-etl-python/src/processing/consumer.py:188-210).
  *
  * Scale notes: each partition writes independently (N executors → N
  * connections — size the pool accordingly); at-least-once upstream
  * replays are absorbed by the conflict clause exactly like the parquet
  * [[IdempotentSink]]; there is no driver-side collect.
  */
object JdbcInsertIgnoreSink {

  /** Rows per JDBC batch. */
  private val BatchSize = 500

  /** The supported column types: the `java.sql.Types` code (for
    * `setNull`) and the ANSI SQL type name (for the ANSI dialect's
    * casts); None = unsupported, rejected by [[write]] on the driver. */
  private[sinks] def sqlTypeOf(dt: DataType): Option[(Int, String)] = dt match {
    case LongType => Some((Types.BIGINT, "BIGINT"))
    case IntegerType => Some((Types.INTEGER, "INTEGER"))
    case DoubleType => Some((Types.DOUBLE, "DOUBLE"))
    case FloatType => Some((Types.REAL, "REAL"))
    case StringType => Some((Types.VARCHAR, "VARCHAR(1024)"))
    case BooleanType => Some((Types.BOOLEAN, "BOOLEAN"))
    case TimestampType => Some((Types.TIMESTAMP, "TIMESTAMP"))
    case DateType => Some((Types.DATE, "DATE"))
    case d: DecimalType => Some((Types.DECIMAL, s"DECIMAL(${d.precision},${d.scale})"))
    case _ => None
  }

  /** SQLState 23505 = unique-constraint violation (Postgres/Derby/H2) —
    * the ONLY state first-write-wins may absorb. Other class-23 errors
    * (23502 NOT NULL, 23503 FK, 23513 CHECK) mean the row itself is bad
    * and must propagate → rollback, not be silently dropped as a
    * "duplicate". Walks the chain because BatchUpdateException often wraps
    * the real cause. */
  private def isDuplicateKey(e: SQLException): Boolean = {
    var cur: SQLException = e
    var seen = 0
    while (cur != null && seen < 8) {
      if (Option(cur.getSQLState).contains("23505")) return true
      cur = cur.getNextException
      seen += 1
    }
    false
  }

  /** Structured Streaming glue: the same first-write-wins write per
    * micro-batch, for `writeStream.foreachBatch(...)` — the streaming shape
    * of the reference consumer's poll→insert loop
    * (trading-etl-python/src/processing/consumer.py:218-255). Batch
    * replays after a failed epoch re-offer the same rows and the conflict
    * clause absorbs them, which is exactly what makes an at-least-once
    * stream land exactly-once rows without sink-side coordination. */
  def foreachBatchWriter(connect: () => Connection, table: String,
      keys: Seq[String],
      dialect: InsertIgnoreDialect = PostgresInsertIgnoreDialect): (DataFrame, Long) => Unit =
    (batch, _) => write(batch, connect, table, keys, dialect)

  /** @param connect serializable connection factory, invoked once per
    *                partition on the executor (capture only strings/configs,
    *                never a Connection). */
  def write(df: DataFrame, connect: () => Connection, table: String,
      keys: Seq[String],
      dialect: InsertIgnoreDialect = PostgresInsertIgnoreDialect): Unit = {
    val schema = df.schema
    val columns = schema.fieldNames.toSeq
    // Fail on the driver, before any job launches: complex types (array/
    // map/struct/binary) would pass setObject but die per-row on the
    // executor with an obscure driver error.
    val bad = schema.fields.filter(f => sqlTypeOf(f.dataType).isEmpty)
    require(bad.isEmpty,
      s"unsupported JDBC sink column types: ${bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")}")
    val sql = dialect.insertIgnoreSql(table, columns, keys, schema)
    val jdbcTypes = schema.fields.map(f => sqlTypeOf(f.dataType).get._1)
    df.foreachPartition { rows: Iterator[Row] =>
      if (rows.hasNext) {
        val conn = connect()
        try {
          conn.setAutoCommit(false)
          val ps = conn.prepareStatement(sql)
          try {
            def bind(row: Row): Unit = {
              var i = 0
              while (i < columns.length) {
                val v = row.get(i)
                if (v == null) ps.setNull(i + 1, jdbcTypes(i))
                else ps.setObject(i + 1, v)
                i += 1
              }
            }
            // Rows of the in-flight batch are buffered so a duplicate-key
            // batch failure (concurrent writer won the race between MERGE's
            // probe and its insert) can be replayed row-at-a-time: the
            // duplicate rows are skipped (first write wins), everything
            // else still lands. Non-duplicate failures propagate → rollback.
            val buf = new ArrayBuffer[Row](BatchSize)
            def flush(): Unit = if (buf.nonEmpty) {
              buf.foreach { row => bind(row); ps.addBatch() }
              try ps.executeBatch()
              catch {
                case e: SQLException if isDuplicateKey(e) =>
                  ps.clearBatch()
                  buf.foreach { row =>
                    bind(row)
                    try ps.executeUpdate()
                    catch { case d: SQLException if isDuplicateKey(d) => () }
                  }
              }
              buf.clear()
            }
            rows.foreach { row =>
              buf += row
              if (buf.length == BatchSize) flush()
            }
            flush()
            conn.commit()
          } finally ps.close()
        } catch {
          case e: Throwable =>
            try conn.rollback()
            catch { case r: Throwable => e.addSuppressed(r) }
            throw e
        } finally conn.close()
      }
    }
  }
}
