package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}

/** Dev utility: print the formatted physical plan, wall time, and total
  * shuffle bytes of one query: `graft.Explain <query> [sfDir]`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.local(GraftSession.cpus)
    val meter = new ShuffleMeter(spark.sparkContext)
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    // noop sink: full materialization (count() would let Catalyst prune);
    // the row count rides along as an observed metric so the query runs once.
    val obs = Observation("explain_rows")
    val t0 = System.nanoTime()
    val (sb, sr, _) = meter.delta {
      df.observe(obs, count(lit(1)).as("rows"))
        .write.format("noop").mode("overwrite").save()
    }
    val t1 = (System.nanoTime() - t0) / 1e9
    println(s"rows=${obs.get("rows")} time=${t1}s " +
      s"shuffle_write_bytes=$sb shuffle_write_records=$sr")
    spark.stop()
  }
}
