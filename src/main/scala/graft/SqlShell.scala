package graft

import graft.plans.GraftExtensions
import graft.sources.Tables

/** SQL entry point: `graft.SqlShell <sfDir> <sql>` — runs one SQL statement
  * with the engine's custom functions registered and the testdata tables +
  * derived `ticks`/`bars` views in scope, printing the result as JSON
  * lines. The `spark.sql(...)` surface of the engine. */
object SqlShell {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, sql) = args.take(2)
    val spark = GraftSession.local(GraftSession.cpus,
      "spark.sql.extensions" -> classOf[GraftExtensions].getName)
    GraftExtensions.register(spark) // cover a pre-existing session too
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      try Tables.table(spark, sfDir, t).createOrReplaceTempView(t)
      catch { case _: Throwable => () }
    }
    Tables.events(spark, sfDir).createOrReplaceTempView("events")
    Tables.ticks(spark, sfDir).createOrReplaceTempView("ticks")
    Tables.bars(spark, sfDir).createOrReplaceTempView("bars")
    spark.sql(sql).toJSON.collect().foreach(println)
    spark.stop()
  }
}
