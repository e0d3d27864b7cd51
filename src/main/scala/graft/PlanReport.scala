package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dev utility: generate PLANS.md — a per-query physical-plan inventory
  * (scans, shuffles, broadcasts, join/window/sort/aggregate node counts)
  * so plan-shape discipline is reviewable at a glance and diffable across
  * rounds. Usage: `graft.PlanReport [sfDir] [outFile]`. Counts come from
  * the pre-adaptive physical plan (deterministic without executing; AQE
  * only further coalesces/localizes at runtime). */
object PlanReport {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    // AQE off so executedPlan is the complete static plan (exchanges and
    // sorts included) without having to run every query
    val spark = GraftSession.local(GraftSession.cpus,
      "spark.sql.adaptive.enabled" -> "false")

    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.executedPlan
      val names = plan.collect { case p => p.getClass.getSimpleName }
      def n(cls: String*) = names.count(cls.contains)
      (name,
        n("FileSourceScanExec"),
        n("ShuffleExchangeExec"),
        n("BroadcastExchangeExec"),
        n("SortMergeJoinExec", "ShuffledHashJoinExec"),
        n("BroadcastHashJoinExec"),
        n("BroadcastNestedLoopJoinExec", "CartesianProductExec"),
        n("WindowExec", "WindowGroupLimitExec"),
        n("SortExec"),
        n("HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec"))
    }
    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan inventory per shipped query\n\n"
    sb ++= s"Generated by `graft.PlanReport` at `$sfDir` (static physical plan,\n"
    sb ++= "AQE disabled; at runtime AQE additionally coalesces partitions,\n"
    sb ++= "localizes small joins, and splits skewed ones).\n"
    sb ++= "`bnlj` counts BroadcastNestedLoopJoin + CartesianProduct — nonzero\n"
    sb ++= "only for the documented constant-size broadcasts (one-row totals,\n"
    sb ++= "centroid tables, bounded query sets); PlanAuditSpec enforces the\n"
    sb ++= "allowlist. `scan` counts parquet scans (checkpointed mid-tables scan\n"
    sb ++= "as RDDs and do not appear).\n\n"
    sb ++= "| query | scan | shuffle | bcast | smj | bhj | bnlj | window | sort | agg |\n"
    sb ++= "|---|---|---|---|---|---|---|---|---|---|\n"
    rows.foreach { case (q, sc, sh, bc, smj, bhj, bnlj, w, so, ag) =>
      sb ++= s"| $q | $sc | $sh | $bc | $smj | $bhj | $bnlj | $w | $so | $ag |\n"
    }
    val totalShuffles = rows.map(_._3).sum
    sb ++= s"\n${rows.size} queries, $totalShuffles shuffle exchanges total.\n"
    Files.write(Paths.get(out), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"wrote $out (${rows.size} queries)")
    spark.stop()
  }
}
