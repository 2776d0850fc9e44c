package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Dumps `.explain("formatted")` for the headline queries into PLANS.md —
  * the per-round physical-plan audit (scale review: shuffles, pushdown,
  * codegen spans, single-partition stages).
  * Usage: runMain graft.tools.PlanAudit [sfDir] [outFile]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("/root/repo/PLANS.md")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // EVERY production path Bench measures, read from the registry so the
    // dump can never go stale: the _md5 mirrors share their production
    // row's plan shape and the _replay harnesses are driver-fed streams
    // with no meaningful batch plan, so neither is marked for the bench
    val registry = graft.SparkEntry.registry
    val headline = registry.collect { case (n, e) if e.bench => n }.toSeq.sorted
    val excluded = (registry.keySet -- headline).toSeq.sorted
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (generated by graft.tools.PlanAudit)\n\n")
    sb.append(s"Source sf dir: `$sfDir`. Regenerate: `sbt \"runMain graft.tools.PlanAudit\"`.\n")
    sb.append("Review criteria per SURVEY.md §4.2 / the scale notes in each operator's\n")
    sb.append("scaladoc: one key-hash exchange per keyed operator, partial aggregation\n")
    sb.append("before it, no data-proportional single-partition stage (the lengthBatch\n")
    sb.append("boundary fold's SinglePartition stage now consumes the PHASE-A-compressed\n")
    sb.append("summary, not the raw projection — see lengthBatchIntervals' scaladoc),\n")
    sb.append("filters/pruning pushed into the parquet scan, broadcast for dimension\n")
    sb.append("joins.\n\n")
    sb.append(s"Covers every registry row Bench measures; the streaming replay\n")
    sb.append(s"harnesses and md5 verification mirrors (no distinct batch plan)\n")
    sb.append(s"are left out: ${excluded.mkString("`", "`, `", "`")}.\n")
    headline.foreach { name =>
      val df = registry(name).build(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
      if (plan.contains("localCheckpoint"))
        sb.append("\nIterative operator: the plan above is the final " +
          "lineage-truncated (checkpointed) relation; the per-round join " +
          "structure — one edges⋈labels min-aggregation plus a pointer-jump " +
          "self-join per round, each round itself checkpointed to keep plans " +
          "constant-size — is documented in `TextDedup.nearDupClusters`.\n")
      else if (name.contains("heavy_hitters"))
        sb.append("\nEager two-phase operator: the relation above is the " +
          "≤ k-row result the driver re-parallelized (bounded by the " +
          "operator's own threshold arithmetic). The distributed work — " +
          "the per-partition Misra-Gries summary pass and the " +
          "broadcast-semi-join exact recount with map-side partial " +
          "aggregation — ran inside the call; both stages' shapes are " +
          "documented (and shuffle-measured vs the naive groupBy) in " +
          "`SkewOps.heavyHitters` and BASELINE's heavy_hitters_scale " +
          "table.\n")
      else if (plan.contains("ExistingRDD") && name.contains("neardup"))
        sb.append("\nSize-gated CC endgame: at this sf the symmetrized " +
          "candidate graph is under `driverMaxEdges`, so the labels " +
          "relation above is the driver union-find's parallelized result " +
          "(the candidate pipeline itself ran as the usual distributed " +
          "plan before it); past the threshold the distributed " +
          "min-propagation loop plans as before — see " +
          "`TextDedup.nearDupClusters`.\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[planaudit] wrote $out")
    spark.stop()
  }
}
