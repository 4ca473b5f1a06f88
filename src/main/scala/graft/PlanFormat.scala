package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.graftx.Sessions

/** Dump `.explain("formatted")` of the declared queries to ONE Markdown
  * file with one `## <query>` section per query — the PLANS.md format
  * PlansFreshnessSpec parses, and the optimization-round evidence format
  * (plans/rNN/<tag>.md over a query subset). The full formatted operator
  * detail: PushedFilters, ReadSchema, join build sides, exchange specs —
  * what plan-diff claims are checked against, and reviewable evidence
  * that filters push down and joins broadcast the right side.
  *
  * Run: tools/run_probe.sh graft.PlanFormat [outFile] [q1,q2,...]
  *   (default outFile PLANS.md; no query list → every declared query).
  *   Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS — same session as Bench so
  *   the plans are the benched plans. */
object PlanFormat {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("PLANS.md")
    val names = args.lift(1) match {
      case Some(list) => list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None => SparkEntry.queries.keys.toSeq.sorted
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSpark.session()
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the declared query inventory\n\n")
    sb.append(s"Generated by `graft.PlanFormat` against `$sfDir` through\n")
    sb.append(s"`graft.LocalSpark.session` (`${spark.sparkContext.master}`, ")
    sb.append(s"`spark.sql.shuffle.partitions=${spark.conf.get("spark.sql.shuffle.partitions")}`).\n")
    sb.append("AQE is on: plans shown are the initial physical plans; AQE may\n")
    sb.append("further coalesce/re-plan at runtime.\n")
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      // Snapshot-child plans too (round-18 verdict #5): a rewrite below a
      // snapshot leaf — e.g. the Generate pair expansion feeding the graph
      // family — is invisible in the parent's formatted plan, so each
      // snapshot's own child plan is appended under a labelled header.
      Sessions.beginPlanTextCapture()
      // NonFatal only (round-18 ADVICE): after an OOM/linkage error the
      // JVM is broken — die loudly rather than write a plausible-looking
      // 'PLAN FAILED' artifact from it (the Bench.runOnce doctrine).
      val text =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case scala.util.control.NonFatal(e) => s"PLAN FAILED: $e" }
      val snapTexts = Sessions.endPlanTextCapture()
      sb.append(s"\n## $name\n\n```\n").append(text.trim)
      snapTexts.zipWithIndex.foreach { case (t, i) =>
        sb.append(s"\n\n=== snapshot child ${i + 1} (plan of the subtree materialized into the LogicalRDD leaf) ===\n")
          .append(t.trim)
      }
      sb.append("\n```\n")
      Sessions.releaseSnapshots()
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"PLANFORMAT wrote ${names.size} plans to $out")
    spark.stop()
  }
}
