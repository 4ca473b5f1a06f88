package graft

import java.util.Locale

import org.apache.spark.sql.graftx.Metrics

/** Per-stage attribution for one declared query — the measurement step
  * of the optimization playbook (guide §1): where do this query's wall
  * and CPU actually go, stage by stage? Runs the query `reps` times
  * (first rep's table skipped as warm-up/ingest) and prints each rep's
  * stages from [[Metrics.withStages]] (the collector Bench's CPU numbers
  * come from): span (submission→completion elapsed — NOT wall: spans of
  * CONCURRENT stages overlap, so the printed spanSum can exceed the rep
  * wall), executor CPU, task count, input records, shuffle read/write
  * records, spill. Sorted by CPU so the hog stage is on top.
  *
  * Run: tools/run_probe.sh graft.StageProfile <query> [reps]
  *   Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS — same session as Bench. */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: StageProfile <query> [reps]"))
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSpark.session()
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))

    def fmt(r: Metrics.StageRow): String = String.format(Locale.ROOT,
      "%5d %7.2fs %7.2fs %5d %10d %10d %10d %8d  %s",
      Int.box(r.id), Double.box(r.spanMs / 1e3), Double.box(r.cpuNs / 1e9),
      Int.box(r.tasks), Long.box(r.inputRecords), Long.box(r.shuffleReadRecords),
      Long.box(r.shuffleWriteRecords), Long.box(r.spillBytes), r.name.take(120))

    for (rep <- 1 to reps) {
      var wall = 0.0
      val (_, rows, drained) = Metrics.withStages(spark.sparkContext) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        wall = (System.nanoTime() - t0) / 1e9
      }
      println(f"%n=== $name rep $rep wall=$wall%.3fs stages=${rows.size} " +
        f"cpuSum=${rows.map(_.cpuNs).sum / 1e9}%.3fs " +
        f"stageSpanSum=${rows.map(_.spanMs).sum / 1e3}%.3fs " +
        (if (drained) "" else "INCOMPLETE (listener bus not drained) ") +
        "(concurrent stages overlap; spanSum can exceed wall) ===")
      if (rep > 1) {
        println("stage    span     cpu  tasks      input   shufRead  shufWrite    spill  name")
        rows.sortBy(-_.cpuNs).take(30).foreach(r => println(fmt(r)))
      }
      org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    }
    spark.stop()
  }
}
