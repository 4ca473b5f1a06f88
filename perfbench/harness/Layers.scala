package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.perfbench.{JobRec, PlanRec, StageRec}

/** Per-layer metrics of the traced passes. Every additive metric is
  * totalled like `wall_s`: each operation's median over the traced
  * passes, times how often a pass runs it. */
object Layers {
  val MB = 1048576.0
  val families = Seq("core", "parity", "olap", "events", "text", "sample", "mm",
    "dedup", "sim", "emb", "graph", "linkage")

  private final case class Work(s: Sample, stages: Seq[StageRec], jobs: Seq[JobRec], plans: Seq[PlanRec],
                                snaps: Int, snapBytes: Long, cpuS: Double) {
    def execStages: Seq[StageRec] = stages.filter(_.phase == "exec")
    /** Execute wall not covered by any stage span: the exec span's self time. */
    def gapS: Double = {
      val lo = s.buildEndMs
      val hi = s.endMs
      val iv = execStages.map(st => (math.max(lo, st.submitMs), math.min(hi, st.endMs)))
        .filter { case (x, y) => y > x }.sortBy(_._1)
      var covered = 0L
      var cur = (Long.MinValue, Long.MinValue)
      iv.foreach { case (x, y) =>
        if (x > cur._2) { if (cur._2 > cur._1) covered += cur._2 - cur._1; cur = (x, y) }
        else cur = (cur._1, math.max(cur._2, y))
      }
      if (cur._2 > cur._1) covered += cur._2 - cur._1
      math.max(0.0, s.execS - covered / 1000.0)
    }
  }

  /** Snapshot count and cached bytes per traced sample key, taken just
    * before the harness releases them. */
  val snapshots = mutable.HashMap.empty[String, (Int, Long)]

  def beforeRelease(run: Run, key: String, release: () => Int): Unit = {
    val bytes = run.spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    snapshots(key) = (release(), bytes)
  }

  def compute(run: Run, w: Workload): Map[String, Double] = {
    val col = run.col
    val (byKey, jobsByKey, plansByKey) = col.synchronized(
      (col.stages.toSeq.groupBy(_.op), col.jobs.values.toSeq.groupBy(_.op), col.plans.toSeq.groupBy(_.op)))
    val works = run.samples.filter(_.traced).map { s =>
      val st = byKey.getOrElse(s.key, Nil)
      val (n, b) = snapshots.getOrElse(s.key, (0, 0L))
      Work(s, st, jobsByKey.getOrElse(s.key, Nil), plansByKey.getOrElse(s.key, Nil), n, b,
        st.map(_.cpuNs).sum / 1e9)
    }.toSeq
    def total(ws: Seq[Work])(f: Work => Double): Double = Harness.total(ws.map(_.s)) {
      val m = ws.map(x => x.s.key -> f(x)).toMap
      s => m(s.key)
    }
    val t = total(works) _
    val out = mutable.LinkedHashMap.empty[String, Double]
    def op(name: String) = works.filter(_.s.name == name)
    def med(name: String)(f: Work => Double) = Harness.median(op(name).map(f))
    val points = works.filter(x => x.s.name == "get" || x.s.name == "has")
    val untraced = run.samples.filterNot(_.traced).toSeq
    out("core.mapreduce_range_s") = med("mr_range_sum")(_.s.wallS) + med("mr_range_keys")(_.s.wallS)
    out("core.mapreduce_kv_s") = med("kv_rekey")(_.s.wallS)
    out("core.put_s") = med("put_insert")(_.s.wallS)
    out("core.get_ms") = med("get")(_.s.wallS) * 1000
    out("core.has_ms") = med("has")(_.s.wallS) * 1000
    out("core.hasall_s") = med("hasall")(_.s.wallS)
    out("core.remove_s") = med("remove")(_.s.wallS)
    out("core.distinct_s") = med("distinct")(_.s.wallS)
    out("core.count_s") = med("count")(_.s.wallS)
    out("core.point_jobs_per_op") = if (points.isEmpty) 0.0 else points.map(_.jobs.size).sum.toDouble / points.size
    out("core.point_tasks_per_op") = if (points.isEmpty) 0.0 else points.map(_.stages.map(_.tasks).sum).sum.toDouble / points.size
    // Latencies of the untraced passes, as KvCore.report measured them.
    Seq("point_p50_ms", "point_p90_ms", "point_samples", "put_p50_ms").foreach { k =>
      out(s"core.$k") = run.extra.getOrElse(k, 0.0)
    }

    out("queries.build_s") = t(_.s.buildS)
    out("queries.exec_s") = t(_.s.execS)
    out("queries.build_jobs") = t(_.jobs.count(_.phase == "build").toDouble)
    out("graftx.snapshots") = t(_.snaps.toDouble)
    out("graftx.snapshot_mb") = t(_.snapBytes / MB)
    out("catalyst.analyze_ms") = t(_.plans.map(_.analyzeMs).sum.toDouble)
    out("catalyst.optimize_ms") = t(_.plans.map(_.optimizeMs).sum.toDouble)
    out("catalyst.plan_ms") = t(_.plans.map(_.planMs).sum.toDouble)
    out("scheduler.jobs") = t(_.jobs.size.toDouble)
    out("scheduler.stages") = t(_.stages.size.toDouble)
    out("scheduler.tasks") = t(_.stages.map(_.tasks).sum.toDouble)
    out("scheduler.tasks_per_stage") =
      if (out("scheduler.stages") > 0) out("scheduler.tasks") / out("scheduler.stages") else 0.0
    out("scheduler.gap_s") = t(_.gapS)
    def ex(f: StageRec => Double): Work => Double = x => x.stages.map(f).sum
    out("executor.run_s") = t(ex(_.runMs / 1000.0))
    out("executor.gc_s") = t(ex(_.gcMs / 1000.0))
    out("executor.input_rows") = t(ex(_.inRows.toDouble))
    out("executor.input_mb") = t(ex(_.inBytes / MB))
    out("executor.shuffle_read_mb") = t(ex(_.shReadBytes / MB))
    out("executor.shuffle_write_mb") = t(ex(_.shWriteBytes / MB))
    out("executor.shuffle_records") = t(ex(_.shRecords.toDouble))
    out("executor.spill_mb") = t(ex(_.spillBytes / MB))
    val wall = t(_.s.wallS)
    val cpu = t(_.cpuS)
    out("executor.cpu_s") = cpu
    out("executor.cpu_util") = if (wall > 0) cpu / (wall * run.cores) else 0.0
    families.foreach { f =>
      val ws = works.filter(x => w.family(x.s.name) == f)
      out(s"family.$f.wall_s") = total(ws)(_.s.wallS)
      out(s"family.$f.cpu_s") = total(ws)(_.cpuS)
      out(s"family.$f.stages") = total(ws)(_.stages.size.toDouble)
    }
    val untracedWall = Harness.total(untraced)(_.wallS)
    out("trace.wall_s") = wall
    out("trace.untraced_wall_s") = untracedWall
    out("trace.overhead_s") = wall - untracedWall
    out("trace.spans") = works.size + works.map(x => x.jobs.size + x.stages.size).sum
    out.toMap
  }
}

/** Writes the traced passes as spans, one JSON object a line: harness
  * operation spans (with their build/exec children), Spark jobs whose
  * parent is the operation's exec or build span, and stages whose parent
  * is their job. Times are epoch milliseconds. */
object Spans {
  def write(run: Run, path: Path): Unit = {
    import Harness.q
    val col = run.col
    val lines = mutable.ArrayBuffer.empty[String]
    def span(id: String, parent: String, kind: String, name: String, start: Long, end: Long, extra: String = "") =
      lines += s"""{"id":${q(id)},"parent":${if (parent == null) "null" else q(parent)},"kind":${q(kind)},""" +
        s""""name":${q(name)},"start_ms":$start,"end_ms":$end$extra}"""
    run.samples.filter(_.traced).foreach { s =>
      span(s.key, null, "op", s.name, s.startMs, s.endMs)
      span(s.key + "#build", s.key, "build", s.name, s.startMs, s.buildEndMs)
      span(s.key + "#exec", s.key, "exec", s.name, s.buildEndMs, s.endMs)
    }
    col.synchronized {
      col.jobs.values.filter(_.op.nonEmpty).foreach { j =>
        span(s"job-${j.job}", s"${j.op}#${j.phase}", "job", s"job ${j.job}", j.startMs, j.endMs)
      }
      val traced = col.jobs.keySet
      col.stages.filter(st => traced(st.job)).foreach { st =>
        span(s"stage-${st.stage}", s"job-${st.job}", "stage", s"stage ${st.stage}", st.submitMs, st.endMs,
          s""","tasks":${st.tasks},"cpu_ms":${st.cpuNs / 1000000}""")
      }
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
