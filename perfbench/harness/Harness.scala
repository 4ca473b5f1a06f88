package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.perfbench.Collector
import org.apache.spark.sql.SparkSession

/** One timed call: which operation, in which pass, how long, and the key
  * its Spark jobs carry. `build`/`exec` split a query call into its
  * construction and its terminal write (0 build for kv operations). */
final case class Sample(name: String, pass: Int, traced: Boolean, key: String,
                        buildS: Double, execS: Double,
                        startMs: Long, buildEndMs: Long, endMs: Long) {
  def wallS: Double = buildS + execS
}

/** Shared state of one benchmark run: the session, the Spark-side
  * collector, failure accounting, and every timed sample. */
final class Run(val spark: SparkSession, val col: Collector, val cores: Int) {
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val samples = mutable.ArrayBuffer.empty[Sample]
  val extra = mutable.LinkedHashMap.empty[String, Double]
  private val epochBaseMs = System.currentTimeMillis()
  private val nanoBase = System.nanoTime()
  def epochMs(nanos: Long): Long = epochBaseMs + (nanos - nanoBase) / 1000000L

  /** Count one operation; record it as failed when `ok` is false. */
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failures += name
      System.err.println(s"[perfbench] FAIL $name: $detail")
    }
  }

  /** Run `build` then `exec(built)` under the op's Spark job key, timing
    * each part. Returns None (and records a failure) on any exception. */
  def timed[B, T](name: String, pass: Int, traced: Boolean)(build: => B)(exec: B => T): Option[(T, Sample)] = {
    val key = s"$pass/$name/${samples.size}"
    col.tracing = traced
    try {
      col.setOp(key, "build")
      val t0 = System.nanoTime()
      val b = build
      val t1 = System.nanoTime()
      col.setOp(key, "exec")
      val r = exec(b)
      val t2 = System.nanoTime()
      val s = Sample(name, pass, traced, key, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        epochMs(t0), epochMs(t1), epochMs(t2))
      Some((r, s))
    } catch {
      case scala.util.control.NonFatal(e) =>
        check(name, ok = false, e.toString)
        None
    } finally {
      col.setOp("", "")
      if (traced) col.drain()
    }
  }
}

object Harness {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, out: Path, cores: Int, fault: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), Paths.get(need("out")),
      m.getOrElse("cores", "4").toInt, m.getOrElse("fault", ""))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  /** Sum over operations of each one's median, times how often one pass
    * runs it: the wall (or any additive quantity) of one pass, robust to
    * a stalled call. */
  def total(ss: Seq[Sample])(f: Sample => Double): Double =
    ss.groupBy(_.name).values.map { v =>
      median(v.map(f)) * v.groupBy(_.pass).values.map(_.size).max
    }.sum

  /** Heap of this JVM occupied after a full collection, in MB. Collects
    * twice, letting Spark's cleaner release what the first one freed. */
  def postGcHeapMb(): Double = {
    System.gc()
    Thread.sleep(50)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def fmt(v: Double): String = String.format(Locale.ROOT, "%.6f", Double.box(v))
  def q(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def obj(m: Iterable[(String, Double)]): String =
    m.map { case (k, v) => q(k) + ":" + fmt(v) }.mkString("{", ",", "}")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.out)
    val t0 = System.nanoTime()
    val spark = graft.LocalSpark.session(a.cores.toString)
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val col = new Collector(spark.sparkContext)
    spark.sparkContext.addSparkListener(col)
    spark.listenerManager.register(col)
    val run = new Run(spark, col, a.cores)
    Inventory.guard(graft.SparkEntry.queries.keys.toSeq)
    val workload: Workload = a.workload match {
      case "kv_core" => new KvCore(run, a)
      case w if Inventory.workloads.contains(w) => new Inventory(run, a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    def up(what: String) = System.err.println(
      s"[perfbench] t=${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}s $what")
    up("session ready")
    val setup = workload.setup()
    up("setup done")
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var pass = 0
    // Closed loop, one client. Every run does the workload's fixed number
    // of passes, so runs compare at the same point of JIT warm-up;
    // --seconds only adds passes when those finish sooner. The traced run
    // mixes untraced and traced passes, in the order U T T U, so it can
    // report its own tracing overhead with the passes' JIT drift cancelled.
    val minPasses = if (a.trace) 2 * workload.passes else workload.passes
    while (pass < minPasses || System.nanoTime() < deadline) {
      val traced = a.trace && (pass % 4 == 1 || pass % 4 == 2)
      workload.pass(pass, traced)
      System.err.println(s"[perfbench] pass $pass${if (traced) " (traced)" else ""}: " +
        s"wall_s=${fmt(run.samples.filter(_.pass == pass).map(_.wallS).sum)}")
      pass += 1
    }
    up("passes done")
    col.drain()
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val untraced = run.samples.filterNot(_.traced).toSeq
    val cpuS = col.synchronized(col.stages.groupBy(_.op).map { case (k, v) => k -> v.map(_.cpuNs).sum / 1e9 })
    metrics("setup_s") = sessionS + setup
    metrics("wall_s") = total(untraced)(_.wallS)
    metrics("cpu_s") = total(untraced)(s => cpuS.getOrElse(s.key, 0.0))
    metrics("live_heap_mb") = workload.heapMb
    workload.report(untraced)
    untraced.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, v) =>
      System.err.println(s"[perfbench] op $n median_s=${fmt(median(v.map(_.wallS)))} samples=${v.size}")
    }
    run.extra("passes") = pass
    val layers = if (a.trace) Layers.compute(run, workload) else Map.empty[String, Double]
    if (a.trace) Spans.write(run, a.out.resolve("spans.jsonl"))
    val json = s"""{"workload":${q(a.workload)},"attempted":${run.attempted},""" +
      s""""failures":${run.failures.map(q).mkString("[", ",", "]")},""" +
      s""""metrics":${obj(metrics)},"layers":${obj(layers)},"extra":${obj(run.extra)}}"""
    Files.write(a.out.resolve("result.json"), (json + "\n").getBytes(StandardCharsets.UTF_8))
    up("written")
    spark.stop()
    up("stopped")
  }
}

/** A workload: an untimed set-up (returns its seconds), then timed passes. */
trait Workload {
  /** Timed passes every run makes. */
  def passes: Int
  def setup(): Double
  def pass(p: Int, traced: Boolean): Unit
  /** Peak post-GC heap of this JVM seen by the workload, MB. */
  def heapMb: Double
  /** Workload-specific extras from the untraced samples. */
  def report(untraced: Seq[Sample]): Unit = ()
  def family(op: String): String
}
