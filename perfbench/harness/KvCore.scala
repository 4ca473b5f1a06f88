package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{count, lit, max, min, sum}

import graft.core.Graft

/** The hpmr-parity typed API on seeded generated data, sized from
  * BASELINE.md's canonical workloads. Every answer is checked against a
  * closed form of the seed. One pass is one full script: range
  * map-reduces, a 1M-key insert, a KV re-key, rounds of batch merges
  * interleaved with point lookups, then hasAll/remove/distinct/count. */
final class KvCore(run: Run, a: Harness.Args) extends Workload {
  import KvCore._
  private val spark: SparkSession = run.spark
  import spark.implicits._

  private val rng0 = new scala.util.Random(a.seed)
  /** Key of item i: an injective map of [0, M) into strings, so hits and
    * misses are known from the index alone. */
  private val mul: Long = 1L + rng0.nextInt(Int.MaxValue - 1)
  private val add: Long = rng0.nextInt(Int.MaxValue).toLong
  private val off: Long = 1L + rng0.nextInt(1000)
  private val faulty = a.fault == "golden"

  private def keyOf(i: Long): String = key(i, mul, add)
  private def valueOf(i: Long): Long = i + off

  def family(op: String): String = "core"

  /** Whether the first `rounds` merge rounds touched existing item i
    * (round r adds 1 to items r, r + stride, r + 2 stride, ...). */
  private def merged(i: Long, rounds: Int, stride: Long): Long =
    if (i < stride * MergeHalf && i % stride < rounds) 1L else 0L

  private def expect(name: String, got: Any, want: Any): Unit = {
    val w = if (faulty && name == "count") want match {
      case c: Long => c + 1
      case o => o
    } else want
    run.check(name, got == w, s"got $got, want $w")
  }

  private def script(p: Int, traced: Boolean, lookups: Int): Unit = {
    val n = N
    // Closures shipped to executors capture these locals, never `this`.
    val (m, ad, o) = (mul, add, off)
    val stride = n / MergeHalf
    def op[B, T](name: String)(build: => B)(exec: B => T): Option[T] =
      run.timed(name, p, traced)(build)(exec).map { case (r, s) => run.samples += s; r }

    op("mr_range_sum")(Graft.mapreduceRange[String, Long](Graft.fromRange(spark, 0, n),
      i => Iterator.single(("sum", i + o)), _ + _))(_.collect().toSeq)
      .foreach(r => expect("mr_range_sum", r, Seq(("sum", n * (n - 1) / 2 + n * off))))

    op("mr_range_keys")(Graft.mapreduceRange[String, Long](Graft.fromRange(spark, 0, K),
      i => Iterator.single((key(i, m, ad), i + o)), _ + _))(
      _.agg(count(lit(1)), sum("_2")).as[(Long, Long)].head())
      .foreach(r => expect("mr_range_keys", r, (K, K * (K - 1) / 2 + K * off)))

    var store: Dataset[(String, Long)] = null
    var size = 0L
    op("put_insert") {
      val batch = spark.range(n).map { il => val i: Long = il; (key(i, m, ad), i + o) }
      Graft.cache(Graft.put(spark.emptyDataset[(String, Long)], batch, (x: Long, y: Long) => x + y))
    } { s => store = s; Graft.countKeys(s) }.foreach { c => size = n; expect("put_insert", c, n) }
    if (store == null) return

    op("kv_rekey")(Graft.mapreduce[String, Long, Long, Long](store,
      (_, v) => Iterator.single(((v - o) % RekeyKeys, 1L)), _ + _))(
      _.agg(count(lit(1)), sum("_2"), min("_2"), max("_2")).as[(Long, Long, Long, Long)].head())
      .foreach(r => expect("kv_rekey", r, (RekeyKeys, n, n / RekeyKeys, n / RekeyKeys)))

    val rng = new scala.util.Random(a.seed * 1000003L + p)
    for (r <- 0 until Rounds) {
      op("put_merge") {
        val batch = spark.range(MergeHalf * 2).map { jl =>
          val j: Long = jl
          if (j < MergeHalf) (key(r + stride * j, m, ad), 1L)
          else (key(n + r * MergeHalf + (j - MergeHalf), m, ad), 1L)
        }
        Graft.cache(Graft.put(store, batch, (x: Long, y: Long) => x + y))
      } { s => (s, Graft.countKeys(s)) }.foreach { case (s, c) =>
        store.unpersist(false)
        store = s
        size += MergeHalf
        expect("put_merge", c, size)
      }
      for (l <- 0 until lookups) {
        val hit = l % 2 == 0
        val i = if (hit) (rng.nextDouble() * n).toLong
                else n + stride * MergeHalf + rng.nextInt(1 << 30)
        val want = if (hit) valueOf(i) + merged(i, r + 1, stride) else -1L
        if (l % 4 < 2) op("get")(keyOf(i))(k => Graft.get(store, k, -1L))
          .foreach(v => expect("get", v, want))
        else op("has")(keyOf(i))(k => Graft.has(store, k))
          .foreach(v => expect("has", v, hit))
      }
    }

    val keys = spark.range(HasKeys).map { jl =>
      val j: Long = jl
      key(j * (n / HasKeys) + o % (n / HasKeys), m, ad)
    }
    op("hasall")(Graft.hasAll(store, keys))(_.count()).foreach(c => expect("hasall", c, HasKeys))
    op("remove")(Graft.remove(store, keys))(_.count()).foreach(c => expect("remove", c, size - HasKeys))
    op("distinct")(Graft.distinctKeys(store))(_.count()).foreach(c => expect("distinct", c, size))
    op("count")(store)(s => Graft.countKeys(s)).foreach(c => expect("count", c, size))
    if (p >= 0 && !traced) peakHeap = math.max(peakHeap, Harness.postGcHeapMb())
    store.unpersist(true)
  }

  /** Untimed cold pass: JIT, codegen and shuffle paths warm up here. */
  def setup(): Double = {
    val t0 = System.nanoTime()
    script(-1, traced = false, lookups = 4)
    run.samples.clear()
    (System.nanoTime() - t0) / 1e9
  }

  def passes: Int = 2
  def pass(p: Int, traced: Boolean): Unit = script(p, traced, Lookups)
  private var peakHeap = 0.0
  def heapMb: Double = peakHeap

  override def report(untraced: Seq[Sample]): Unit = {
    val points = untraced.filter(s => s.name == "get" || s.name == "has").map(_.wallS * 1000)
    val merges = untraced.filter(_.name == "put_merge").map(_.wallS * 1000)
    run.extra("point_p50_ms") = Harness.pct(points, 0.5)
    run.extra("point_p90_ms") = Harness.pct(points, 0.9)
    run.extra("point_samples") = points.size
    run.extra("put_p50_ms") = Harness.pct(merges, 0.5)
    run.extra("put_samples") = merges.size
  }
}

object KvCore {
  val M: Long = 2147483647L // prime: i -> i*mul+add mod M is injective
  val N: Long = 500000L
  val K: Long = 100000L
  val RekeyKeys: Long = 1000L
  val HasKeys: Long = 100000L
  val Rounds = 2
  val MergeHalf: Long = 5000L
  val Lookups = 25

  def key(i: Long, mul: Long, add: Long): String =
    "k" + java.lang.Long.toString(Math.floorMod(i * mul + add, M))
}
