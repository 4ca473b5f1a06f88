package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.graftx.Sessions

import graft.SparkEntry

/** The declared query inventory, split into two workloads by family.
  *
  * A cold-plus-warm pass over all of either half takes minutes at
  * local[4], more than one run may take, so each workload times a fixed
  * anchor set: per family one of the three queries nearest the family's
  * median warm cost (measured at local[4] on the bundled fixture), and a
  * second one for the events and text families. Every
  * run checks the anchors against their DuckDB oracle on the cold pass;
  * the seed permutes the order of every pass. */
final class Inventory(run: Run, a: Harness.Args) extends Workload {
  import Inventory._
  private val spark = run.spark
  private val queries: Seq[String] = anchors(a.workload)
  val passes = 4
  private val rng = new scala.util.Random(a.seed)
  private var peakHeap = 0.0
  def heapMb: Double = peakHeap
  private val faulty = a.fault == "oracle"

  require(queries.forall(q => SparkEntry.queries.contains(q) && familyOf(q).map(workloadOf).contains(a.workload)) &&
    families.map(_._1).filter(f => workloadOf(f) == a.workload).forall(f => queries.exists(familyOf(_).contains(f))),
    s"anchors of ${a.workload} must be declared queries of the workload, covering each of its families")
  run.extra("queries") = queries.size
  def family(op: String): String = familyOf(op).getOrElse("")

  /** Untimed cold pass, then untimed warm passes; returns their seconds.
    * The cold pass writes every result to parquet with its oracle SQL, for
    * the DuckDB check that follows the run, and reads post-GC heap after
    * each query (outside the timer, snapshots still held). The first warm
    * passes are still 20-50% slower than later ones (JIT), which made the
    * medians of runs differ by the host's speed at the time. */
  def setup(): Double = {
    val dir = a.out.resolve("results")
    Files.createDirectories(dir)
    var cold = 0.0
    rng.shuffle(queries).foreach { n =>
      val t0 = System.nanoTime()
      val ok = try {
        val df = SparkEntry.queries(n)(spark, a.data)
        val out = if (faulty && n == queries.min) df.limit(0) else df
        // Part files keep the result's partition order, which the
        // oracle check reads back in file-name order.
        out.write.mode("overwrite").parquet(dir.resolve(n).toString)
        true
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $n: $e"); false
      }
      cold += (System.nanoTime() - t0) / 1e9
      peakHeap = math.max(peakHeap, Harness.postGcHeapMb())
      Sessions.releaseSnapshots()
      // A query is attempted here; the oracle check may still fail it.
      run.check(n, ok, "exception on the cold pass")
    }
    val oracle = SparkEntry.oracleSql
    val json = queries.map(n => Harness.q(n) + ":" + Harness.q(oracle.getOrElse(n, ""))).mkString("{", ",", "}")
    Files.write(a.out.resolve("oracle_sql.json"), json.getBytes(StandardCharsets.UTF_8))
    val t0 = System.nanoTime()
    (1 to WarmPasses).foreach(i => pass(-i, traced = false))
    run.samples.clear()
    cold + (System.nanoTime() - t0) / 1e9
  }

  def pass(p: Int, traced: Boolean): Unit =
    rng.shuffle(queries).foreach { n =>
      val done = run.timed(n, p, traced)(SparkEntry.queries(n)(spark, a.data))(
        _.write.mode("overwrite").format("noop").save())
      done.foreach { case (_, s) =>
        run.samples += s
        run.attempted += 1
      }
      done match {
        case Some((_, s)) if traced => Layers.beforeRelease(run, s.key, () => Sessions.releaseSnapshots())
        case _ => Sessions.releaseSnapshots()
      }
    }
}

object Inventory {
  val workloads = Set("inventory_similarity", "inventory_relational")
  val WarmPasses = 2

  /** The sim anchor is an IVF index query: the
    * trained-IVFPQ queries pay 10-20 s of first-call index ingest each,
    * more than a run can spend on one cold query. */
  val anchors: Map[String, Seq[String]] = Map(
    "inventory_similarity" -> Seq("dedup_source_overlap", "sim_ann_ivf", "emb_pq_codes",
      "graph_label_propagation", "linkage_entity_clusters"),
    "inventory_relational" -> Seq("mr_sum_by_key", "orders_ship_delay", "events_percentiles",
      "events_retention", "text_bigram_topk", "text_fuzzy_join_blocked", "sample_stratified",
      "mm_resize_geometry"))

  /** family -> (name prefixes, exact names). A query must match exactly one. */
  val families: Seq[(String, Seq[String], Set[String])] = Seq(
    ("dedup", Seq("dedup_"), Set()),
    ("sim", Seq("sim_"), Set()),
    ("emb", Seq("emb_"), Set()),
    ("graph", Seq("graph_"), Set()),
    ("linkage", Seq("linkage_"), Set()),
    ("parity", Seq("mr_", "reduce_", "skew_"), Set("bucket_stats", "cogroup_fill_ratio",
      "distinct_keys", "full_scan_project", "membership_semi", "point_get", "unset_anti")),
    ("olap", Seq("join_", "orders_", "olap_"), Set("approx_stats", "asof_last_order",
      "bloom_membership", "heavy_hitters_cms", "set_ops_counts", "corpus_shards",
      "lineitem_revenue_band", "part_type_revenue")),
    ("events", Seq("events_"), Set()),
    ("text", Seq("text_"), Set("pipeline_clean_corpus")),
    ("sample", Seq("sample_", "split_"), Set("mix_sources_budget")),
    ("mm", Seq("mm_"), Set()))

  val similarityFamilies = Set("dedup", "sim", "emb", "graph", "linkage")
  def workloadOf(family: String): String =
    if (similarityFamilies(family)) "inventory_similarity" else "inventory_relational"

  def familiesOf(q: String): Seq[String] = families.collect {
    case (f, pre, exact) if exact(q) || pre.exists(q.startsWith) => f
  }
  def familyOf(q: String): Option[String] = familiesOf(q) match {
    case Seq(f) => Some(f)
    case _ => None
  }

  /** Partition guard: every declared query belongs to exactly one family,
    * hence to exactly one inventory workload. Prints each workload's count. */
  def guard(all: Seq[String]): Unit = {
    val bad = all.map(q => q -> familiesOf(q)).filter(_._2.size != 1)
    if (bad.nonEmpty) throw new IllegalStateException("partition guard: " + bad.map {
      case (q, Seq()) => s"$q belongs to no workload"
      case (q, fs) => s"$q belongs to ${fs.mkString(" and ")}"
    }.mkString("; "))
    val counts = all.groupBy(q => workloadOf(familiesOf(q).head)).map { case (w, qs) => w -> qs.size }
    System.err.println("[perfbench] partition guard ok: " +
      counts.toSeq.sorted.map { case (w, n) => s"$w=$n" }.mkString(" "))
  }
}
