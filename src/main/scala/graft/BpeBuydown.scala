package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Measurement main for the BPE batching buy-down (round-17 verdict #5):
  * train [[graft.operators.Bpe.train]] to two target merge-table sizes,
  * batched (maxBatch = 64) vs sequential (maxBatch = 1), and record
  * merges vs driver batches vs wall per run — the measured lines behind
  * DESIGN.md's 32k-merge projection (a 32k target as 32k sequential
  * driver jobs is pure scheduling latency; batching must buy that down
  * WITHOUT changing a single merge — the exactness BpeSpec pins, which
  * is why wall is the only quantity left to measure).
  *
  * Two corpora: the driver fixture (honest context — its synthetic
  * vocabulary EXHAUSTS at ~89 merges, so deep targets cannot be
  * measured on it) and a PLANTED Zipf corpus (the kmeans_lloyd
  * own-fixture precedent): 4096 distinct words — base-26 encodings of
  * their rank, so symbols are shared realistically — at Zipf counts
  * 10⁵/(rank+1), supporting thousands of merges with the mix of
  * distinct-count disjoint pairs (batchable) and tail ties (strict-cut
  * fallback) real text exhibits.
  *
  * Emits one JSON line per (corpus, target, maxBatch) run plus a final
  * artifact with per-target buy-down ratios. Env: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_BPE_TARGETS (default "256,1024"), SPARK_GRAFT_BPE_OUT
  * (default bpe_buydown.json).
  */
object BpeBuydown {

  /** Disjoint-pair stream — the batching mechanism's CEILING: word i =
    * two FRESH characters (never shared across words), counts strictly
    * decreasing in 64-word plateaus (strict cut holds at every batch
    * boundary), so every maxBatch-long prefix is mutually
    * non-interacting and collision-free and the trainer batches at the
    * full width. Deterministic. */
  private def plantedDisjoint(spark: SparkSession, nWords: Int): DataFrame = {
    val rows = Seq.newBuilder[(Long, String)]
    var doc = 0L
    var i = 0
    while (i < nWords) {
      val w = new String(Array((0x3400 + 2 * i).toChar, (0x3400 + 2 * i + 1).toChar))
      val c = 1200 - i / 64
      var k = 0
      while (k < c) { rows += ((doc, w)); doc += 1; k += 1 }
      i += 1
    }
    val sp = spark
    import sp.implicits._
    rows.result().toDF("doc_id", "word").repartition(32)
  }

  /** Zipf word-occurrence stream: word i = base-26 encoding of i
    * (length 1–4 over 'a'..'z', shared symbols), count = 10⁵/(i+1),
    * emitted as the (doc_id, word) contract of
    * [[graft.queries.TextQueries.bpeDocWords]]. Fully deterministic. */
  private def plantedZipf(spark: SparkSession, nWords: Int): DataFrame = {
    def b26(i: Int): String = {
      var n = i
      val sb = new StringBuilder
      do { sb.append(('a' + n % 26).toChar); n /= 26 } while (n > 0)
      sb.reverse.toString
    }
    val rows = Seq.newBuilder[(Long, String)]
    var doc = 0L
    var i = 0
    while (i < nWords) {
      val w = b26(i)
      val c = math.max(1, 100000 / (i + 1))
      var k = 0
      while (k < c) { rows += ((doc, w)); doc += 1; k += 1 }
      i += 1
    }
    val sp = spark
    import sp.implicits._
    rows.result().toDF("doc_id", "word").repartition(32)
  }

  def main(args: Array[String]): Unit = {
    Locale.setDefault(Locale.ROOT)
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val targets = sys.env.getOrElse("SPARK_GRAFT_BPE_TARGETS", "256,1024")
      .split(",").map(_.trim.toInt).toSeq
    val out = sys.env.getOrElse("SPARK_GRAFT_BPE_OUT", "bpe_buydown.json")
    val spark = LocalSpark.session()
    try {
      import graft.operators.Bpe
      import graft.queries.TextQueries
      val corpora: Seq[(String, DataFrame, Seq[Int])] = Seq(
        // Fixture: one run pair at the max target — it exhausts early,
        // and that exhaustion point is the honest real-corpus line.
        ("fixture", TextQueries.bpeDocWords(spark, sf), Seq(targets.max)),
        ("planted_zipf4096", plantedZipf(spark, 4096), targets),
        ("planted_disjoint1500", plantedDisjoint(spark, 1500), targets))
      // Warm-up: JIT + reader, off the books.
      Bpe.train(corpora.head._2, 8, minCount = 1L, loopParts = 8).collect()
      org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
      val lines = corpora.flatMap { case (cname, docWords, ts) =>
        ts.flatMap { target =>
          Seq(64, 1).map { mb =>
            val t0 = System.nanoTime()
            val merged = Bpe.train(docWords, target, minCount = 1L,
              loopParts = 8, maxBatch = mb).collect()
            val wall = (System.nanoTime() - t0) / 1e9
            org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
            val line = s"""{"corpus":"$cname","target":$target,""" +
              s""""max_batch":$mb,"merges":${Bpe.lastRounds},""" +
              s""""batches":${Bpe.lastBatches},""" +
              f""""wall_sec":$wall%.2f,""" +
              s""""stopped_early":${Bpe.lastConverged},""" +
              s""""rows":${merged.length}}"""
            println(line)
            (cname, target, mb, Bpe.lastRounds, Bpe.lastBatches, wall, line)
          }
        }
      }
      val summary = lines.filter(_._3 == 64).map { b =>
        val s = lines.find(l =>
          l._1 == b._1 && l._2 == b._2 && l._3 == 1).get
        s""""${b._1}_t${b._2}":{"merges":${b._4},"batches":${b._5},""" +
          f""""round_buydown":${s._5.toDouble / b._5}%.2f,""" +
          f""""wall_batched":${b._6}%.2f,"wall_sequential":${s._6}%.2f,""" +
          f""""wall_buydown":${s._6 / b._6}%.2f}"""
      }.mkString(",")
      val json = s"""{"probe":"bpe_buydown","sf":"$sf","runs":[""" +
        lines.map(_._7).mkString(",") + s"""],"summary":{$summary}}"""
      Files.write(Paths.get(out), (json + "\n").getBytes(StandardCharsets.UTF_8))
      println(json)
    } finally {
      spark.stop()
    }
  }
}
