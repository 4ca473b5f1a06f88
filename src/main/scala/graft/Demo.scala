package graft

import graft.core.{Graft, Reducers}

/** Example consumer of the graft.core facade — the hpmr test workloads
  * (reference src/dist_map_test.cc:71-88, src/range_test.cc:6-16) expressed
  * through the public API. Run: sbt "runMain graft.Demo". */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session()
    import spark.implicits._

    val r = Graft.mapreduceRange[String, Long](
      Graft.fromRange(spark, 0, 1000000),
      i => Iterator.single(("total", i)), _ + _).collect().toSeq
    println(s"DRIVE mapreduce -> $r (expect (total,499999500000))")

    val store = Seq(("aa", 1L), ("bb", 2L)).toDS()
    println(s"DRIVE get present -> ${Graft.get(store, "bb", -1L)}; absent -> ${Graft.get(store, "zz", -1L)}")

    val agg = Reducers.reduceWith[Long](0L, _ + _)
    println(s"DRIVE udaf-agg -> ${Seq(1L, 2L, 3L).toDS().select(agg.toColumn).head()}")

    val e = Graft.mapreduceRange[String, Long](
      Graft.fromRange(spark, 0, 0),
      i => Iterator.single(("k", i)), _ + _).count()
    println(s"DRIVE empty-range -> $e rows (expect 0)")

    val p = Graft.put(store, spark.emptyDataset[(String, Long)],
      (a: Long, b: Long) => a + b).count()
    println(s"DRIVE put-empty-batch -> $p rows (expect 2)")

    // Skew recipe: one hot key (90% of rows), salted two-phase agg
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val skewed = spark.range(0, 100000)
      .selectExpr("IF(id % 10 = 0, id, 0) AS k", "1 AS v")
    val salted = graft.operators.Skew.saltedAgg(skewed.toDF(), "k", 16, Seq(
      ("n", count(lit(1)), (c: org.apache.spark.sql.Column) => sum(c))))
    val hot = salted.filter(col("k") === 0).select("n").head().getLong(0)
    println(s"DRIVE salted-agg hot key n -> $hot (expect 90001: 90000 non-multiples + id=0 itself)")

    spark.stop()
  }
}
