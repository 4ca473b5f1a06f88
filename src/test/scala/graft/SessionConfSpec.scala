package graft

import org.apache.spark.network.util.JavaUtils

/** Config parity: the suite runs on the session every main builds
  * ([[LocalSpark]]), so what the tests verify is what Bench times. Pins
  * each value LocalSpark sets, and that the AQE coalescing dials it
  * leaves alone read Spark's own defaults. */
class SessionConfSpec extends SparkSpec {

  test("suite session carries LocalSpark's pinned confs") {
    val sc = spark.sparkContext
    assert(sc.getConf.get("spark.shuffle.sort.bypassMergeThreshold") == "0")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(sc.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == sc.defaultParallelism.toString)
  }

  test("AQE coalescing dials sit at Spark's defaults") {
    def bytes(key: String): Long = JavaUtils.byteStringAsBytes(spark.conf.get(key))
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "true")
    assert(bytes("spark.sql.adaptive.advisoryPartitionSizeInBytes") == (64L << 20))
    assert(bytes("spark.sql.adaptive.coalescePartitions.minPartitionSize") == (1L << 20))
  }
}
