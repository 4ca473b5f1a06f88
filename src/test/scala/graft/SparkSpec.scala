package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, forked by sbt): the
  * harness session from [[LocalSpark]] at 4 cores. The warehouse dir is
  * a static conf, so it goes in as a system property before the build. */
object TestSpark {
  lazy val spark: SparkSession = {
    sys.props("spark.sql.warehouse.dir") =
      java.nio.file.Files.createTempDirectory("graft-wh").toString
    val s = LocalSpark.session("4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sfDir: String = TestSpark.sfDir
}
