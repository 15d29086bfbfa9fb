package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM — Test / fork := true). */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.builder()
    .master("local[2]")
    .appName("graft-test")
    // the suite's own two cores: shuffle width must not follow the host's
    // SPARK_GRAFT_CPUS into dozens of tiny tasks per test shuffle
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
