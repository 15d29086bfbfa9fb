package graft

import org.apache.spark.sql.functions._

/** AQE's runtime skew-join split — the complement to Skew.saltedJoin: for
  * sort-merge joins Spark can split oversized partitions at runtime with
  * no code change. Thresholds are lowered so the toy dataset triggers it.
  */
class AqeSkewSpec extends SparkSpec {

  test("adaptive execution splits a skewed sort-merge join partition") {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "30KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "30KB",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      // enough partitions that the hot key's partition dwarfs the median
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // key 1 carries ~99% of the rows with fat payloads → one giant partition
      val big = spark.range(200000)
        .select(when(col("id") % 100 =!= 0, 1L).otherwise(col("id")).as("k"),
          concat(lit("x" * 64), col("id")).as("payload"))
      val small = spark.range(3000).select(col("id").as("k"), (col("id") * 2).as("v"))
      val joined = big.join(small, "k")
      joined.collect() // collect runs THIS QueryExecution so AQE finalizes it
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew="), s"expected a skew-handled join in:\n$plan")
      assert(plan.contains("SortMergeJoin(skew=true)"),
        s"expected SortMergeJoin(skew=true) in:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
