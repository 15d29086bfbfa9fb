package graft

import graft.ops.PlanChecks

/** Plan provenance from scan roots: Spark cuts a scan's location string at
  * `spark.sql.maxMetadataStringLength` (100 characters by default), so a
  * proof that looks for an artifact's path in the plan's text fails a
  * correct run once the path is long. The scan-root walk sees it whole.
  */
class PlanChecksSpec extends SparkSpec {

  test("scan roots find a long artifact path the plan text has cut") {
    assert(spark.conf.get("spark.sql.maxMetadataStringLength") == "100")
    val base = tmpDir("planchecks")
    val artifact = base + "/" + ("a_very_long_artifact_directory_name_" * 4) + "coarseq"
    assert(artifact.length > 100)
    spark.range(50).selectExpr("id", "id % 5 AS c")
      .write.mode("overwrite").parquet(artifact)
    val other = base + "/unrelated"
    spark.range(5).selectExpr("id AS c", "id * 2 AS w")
      .write.mode("overwrite").parquet(other)
    val df = spark.read.parquet(artifact).groupBy("c").count()
    assert(!df.queryExecution.executedPlan.toString.contains(artifact),
      "the plan text was expected to cut the long path")
    assert(PlanChecks.scans(df, artifact))
    assert(!PlanChecks.scans(df, other))
    // a prefix of a path component is not an ancestor
    assert(!PlanChecks.scans(df, artifact.dropRight(1)))
    // through a cached relation and a join, both roots are found
    val cached = spark.read.parquet(artifact).join(spark.read.parquet(other), "c")
      .persist()
    try {
      cached.count()
      assert(PlanChecks.scans(cached, artifact) && PlanChecks.scans(cached, other))
      assert(!PlanChecks.scans(cached, base + "/elsewhere"))
    } finally cached.unpersist(false)
  }
}
