package graft

/** Bucketing = the pre-shuffle: two tables bucketed on the join key join
  * with NO exchange — at 100 TB this turns every recurring fact⋈fact join
  * into a local merge per bucket. (Broadcast is disabled in the test so the
  * planner would otherwise have to shuffle both sides.)
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join without any exchange") {
    val facts = (1 to 1000).map(i => (i.toLong % 100, i.toLong)).toDF("k", "a")
    val dims = (1 to 500).map(i => (i.toLong % 100, s"d$i")).toDF("k", "b")
    facts.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("graft_bkt_a")
    dims.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("graft_bkt_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("graft_bkt_a").join(spark.table("graft_bkt_b"), "k")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join, got:\n$plan")
      // and the join is still correct
      assert(j.count() == facts.join(dims, "k").count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
