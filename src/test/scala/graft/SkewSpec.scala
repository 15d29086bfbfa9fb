package graft

import graft.ops.Skew

class SkewSpec extends SparkSpec {
  import spark.implicits._

  // heavy-tailed: key 1 carries 90% of rows
  private lazy val big = (Seq.fill(900)(1) ++ (2 to 101)).zipWithIndex
    .map { case (k, i) => (k, i) }.toDF("k", "payload")
  private lazy val small = (1 to 50).map(k => (k, s"dim$k")).toDF("k", "dim")

  test("salted inner join equals plain inner join") {
    val plain = big.join(small, Seq("k")).collect().toSet
    val salted = Skew.saltedJoin(big, small, Seq("k"), salt = 8).collect().toSet
    assert(salted == plain && plain.nonEmpty)
  }

  test("salted left join keeps unmatched big-side rows exactly once") {
    val plain = big.join(small, Seq("k"), "left").collect().toSet
    val salted = Skew.saltedJoin(big, small, Seq("k"), salt = 8, "left").collect().toSet
    assert(salted == plain)
    assert(Skew.saltedJoin(big, small, Seq("k"), 8, "left").count() == big.count())
  }

  test("right/full joins are rejected (replication would corrupt them)") {
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(big, small, Seq("k"), 8, "full")
    }
  }

  test("keyHistogram surfaces the hot key") {
    val top = Skew.keyHistogram(big, Seq("k"), 1).collect().head
    assert(top.getInt(0) == 1 && top.getLong(1) == 900L)
  }
}
