package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.lake.{VersionedTable, ZOrder}

/** Every staged writer commits through one path. A rival commit injected
  * between a writer's staging and its claim must make a fail-fast writer
  * throw and a retrying writer re-commit over a disjoint-partition
  * winner; either way no uncommitted root may be left under `data/` or
  * `_changes/` (a vacuum that retains every version finds no orphan).
  */
class CommitRaceSpec extends SparkSpec {
  import spark.implicits._

  private def rows(r: (Int, String, Int)*): DataFrame = r.toDF("id", "p", "x")

  /** ids 1,2 in p1 and 3,4 in p2, with id 4 tombstoned (v2) so reorgPurge
    * has a partition to rewrite.
    */
  private def seeded(cdf: Boolean): VersionedTable = {
    val t = VersionedTable(spark, tmpDir("race") + "/t", Seq("id"), Seq("p"),
      recordCdf = cdf)
    t.overwrite(rows((1, "p1", 10), (2, "p1", 20), (3, "p2", 30), (4, "p2", 40)))
    assert(t.deleteMor(col("id") === 4))
    t
  }

  /** Run `op` on `t` while a second handle appends `rival` (a fresh key
    * in a partition `op` does not touch) just before `op`'s first claim.
    */
  private def raced(t: VersionedTable, rival: DataFrame)(op: => Unit): Unit = {
    val other = VersionedTable(spark, t.path, t.pk, t.partitionCols,
      recordCdf = t.recordCdf)
    var fired = false
    t.beforeCommitHook = () => if (!fired) { fired = true; other.append(rival) }
    try op finally t.beforeCommitHook = () => ()
  }

  private def noOrphans(t: VersionedTable, what: String): Unit = {
    val orphans = t.vacuumPlan(retain = t.currentVersion)
    assert(orphans.isEmpty, s"$what left uncommitted roots: $orphans")
  }

  private def ids(t: VersionedTable): Set[Int] = t.read.select("id").as[Int].collect().toSet

  private val failFast: Seq[(String, VersionedTable => Unit)] = Seq(
    "overwrite" -> (_.overwrite(rows((9, "p3", 90)))),
    "replaceWhere" -> (_.replaceWhere(col("p") === "p1", rows((1, "p1", 11)))),
    "delete" -> (t => assert(t.delete(col("id") === 1))),
    "deleteMor" -> (t => assert(t.deleteMor(col("id") === 1))),
    "update" -> (t => assert(t.update(col("id") === 1, Map("x" -> lit(11))))),
    "compact" -> (_.compact()),
    "compactWhere" -> (_.compactWhere(col("p") === "p1")),
    "reorgPurge" -> (_.reorgPurge()))

  private val retrying: Seq[(String, VersionedTable => Unit, Set[Int])] = Seq(
    ("merge", _.merge(rows((1, "p1", 11), (5, "p1", 50))), Set(1, 2, 3, 5)),
    ("append", _.append(rows((5, "p1", 50))), Set(1, 2, 3, 5)),
    ("overwritePartitions", _.overwritePartitions(rows((5, "p1", 50))), Set(3, 5)),
    ("MERGE INTO", _.mergeInto(rows((1, "p1", 11), (5, "p1", 50)))
      .whenMatched().updateAll().whenNotMatched().insertAll().execute(),
      Set(1, 2, 3, 5)))

  private def checkFailFast(name: String, op: VersionedTable => Unit, cdf: Boolean): Unit = {
    val t = seeded(cdf)
    val (before, live) = (t.currentVersion, ids(t))
    val e = intercept[RuntimeException](raced(t, rows((100, "p9", 0)))(op(t)))
    assert(e.getMessage.contains("concurrent writer"), s"$name: ${e.getMessage}")
    assert(t.currentVersion == before + 1, s"$name committed after losing")
    assert(ids(t) == live + 100, name)
    noOrphans(t, name)
  }

  private def checkRetrying(name: String, op: VersionedTable => Unit,
                            expected: Set[Int], cdf: Boolean): Unit = {
    val t = seeded(cdf)
    val before = t.currentVersion
    raced(t, rows((100, "p9", 0)))(op(t))
    assert(t.currentVersion == before + 2, s"$name did not re-commit over the rival")
    assert(ids(t) == expected + 100, name)
    noOrphans(t, name)
  }

  failFast.foreach { case (name, op) =>
    test(s"$name fails fast on a lost race and rolls its staging back") {
      checkFailFast(name, op, cdf = false)
    }
  }

  test("zorderBy fails fast on a lost race and rolls its staging back") {
    val grid = (0 until 16).map(i => (i, i % 4, i / 4)).toDF("id", "x", "y")
    val t = VersionedTable(spark, tmpDir("race_z") + "/t", Seq("id"), Seq("zb"))
    t.overwrite(ZOrder.withZBucket(grid, Seq("x", "y")))
    val e = intercept[RuntimeException] {
      raced(t, Seq((100, 0, 0, 99)).toDF("id", "x", "y", "zb"))(t.zorderBy(Seq("y", "x")))
    }
    assert(e.getMessage.contains("concurrent writer"))
    assert(t.currentVersion == 2 && t.read.count() == 17)
    noOrphans(t, "zorderBy")
  }

  retrying.foreach { case (name, op, expected) =>
    test(s"$name re-commits over a disjoint-partition rival") {
      checkRetrying(name, op, expected, cdf = false)
    }
  }

  test("with change recording, lost races leave no staged change files") {
    failFast.filter { case (n, _) => Set("delete", "deleteMor", "update")(n) }
      .foreach { case (name, op) => checkFailFast(name, op, cdf = true) }
    retrying.filter(_._1 == "merge").foreach { case (name, op, expected) =>
      checkRetrying(name, op, expected, cdf = true)
    }
  }

  test("a lost race to a writer that committed the same txn is a no-op " +
      "for overwrite and replaceWhere") {
    val batch = rows((1, "p1", 11), (7, "p1", 70))
    val txn = Some(("app", 7L))
    val ops: Seq[(String, VersionedTable => Unit)] = Seq(
      "overwrite" -> (_.overwrite(batch, txn)),
      "replaceWhere" -> (_.replaceWhere(col("p") === "p1", batch, txn)))
    ops.foreach { case (name, op) =>
      val t = seeded(cdf = false)
      val other = VersionedTable(spark, t.path, t.pk, t.partitionCols)
      var fired = false
      t.beforeCommitHook = () => if (!fired) { fired = true; op(other) }
      try op(t) finally t.beforeCommitHook = () => ()
      assert(fired && t.currentVersion == 3, name)
      assert(t.read.select("id", "x").as[(Int, Int)].collect().toSet ==
        (if (name == "overwrite") Set((1, 11), (7, 70)) else Set((1, 11), (7, 70), (3, 30))),
        name)
      noOrphans(t, name)
    }
  }
}
