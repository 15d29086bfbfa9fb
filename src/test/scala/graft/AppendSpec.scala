package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.lake.VersionedTable

/** INSERT-INTO append on the versioned table: adds-only commits, schema
  * alignment, the PK-uniqueness contract, CDF recording, and txn
  * idempotency.
  */
class AppendSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: (Int, Int, String)*): DataFrame =
    rows.toDF("id", "amount", "part")

  private def contents(t: VersionedTable): Set[(Int, Int, String)] =
    t.read.select("id", "amount", "part").as[(Int, Int, String)].collect().toSet

  test("append adds rows without restaging untouched partitions") {
    val t = VersionedTable(spark, tmpDir("ap1") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1"), (2, 20, "p2")))
    t.append(df((3, 30, "p1"), (4, 40, "p3")))
    assert(contents(t) == Set(
      (1, 10, "p1"), (2, 20, "p2"), (3, 30, "p1"), (4, 40, "p3")))
    val h = t.history.last
    // adds only — NOTHING removed: p1's old dir stays live beside the new
    assert(h._2 == "insert" && h._4 == 0, s"history: $h")
    assert(t.readVersion(1).count() == 2) // time travel intact
  }

  test("append aligns/null-fills omitted columns and refuses extras") {
    val t = VersionedTable(spark, tmpDir("ap2") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1")))
    t.append(Seq((5, "p1")).toDF("id", "part")) // amount omitted → NULL
    assert(t.read.filter(col("id") === 5 && col("amount").isNull).count() == 1)
    val e = intercept[IllegalArgumentException](
      t.append(Seq((6, 1, "p1", "x")).toDF("id", "amount", "part", "extra")))
    assert(e.getMessage.contains("extra"))
  }

  test("append refuses duplicate and NULL primary keys") {
    val t = VersionedTable(spark, tmpDir("ap3") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1")))
    // within the batch
    intercept[IllegalArgumentException](t.append(df((7, 1, "p1"), (7, 2, "p1"))))
    // against a live row (partition-pruned check)
    intercept[IllegalArgumentException](t.append(df((1, 99, "p1"))))
    // NULL key
    intercept[IllegalArgumentException](t.append(
      Seq((Option.empty[Int], 1, "p1")).toDF("id", "amount", "part")))
    assert(t.currentVersion == 1) // nothing committed
  }

  test("append refuses an existing key arriving under a DIFFERENT " +
      "partition value (partition not determined by the PK)") {
    // pk=id, partition=part: the collision scan must NOT prune to the
    // batch's partitions — id=1 lives under p1, the batch brings it
    // under p2, and pruning to p2 would admit a duplicate key
    val t = VersionedTable(spark, tmpDir("ap3b") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1"), (2, 20, "p2")))
    val e = intercept[IllegalArgumentException](t.append(df((1, 99, "p2"))))
    assert(e.getMessage.contains("duplicate"))
    assert(t.currentVersion == 1)
    // when the partition IS the PK (alignment holds), pruning stays on
    // and both the refusal and a fresh-key append still behave
    val t2 = VersionedTable(spark, tmpDir("ap3c") + "/t", Seq("part"), Seq("part"))
    t2.overwrite(Seq(("p1", 10), ("p2", 20)).toDF("part", "amount"))
    intercept[IllegalArgumentException](
      t2.append(Seq(("p1", 99)).toDF("part", "amount")))
    t2.append(Seq(("p3", 30)).toDF("part", "amount"))
    assert(t2.read.count() == 3)
  }

  test("a disjoint-partition WINNER carrying this batch's key is caught " +
      "by the retry's collision re-check (unaligned table)") {
    val t = VersionedTable(spark, tmpDir("ap3d") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1"), (2, 20, "p2")))
    val rival = t.copy()
    // rival lands id=5 under p2 between our stage and commit — partitions
    // are disjoint (we stage p1), but blindly re-committing would
    // duplicate id=5 across partitions
    var fired = false
    t.beforeCommitHook = () => if (!fired) { fired = true; rival.append(df((5, 50, "p2"))) }
    val e = intercept[RuntimeException](t.append(df((5, 99, "p1"))))
    t.beforeCommitHook = () => ()
    assert(e.getMessage.contains("concurrent writer"))
    // the rival's row won; ours rolled back — exactly one id=5 survives
    assert(contents(t) == Set(
      (1, 10, "p1"), (2, 20, "p2"), (5, 50, "p2")))
  }

  test("append records insert change images and streams through CDF") {
    val t = VersionedTable(spark, tmpDir("ap4") + "/t", Seq("id"), Seq("part"),
      recordCdf = true)
    t.merge(df((1, 10, "p1")))
    t.append(df((2, 20, "p2")))
    val f = t.changeFeed(1, 2)
    assert(f.select("id", "change_type").as[(Int, String)].collect().toSet ==
      Set((2, "insert")))
    assert(f.inputFiles.forall(_.contains("/_changes/")))
  }

  test("append preserves tombstones: suppressed rows stay gone and their " +
      "keys stay reserved") {
    val t = VersionedTable(spark, tmpDir("ap6") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1"), (2, 20, "p1")))
    t.deleteMor(col("id") === 1)                 // tombstone, merge-on-read
    assert(contents(t) == Set((2, 20, "p1")))
    t.append(df((3, 30, "p1")))                  // same partition, new dir
    // the tombstoned row must NOT resurrect under the append's dirs
    assert(contents(t) == Set((2, 20, "p1"), (3, 30, "p1")))
    // and the tombstoned KEY is still occupied — appending it is refused
    // (the tombstone would suppress the new row too); merge is the upsert
    val e = intercept[IllegalArgumentException](t.append(df((1, 99, "p1"))))
    assert(e.getMessage.contains("tombstoned"))
    t.merge(df((1, 99, "p1")))
    assert(contents(t) == Set((1, 99, "p1"), (2, 20, "p1"), (3, 30, "p1")))
  }

  test("unpartitioned append also keeps tombstones intact") {
    val t = VersionedTable(spark, tmpDir("ap7") + "/t", Seq("id"))
    t.overwrite(Seq((1, 10), (2, 20)).toDF("id", "amount"))
    t.deleteMor(col("id") === 1)
    t.append(Seq((3, 30)).toDF("id", "amount"))
    assert(t.read.select("id", "amount").as[(Int, Int)].collect().toSet ==
      Set((2, 20), (3, 30)))
  }

  test("the first batch obeys the same PK contract as every other") {
    val t = VersionedTable(spark, tmpDir("ap8") + "/t", Seq("id"), Seq("part"))
    intercept[IllegalArgumentException](t.append(df((1, 10, "p1"), (1, 20, "p1"))))
    intercept[IllegalArgumentException](t.append(
      Seq((Option.empty[Int], 1, "p1")).toDF("id", "amount", "part")))
    intercept[IllegalArgumentException](t.append(Seq((1, "p1")).toDF("key", "part")))
    assert(!t.exists) // nothing committed
    t.append(df((1, 10, "p1")))
    assert(contents(t) == Set((1, 10, "p1")))
  }

  test("overwritePartitions replaces exactly the batch's partitions") {
    val t = VersionedTable(spark, tmpDir("ap9") + "/t", Seq("id"), Seq("part"),
      recordCdf = true)
    t.merge(df((1, 10, "p1"), (2, 20, "p2"), (3, 30, "p3")))
    t.overwritePartitions(df((9, 90, "p1"), (4, 40, "p2")))
    // p1 and p2 fully replaced; p3 untouched
    assert(contents(t) == Set((9, 90, "p1"), (4, 40, "p2"), (3, 30, "p3")))
    assert(t.history.last._2 == "replace")
    assert(t.readVersion(1).count() == 3)        // time travel intact
    // recorded change images: old p1/p2 rows deleted, new rows inserted
    assert(t.changeFeed(1, 2).select("id", "change_type")
      .as[(Int, String)].collect().toSet ==
      Set((1, "delete"), (2, "delete"), (9, "insert"), (4, "insert")))
    // replaced partitions drop their tombstones; others keep state
    t.deleteMor(col("id") === 3)                 // tombstone in p3
    t.overwritePartitions(df((5, 50, "p1")))     // replace p1 only
    assert(contents(t) == Set((5, 50, "p1"), (4, 40, "p2")))
  }

  test("a lost append race retries on disjoint partitions and fails fast " +
      "on overlap") {
    val t = VersionedTable(spark, tmpDir("ap10") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1"), (2, 20, "p2")))
    val rival = t.copy()
    // a competing writer lands a p2 append between our stage and commit —
    // disjoint from our p1 staging, so the SAME staging re-commits
    var fired = false
    t.beforeCommitHook = () => if (!fired) { fired = true; rival.append(df((9, 90, "p2"))) }
    t.append(df((3, 30, "p1")))
    t.beforeCommitHook = () => ()
    assert(t.currentVersion == 3)
    assert(contents(t) == Set(
      (1, 10, "p1"), (2, 20, "p2"), (3, 30, "p1"), (9, 90, "p2")))
    // a SAME-partition winner invalidates the PK-collision check — fail fast
    var fired2 = false
    t.beforeCommitHook = () => if (!fired2) { fired2 = true; rival.append(df((8, 80, "p1"))) }
    val e = intercept[RuntimeException](t.append(df((4, 40, "p1"))))
    t.beforeCommitHook = () => ()
    assert(e.getMessage.contains("concurrent writer"))
    assert(contents(t) == Set(
      (1, 10, "p1"), (2, 20, "p2"), (3, 30, "p1"), (9, 90, "p2"), (8, 80, "p1")))
  }

  test("a schema-evolving winner conflicts with a retried append instead " +
      "of being silently reverted") {
    val t = VersionedTable(spark, tmpDir("ap11") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1"), (2, 20, "p2")))
    val rival = t.copy()
    var fired = false
    // the winner widens the schema (extra column) in a DISJOINT partition:
    // partition-wise our staging is untouched, but re-committing our
    // pre-race schemaJson would undo the widening for every later reader
    t.beforeCommitHook = () => if (!fired) {
      fired = true
      rival.merge(Seq((9, 90, "p2", "x")).toDF("id", "amount", "part", "tag"))
    }
    val e = intercept[RuntimeException](t.append(df((3, 30, "p1"))))
    t.beforeCommitHook = () => ()
    assert(e.getMessage.contains("concurrent writer"))
    assert(t.copy().read.columns.contains("tag"), "the evolution must survive")
  }

  test("a replayed txn batch no-ops (sink idempotency contract)") {
    val t = VersionedTable(spark, tmpDir("ap5") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1")))
    t.append(df((2, 20, "p1")), txn = Some(("app", 7L)))
    t.append(df((2, 20, "p1")), txn = Some(("app", 7L))) // replay
    assert(t.currentVersion == 2)
    assert(contents(t) == Set((1, 10, "p1"), (2, 20, "p1")))
  }
}
