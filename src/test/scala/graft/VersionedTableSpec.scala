package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit}

import graft.lake.VersionedTable

/** Time-travel semantics over the directory-granular commit log:
  * versioned reads, history, merge isolation per version, vacuum
  * retention, and the atomic log-create commit race.
  */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: (Int, String, String)*): DataFrame =
    rows.toDF("id", "val", "part")

  private def contents(d: DataFrame): Set[(Int, String, String)] =
    d.select("id", "val", "part").as[(Int, String, String)].collect().toSet

  test("merge creates versions; every old version stays readable") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"))
    t.merge(df((1, "a", "p1"), (2, "b", "p2")))
    t.merge(df((2, "B", "p2"), (3, "c", "p3")))
    assert(t.currentVersion == 2)
    assert(contents(t.readVersion(1)) == Set((1, "a", "p1"), (2, "b", "p2")))
    assert(contents(t.readVersion(2)) ==
      Set((1, "a", "p1"), (2, "B", "p2"), (3, "c", "p3")))
    assert(contents(t.read) == contents(t.readVersion(2)))
    // per-version partition listing is commit-log metadata, no data scan —
    // a dir exists at v iff that version holds rows under it (q234's
    // pruning-proof cell sets read this instead of scanning the version)
    assert(t.partitionPathsAt(1) == Seq("part=p1", "part=p2"))
    assert(t.partitionPathsAt(2) == Seq("part=p1", "part=p2", "part=p3"))
    assert(t.partitionPathsAt(2) == t.partitionPaths)
  }

  test("merge handles partition migration: an update that MOVES a row's " +
      "partition leaves no duplicate and empties the source partition") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"))
    t.merge(df((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p2")))
    // id=1 migrates p1 → p2; p1 is left EMPTY (its only row moved away)
    t.merge(df((1, "A", "p2")))
    assert(contents(t.read) ==
      Set((1, "A", "p2"), (2, "b", "p2"), (3, "c", "p2")))
    assert(t.read.groupBy("id").count().filter(col("count") > 1).isEmpty,
      "migrated key must not survive in its old partition")
    // migration with survivors: id=2 moves p2 → p3, id=3 stays behind
    t.merge(df((2, "B", "p3")))
    assert(contents(t.read) ==
      Set((1, "A", "p2"), (2, "B", "p3"), (3, "c", "p2")))
    // old versions are untouched by the fix-up
    assert(contents(t.readVersion(1)) ==
      Set((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p2")))
    // pk-aligned partitioning never probes (migration impossible): a merge
    // on such a table still restages only the named partitions
    val ta = VersionedTable(spark, tmpDir("vt") + "/ta", Seq("id", "part"),
      Seq("part"))
    ta.merge(df((1, "a", "p1"), (2, "b", "p2")))
    ta.merge(df((1, "A", "p1")))
    assert(contents(ta.read) == Set((1, "A", "p1"), (2, "b", "p2")))
  }

  test("mergeInto finds matched keys whose live row sits in a partition " +
      "the source does not name (no duplicate insert, no silently-missed clause)") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"))
    t.merge(df((1, "a", "p1"), (2, "b", "p2")))
    // source names p2 for key 1, whose live row is in p1: the matched
    // clause must fire (updateAll keeps the TARGET's partition) and the
    // insert clause must NOT duplicate the key into p2
    t.mergeInto(df((1, "A", "p2")))
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()
    assert(contents(t.read) == Set((1, "A", "p1"), (2, "b", "p2")))
    assert(t.read.groupBy("id").count().filter(col("count") > 1).isEmpty)
    // a matched DELETE whose source names the wrong partition still lands
    t.mergeInto(df((2, "x", "p9"))).whenMatched().delete().execute()
    assert(contents(t.read) == Set((1, "A", "p1")))
  }

  test("merge restages only touched partitions (untouched dirs stay live from v1)") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"))
    t.merge(df((1, "a", "p1"), (2, "b", "p2")))
    t.merge(df((2, "B", "p2")))
    val h = t.history
    assert(h.map(x => (x._1, x._2)) == Seq(1 -> "overwrite", 2 -> "merge"))
    // v2 adds exactly the touched partition and removes its predecessor
    assert(h(1)._3 == 1 && h(1)._4 == 1)
    assert(contents(t.read) == Set((1, "a", "p1"), (2, "B", "p2")))
  }

  test("unpartitioned table versions full snapshots") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"))
    t.merge(df((1, "a", "p1")))
    t.overwrite(df((9, "z", "p9")))
    assert(contents(t.readVersion(1)) == Set((1, "a", "p1")))
    assert(contents(t.readVersion(2)) == Set((9, "z", "p9")))
  }

  test("schema evolution: old versions read with their own columns, new read null-fills") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"))
    t.merge(df((1, "a", "p1"), (2, "b", "p2")))
    t.merge(Seq((2, "B", "p2", "note2")).toDF("id", "val", "part", "note"))
    val v2 = t.read.select("id", "val", "part", "note")
      .as[(Int, String, String, Option[String])].collect().toSet
    assert(v2 == Set((1, "a", "p1", None), (2, "B", "p2", Some("note2"))))
    assert(!t.readVersion(1).columns.contains("note"))
  }

  test("vacuum(retain=1) reclaims unreferenced dirs; current version still reads") {
    val base = tmpDir("vt") + "/t"
    val t = VersionedTable(spark, base, Seq("id"), Seq("part"))
    t.merge(df((1, "a", "p1")))
    t.merge(df((1, "A", "p1")))
    t.merge(df((1, "AA", "p1")))
    t.vacuum(retain = 1)
    assert(contents(t.read) == Set((1, "AA", "p1")))
    // superseded v1/v2 dirs for p1 are gone
    val roots = Files.list(Paths.get(base, "data")).toArray.map(_.toString)
    assert(roots.length == 1, s"expected 1 surviving data root, got ${roots.toSeq}")
    assert(t.history.length == 3) // log (auditability) survives vacuum
  }

  test("vacuumRetainingSince keeps every version readable as of the instant") {
    import scala.jdk.CollectionConverters._
    val base = tmpDir("vt") + "/t"
    val t = VersionedTable(spark, base, Seq("id"), Seq("part"))
    t.merge(df((1, "a", "p1")))
    t.merge(df((1, "A", "p1")))
    t.merge(df((1, "AA", "p1")))
    // the recorded instant of commit 2: retaining since then keeps v2+v3
    def tsOf(v: Int): Long =
      Files.readAllLines(Paths.get(f"$base/_log/v$v%05d.log")).asScala
        .find(_.startsWith("ts=")).get.stripPrefix("ts=").toLong
    t.vacuumRetainingSince(tsOf(2))
    assert(contents(t.readVersion(2)) == Set((1, "A", "p1")))
    assert(contents(t.readVersion(3)) == Set((1, "AA", "p1")))
    // v1's superseded dir is reclaimed
    intercept[Exception](t.readVersion(1).collect())
    // retaining since BEFORE the table existed is a no-op, not an error
    t.vacuumRetainingSince(tsOf(2) - 1000000L)
    assert(contents(t.readVersion(2)) == Set((1, "A", "p1")))
  }

  test("an empty commit reads back as an empty frame with the logged schema") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"))
    t.merge(df((1, "a", "p1")))
    t.overwrite(df().filter(lit(false))) // zero rows → zero partition leaves
    assert(t.currentVersion == 2)
    val v2 = t.read
    assert(v2.count() == 0 && v2.columns.toSeq == Seq("id", "val", "part"))
    assert(contents(t.readVersion(1)) == Set((1, "a", "p1"))) // v1 intact
    t.merge(df((2, "b", "p2"))) // table is NOT wedged after an empty version
    assert(contents(t.read) == Set((2, "b", "p2")))
  }

  test("vacuum reclaims orphan staging roots from crashed writers") {
    val base = tmpDir("vt") + "/t"
    val t = VersionedTable(spark, base, Seq("id"), Seq("part"))
    t.merge(df((1, "a", "p1")))
    // a writer that died between stage() and commit() leaves an
    // unreferenced root in data/
    Files.createDirectories(Paths.get(base, "data", "v00002_deadbeef", "part=p9"))
    t.vacuum(retain = 1)
    assert(!Files.exists(Paths.get(base, "data", "v00002_deadbeef")))
    assert(contents(t.read) == Set((1, "a", "p1")))
  }

  test("losing the race on an OVERLAPPING partition fails fast and rolls back staging") {
    val base = tmpDir("vt") + "/t"
    val t = VersionedTable(spark, base, Seq("id"), Seq("part"))
    t.merge(df((1, "a", "p1")))
    // rival claims v2 REMOVING v1's part=p1 dir — overlapping our merge's
    // touched partition, so no optimistic retry is sound
    val v1dir = Files.readString(Paths.get(base, "_log", "v00001.log")).split("\n")
      .find(_.startsWith("add=")).get.stripPrefix("add=")
    val rival = VersionedTable(spark, base, Seq("id"), Seq("part"))
    rival.beforeCommitHook = () =>
      Files.writeString(Paths.get(base, "_log", "v00002.log"), s"action=merge\nremove=$v1dir")
    val e = intercept[RuntimeException] { rival.merge(df((2, "b", "p1"))) }
    assert(e.getMessage.contains("concurrent writer") && e.getMessage.contains("overlapping"))
    // the loser's staging did not leak into data/
    val roots = Files.list(Paths.get(base, "data")).toArray.map(_.toString)
    assert(roots.length == 1, s"loser staging leaked: ${roots.toSeq}")
  }

  test("a lost race on DISJOINT partitions retries and lands (optimistic concurrency)") {
    val base = tmpDir("vt") + "/t"
    val t = VersionedTable(spark, base, Seq("id"), Seq("part"))
    t.merge(df((1, "a", "p1"), (2, "b", "p2")))
    // a rival merge to part=p2 lands BETWEEN our staging and our commit
    // attempt; our p1 merge must re-claim the next version and land too —
    // both racing merges succeed, Delta's disjoint-partition semantics
    val rival = VersionedTable(spark, base, Seq("id"), Seq("part"))
    var fired = false
    t.beforeCommitHook = () => if (!fired) { fired = true; rival.merge(df((2, "B", "p2"))) }
    t.merge(df((1, "A", "p1")))
    assert(t.currentVersion == 3)
    assert(contents(t.read) == Set((1, "A", "p1"), (2, "B", "p2")))
    assert(t.history.map(_._2) == Seq("overwrite", "merge", "merge"))
    // no stranded staging roots: v1 root + rival's v2 root + our root
    assert(Files.list(Paths.get(base, "data")).count() == 3)
  }

  test("delete: row-level survivors restage, fully-matched partitions drop out, v1 intact") {
    val base = tmpDir("vt") + "/t"
    val t = VersionedTable(spark, base, Seq("id"), Seq("part"))
    t.merge(df((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"), (4, "d", "p3")))
    // p1 loses one of two rows (restaged), p2 loses its ONLY row (dir
    // drops out of the live set with no staged counterpart), p3 untouched
    assert(t.delete(col("id") === 2 || col("part") === "p2"))
    assert(t.currentVersion == 2)
    assert(contents(t.read) == Set((1, "a", "p1"), (4, "d", "p3")))
    assert(contents(t.readVersion(1)) ==
      Set((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"), (4, "d", "p3")))
    // untouched p3 is still served by its ORIGINAL v1 dir (not restaged)
    val (_, _, adds2, removes2) = t.history(1)
    assert(adds2 == 1 && removes2 == 2, s"expected 1 add (p1 survivors) + 2 removes, got $adds2/$removes2")
  }

  test("delete matching nothing commits nothing") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"))
    t.merge(df((1, "a", "p1")))
    assert(!t.delete(col("id") === 99))
    assert(t.currentVersion == 1)
  }

  test("readWhere prunes dirs via min/max stats and equals the unpruned filter") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"),
      statsCols = Seq("val"))
    t.merge(df((1, "a", "p1"), (2, "b", "p1"), (3, "m", "p2"),
      (4, "x", "p3"), (5, "z", "p3")))
    val r = t.readWhere(col("val") >= "x")
    assert(contents(r) == Set((4, "x", "p3"), (5, "z", "p3")))
    assert(t.lastScanDirs == 1) // p1 (max "b") and p2 (max "m") pruned
    assert(contents(t.readWhere(col("val") === "m")) == Set((3, "m", "p2")))
    assert(t.lastScanDirs == 1)
    // an un-analyzable predicate conservatively scans everything
    assert(contents(t.readWhere(org.apache.spark.sql.functions.length(col("val")) === 1))
      == contents(t.read))
    assert(t.lastScanDirs == 3)
  }

  test("readWhere numeric bounds, flipped literals, and AND/OR composition") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"),
      statsCols = Seq("num"))
    t.merge(Seq((1, 10, "p1"), (2, 20, "p1"), (3, 900, "p2"), (4, 950, "p2"))
      .toDF("id", "num", "part"))
    assert(t.readWhere(col("num") > 100).count() == 2)
    assert(t.lastScanDirs == 1)
    assert(t.readWhere(lit(100) > col("num")).count() == 2) // literal on the left
    assert(t.lastScanDirs == 1)
    assert(t.readWhere(col("num") > 15 && col("num") < 30).count() == 1)
    assert(t.lastScanDirs == 1) // p2's min 900 fails the upper bound
    assert(t.readWhere(col("num") < 15 || col("num") > 920).count() == 2)
    assert(t.lastScanDirs == 2) // OR keeps a dir either side admits
    assert(t.readWhere(col("num") > 2000).count() == 0)
    assert(t.lastScanDirs == 0) // fully pruned read keeps the schema
  }

  test("readWhere prunes IN-list membership probes (In and InSet shapes)") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"),
      statsCols = Seq("num"))
    t.merge(Seq((1, 10, "p1"), (2, 20, "p1"), (3, 900, "p2"), (4, 950, "p2"),
      (5, 5000, "p3")).toDF("id", "num", "part"))
    // small list → Catalyst keeps In
    assert(t.readWhere(col("num").isin(10L, 900L)).count() == 2)
    assert(t.lastScanDirs == 2, "p3 (min 5000) must prune on the IN list")
    assert(t.readWhere(col("num").isin(11L, 12L)).count() == 0)
    assert(t.lastScanDirs == 1, "only p1's [10,20] range admits 11/12")
    // >10 values → OptimizeIn rewrites to InSet; pruning must match
    val big = (5001L to 5012L) :+ 10L
    assert(t.readWhere(col("num").isin(big: _*)).count() == 1)
    assert(t.lastScanDirs == 1,
      "InSet must prune p2 [900,950] and p3 [5000,5000] like In would")
    // a list entirely outside every dir fully prunes
    assert(t.readWhere(col("num").isin((7001L to 7012L): _*)).count() == 0)
    assert(t.lastScanDirs == 0)
  }

  test("readWhere keeps dirs with null-only stats; null rows never satisfy bounds") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"),
      statsCols = Seq("val"))
    // p1 mixes a value and a null (stats = ["a","a"]); p2 is all-null (no line)
    t.merge(df((1, "a", "p1"), (2, null, "p1"), (3, null, "p2")))
    assert(contents(t.readWhere(col("val") > "a")) == Set.empty[(Int, String, String)])
    assert(t.lastScanDirs == 1) // p1 prunable (max "a"), p2 kept: no stats claim
  }

  test("readWhere keeps the evolved schema when the only dir holding a column is pruned") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"),
      statsCols = Seq("val"))
    t.merge(df((1, "a", "p1"), (2, "b", "p1")))
    t.merge(Seq((3, "z", "p2", "note3")).toDF("id", "val", "part", "note"))
    // "val" <= "b" prunes p2 — the only holder of "note"; the result must
    // still carry the full evolved schema (null-filled), and a predicate
    // over the missing column must null-evaluate exactly as unpruned
    val r = t.readWhere(col("val") <= "b")
    assert(t.lastScanDirs == 1)
    assert(r.columns.toSet == t.read.columns.toSet)
    assert(r.select("id", "note").as[(Int, Option[String])].collect().toSet ==
      Set((1, None), (2, None)))
    val both = t.readWhere(col("val") <= "b" && col("note").isNull)
    assert(both.select("id").as[Int].collect().toSet == Set(1, 2))
    // fully pruned: same schema, zero rows, no scan
    val none = t.readWhere(col("val") > "zz")
    assert(t.lastScanDirs == 0 && none.count() == 0)
    assert(none.columns.toSet == t.read.columns.toSet)
  }

  test("stats recorded by a retried merge are found at the commit that actually landed") {
    val base = tmpDir("vt") + "/t"
    val t = VersionedTable(spark, base, Seq("id"), Seq("part"), statsCols = Seq("val"))
    t.merge(df((1, "a", "p1"), (2, "m", "p2")))
    // our p1 restage loses the v2 race and recommits the SAME staging
    // (root named v00002_*) as v3 — its stats live in v3's log entry, not
    // the v2 the dir name hints at
    val rival = VersionedTable(spark, base, Seq("id"), Seq("part"), statsCols = Seq("val"))
    var fired = false
    t.beforeCommitHook = () => if (!fired) { fired = true; rival.merge(df((2, "M", "p2"))) }
    t.merge(df((1, "b", "p1")))
    assert(t.currentVersion == 3)
    val fresh = VersionedTable(spark, base, Seq("id"), Seq("part"), statsCols = Seq("val"))
    assert(contents(fresh.readWhere(col("val") === "b")) == Set((1, "b", "p1")))
    assert(fresh.lastScanDirs == 1, "retried-merge stats must still prune")
  }

  test("readWhere stats survive checkpointed replay (writer version from dir name)") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"),
      checkpointInterval = 2, statsCols = Seq("val"))
    (1 to 5).foreach(i => t.merge(df((i, ('a' + i).toChar.toString, s"p$i"))))
    val fresh = VersionedTable(spark, t.path, Seq("id"), Seq("part"),
      checkpointInterval = 2, statsCols = Seq("val"))
    assert(contents(fresh.readWhere(col("val") === "d")) == Set((3, "d", "p3")))
    assert(fresh.lastScanDirs == 1) // v3's stats found through the checkpoint era
  }

  test("delete keeps rows whose condition evaluates to NULL") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"))
    // row 2's val is NULL → `val > "a"` is NULL there: not a match, and the
    // row must SURVIVE the restage (a bare filter(!cond) would drop it)
    t.merge(df((1, "b", "p1"), (2, null, "p1")))
    assert(t.delete(col("val") > "a"))
    assert(contents(t.read) == Set((2, null, "p1")))
  }

  test("changeFeed emits NULL for a column updated to NULL") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"))
    t.merge(df((1, "x", "p1")))
    assert(t.update(col("id") === 1, Map("val" -> lit(null).cast("string"))))
    val feed = t.changeFeed(1, 2).select("id", "val", "change_type")
      .as[(Int, Option[String], String)].collect().toSet
    // post-change value must be the NULL itself, not the resurrected "x"
    assert(feed == Set((1, None, "update")))
  }

  test("changeFeed spans schema evolution: evolved-column-only changes are emitted") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"))
    t.merge(df((1, "a", "p1"), (2, "b", "p2")))                          // v1
    t.merge(Seq((1, "a", "p1", "n1")).toDF("id", "val", "part", "note")) // v2
    val feed = t.changeFeed(1, 2).select("id", "val", "note", "change_type")
      .as[(Int, String, Option[String], String)].collect().toSet
    // id=1 changed ONLY in the column added after v1 — under intersected
    // comparison columns it would classify unchanged and vanish from the
    // feed, and `note` would be absent from the output; id=2 is untouched
    assert(feed == Set((1, "a", Some("n1"), "update")))
  }

  test("restore re-lives an old version as a new commit; history and stats intact") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"),
      statsCols = Seq("val"))
    t.merge(df((1, "a", "p1"), (2, "m", "p2")))          // v1
    t.delete(col("part") === "p2")                        // v2
    t.update(col("id") === 1, Map("val" -> lit("A")))     // v3
    t.restore(1)                                          // v4 — metadata only
    assert(t.currentVersion == 4)
    assert(contents(t.read) == contents(t.readVersion(1)))
    assert(t.history.last._2 == "restore")
    // the pre-restore state is itself still time-travelable
    assert(contents(t.readVersion(3)) == Set((1, "A", "p1")))
    // stats of the re-added dirs resolve through their ORIGINAL add entry
    assert(contents(t.readWhere(col("val") === "m")) == Set((2, "m", "p2")))
    assert(t.lastScanDirs == 1)
    // restoring to where we already are is a no-op
    t.restore(4)
    assert(t.currentVersion == 4)
  }

  test("txn ids make merges idempotent: replays and stale batches no-op") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"))
    t.merge(df((1, "a", "p1")), txn = Some(("app", 0L)))         // v1 (create)
    t.merge(df((1, "b", "p1")), txn = Some(("app", 1L)))         // v2
    // replaying batch 0 after batch 1 must NOT resurrect the old value
    t.merge(df((1, "a", "p1")), txn = Some(("app", 0L)))
    t.merge(df((1, "b", "p1")), txn = Some(("app", 1L)))         // replay of 1
    assert(t.currentVersion == 2)
    assert(contents(t.read) == Set((1, "b", "p1")))
    // an unrelated app's txn ledger is independent
    t.merge(df((2, "x", "p2")), txn = Some(("other", 0L)))       // v3
    assert(t.currentVersion == 3)
    // a fresh instance (restart) sees the durable watermarks — through a
    // checkpoint era too
    val t2 = VersionedTable(spark, t.path, Seq("id"), Seq("part"), checkpointInterval = 2)
    t2.merge(df((1, "a", "p1")), txn = Some(("app", 1L)))
    assert(t2.currentVersion == 3)
  }

  test("a lost race against a writer that committed the SAME txn vanishes silently") {
    val base = tmpDir("vt") + "/t"
    val t = VersionedTable(spark, base, Seq("id"), Seq("part"))
    t.merge(df((1, "a", "p1")))
    // a rival worker applies THIS batch (same txn) between our staging and
    // our claim: our commit must dissolve — no duplicate version, no error
    val rival = VersionedTable(spark, base, Seq("id"), Seq("part"))
    var fired = false
    t.beforeCommitHook = () =>
      if (!fired) { fired = true; rival.merge(df((1, "B", "p1")), txn = Some(("app", 7L))) }
    t.merge(df((1, "B", "p1")), txn = Some(("app", 7L)))
    assert(t.currentVersion == 2)
    assert(contents(t.read) == Set((1, "B", "p1")))
    // no stranded staging roots: v1's + the rival's v2 root only
    assert(Files.list(Paths.get(base, "data")).count() == 2)
  }

  test("restore refuses a vacuumed target version") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"))
    t.merge(df((1, "a", "p1")))
    t.overwrite(df((2, "b", "p2")))
    t.vacuum(retain = 1) // v1's dirs are gone
    val e = intercept[IllegalArgumentException](t.restore(1))
    assert(e.getMessage.contains("vacuumed"))
  }

  test("update applies assignments to matching rows only; partition columns immutable") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"))
    t.merge(df((1, "a", "p1"), (2, "b", "p2")))
    assert(t.update(col("id") === 1, Map("val" -> lit("A"))))
    assert(contents(t.read) == Set((1, "A", "p1"), (2, "b", "p2")))
    assert(contents(t.readVersion(1)) == Set((1, "a", "p1"), (2, "b", "p2")))
    assert(!t.update(col("id") === 9, Map("val" -> lit("x")))) // no match → no commit
    assert(t.currentVersion == 2)
    intercept[IllegalArgumentException] {
      t.update(col("id") === 1, Map("part" -> lit("p9"))) // partition-stable contract
    }
  }

  test("changeFeed classifies insert/update/delete between versions; unchanged rows absent") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"))
    t.merge(df((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p3"))) // v1
    t.delete(col("id") === 3)                                   // v2
    t.merge(df((2, "B", "p2"), (4, "d", "p1")))                 // v3
    val feed = t.changeFeed(1, 3)
      .select("id", "val", "change_type")
      .as[(Int, String, String)].collect().toSet
    assert(feed == Set(
      (2, "B", "update"),  // post-change value
      (3, "c", "delete"),  // pre-change value (nothing on the v3 side)
      (4, "d", "insert"))) // id=1 unchanged → not emitted
  }

  test("compact folds many small commits into one root; history stays readable") {
    val base = tmpDir("vt") + "/t"
    val t = VersionedTable(spark, base, Seq("id"), Seq("part"))
    (1 to 4).foreach(i => t.merge(df((i, s"v$i", s"p${i % 2}"))))
    val before = contents(t.read)
    t.compact()
    assert(t.currentVersion == 5)
    assert(contents(t.read) == before)
    assert(contents(t.readVersion(4)) == before) // pre-compact version intact
    assert(contents(t.readVersion(2)) == Set((1, "v1", "p1"), (2, "v2", "p0")))
    // the live set now comes from the single compacted root
    val v5dirs = Files.readString(Paths.get(base, "_log", "v00005.log")).split("\n")
      .filter(_.startsWith("add=")).map(_.stripPrefix("add=").split("/")(0)).distinct
    assert(v5dirs.length == 1, s"compact should stage ONE root, got ${v5dirs.toSeq}")
  }

  test("checkpointed log replay: a read after many commits opens O(interval) log files") {
    val base = tmpDir("vt") + "/t"
    val t = VersionedTable(spark, base, Seq("id"), Seq("part"), checkpointInterval = 10)
    val expected = scala.collection.mutable.Map.empty[Int, (Int, String, String)]
    (1 to 55).foreach { i =>
      val id = i % 7
      val row = (id, s"v$i", s"p${id % 3}") // partition derives from the PK: stable
      expected(id) = row
      t.merge(df(row))
    }
    assert(Files.list(Paths.get(base, "_log")).toArray.map(_.toString)
      .count(_.endsWith(".checkpoint")) == 5) // v10,20,30,40,50
    // a FRESH instance (cold caches) must replay checkpoint + tail, not
    // all 55 logs
    val r = VersionedTable(spark, base, Seq("id"), Seq("part"))
    assert(r.currentVersion == 55)
    assert(contents(r.read) == expected.values.toSet)
    assert(r.logReads <= 10,
      s"read opened ${r.logReads} log files; checkpointing should bound it by the interval")
    // time travel through a checkpoint boundary still replays correctly:
    // version 7 state = first 7 merges applied in order
    val exp7 = scala.collection.mutable.Map.empty[Int, (Int, String, String)]
    (1 to 7).foreach { i => val id = i % 7; exp7(id) = (id, s"v$i", s"p${id % 3}") }
    assert(contents(r.readVersion(7)) == exp7.values.toSet)
  }

  test("versionAsOf resolves wall-clock instants to recorded commit times") {
    import scala.jdk.CollectionConverters._
    val base = tmpDir("vt") + "/t"
    val t = VersionedTable(spark, base, Seq("id"), Seq("part"))
    t.merge(df((1, "a", "p1")))
    t.merge(df((2, "b", "p2")))
    t.merge(df((3, "c", "p3")))
    // every commit records an explicit, strictly increasing ts= line — the
    // in-commit timestamp versionAsOf resolves by, never file mtimes
    // (whose coarse granularity can misresolve a between-commits instant)
    def tsOf(v: Int): Long =
      Files.readAllLines(Paths.get(f"$base/_log/v$v%05d.log")).asScala
        .find(_.startsWith("ts=")).get.stripPrefix("ts=").toLong
    assert(tsOf(1) < tsOf(2) && tsOf(2) < tsOf(3))
    // mtimes deliberately scrambled: resolution must not change
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    (1 to 3).foreach { v =>
      fs.setTimes(new org.apache.hadoop.fs.Path(f"$base/_log/v$v%05d.log"), 42L, -1)
    }
    assert(t.versionAsOf(tsOf(1)) == 1)
    assert(t.versionAsOf(tsOf(2) - 1) == 1)
    assert(t.versionAsOf(tsOf(2)) == 2)
    assert(t.versionAsOf(Long.MaxValue) == 3)
    assert(contents(t.readAsOf(tsOf(2))) == Set((1, "a", "p1"), (2, "b", "p2")))
    intercept[RuntimeException](t.versionAsOf(tsOf(1) - 1))
  }

  test("merge on an absent table creates it; an empty batch leaves the rows unchanged") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Seq("id"), Seq("part"))
    assert(!t.exists)
    t.merge(df((1, "a", "p1")))
    assert(t.exists && contents(t.read) == Set((1, "a", "p1")))
    t.merge(df())
    assert(contents(t.read) == Set((1, "a", "p1")))
  }

  test("merge without primary-key columns is refused (would cross-join)") {
    val t = VersionedTable(spark, tmpDir("vt") + "/t", Nil)
    intercept[IllegalArgumentException](t.merge(df((1, "a", "p1"))))
    assert(!t.exists)
  }

  test("optimized write: each partition dir holds ONE file regardless of " +
      "upstream parallelism") {
    val base = tmpDir("vt") + "/t"
    val t = VersionedTable(spark, base, Seq("id"), Seq("part"))
    // 3 partition values spread across 16 upstream partitions: a raw
    // partitionBy would write up to 16 files per dir
    t.merge(spark.range(300)
      .select(col("id").cast("int").as("id"), concat(lit("v"), col("id")).as("val"),
        concat(lit("p"), col("id") % 3).as("part"))
      .repartition(16))
    import scala.jdk.CollectionConverters._
    val files = Files.walk(Paths.get(base, "data")).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
    assert(files.groupBy(_.getParent.getFileName.toString).view.mapValues(_.size).toMap ==
      Map("part=p0" -> 1, "part=p1" -> 1, "part=p2" -> 1))
    assert(t.read.count() == 300)
  }
}
