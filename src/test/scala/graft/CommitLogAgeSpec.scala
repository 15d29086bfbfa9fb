package graft

import org.apache.spark.sql.functions._

import graft.lake.VersionedTable

/** The commit-log age contract: per-commit cost is O(checkpointInterval),
  * never O(commits). A 100 TB table takes thousands of commits over its
  * life, so a per-commit constant that grows with log age would compound
  * into the dominant cost — this canary drives a mixed append / metadata /
  * merge commit stream through one table and asserts both the structural
  * contract (a fresh handle attaching late replays O(interval) log files,
  * not the whole history) and the wall-clock one (late commits cost what
  * early commits cost). The 300-commit offline sibling is
  * `graft.tools.Diag canary`; measured curves are recorded in PLANS.md.
  */
class CommitLogAgeSpec extends SparkSpec {
  import spark.implicits._

  test("per-commit cost stays flat as the log ages; a late-attaching " +
      "handle replays O(checkpointInterval)") {
    val vt = VersionedTable(spark, tmpDir("logage") + "/t",
      Seq("id"), Seq("p"), statsCols = Seq("id"))
    def batch(lo: Int) =
      (lo until lo + 20).map(i => (i, i % 3, s"v$i")).toDF("id", "p", "payload")
    vt.overwrite(batch(0)) // v1
    val n = 90
    val times = (0 until n).map { i =>
      val t0 = System.nanoTime()
      i % 3 match {
        case 0 => vt.append(batch(1000 + i * 20))
        case 1 => vt.setProperties(Map(s"age.k${i % 5}" -> s"x$i"))
        case 2 => vt.merge(batch(1000 + (i - 2) * 20)
          .withColumn("payload", concat(lit("u"), col("payload"))))
      }
      (System.nanoTime() - t0) / 1e9
    }
    assert(vt.currentVersion == n + 1)
    // wall-clock flatness: median of the last 30 commits vs the first 30
    // (after a 5-commit JIT warm-up). Medians + a generous factor keep
    // the assertion robust to CI contention spikes; a genuine
    // O(commits) replay would blow far past it (at v≈90 with interval
    // 10, unchecked replay would read ~9× the log a checkpointed one
    // does, and grow from there).
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val early = median(times.slice(5, 35))
    val late = median(times.takeRight(30))
    assert(late <= early * 3.0,
      f"per-commit cost grew with log age: early median $early%.3fs, " +
        f"late median $late%.3fs")
    // structural contract, deterministic: a FRESH handle attaching at
    // v=91 serves a read by replaying the latest checkpoint + tail —
    // bounded by the interval — never the 91-entry history
    val fresh = VersionedTable(spark, vt.path, Seq("id"), Seq("p"),
      statsCols = Seq("id"))
    fresh.read.count()
    assert(fresh.logReads <= fresh.checkpointInterval + 2,
      s"late attach opened ${fresh.logReads} log files — replay is not " +
        s"O(interval=${fresh.checkpointInterval})")
    // and the aged table still answers correctly
    assert(fresh.read.count() == vt.read.count())
  }
}
