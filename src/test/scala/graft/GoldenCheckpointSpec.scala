package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.lake.{LogEntry, Snapshot, VersionedTable}

/** The checkpoint format is frozen: `src/test/resources/golden-checkpoint`
  * holds the `_log` of a table built by [[GoldenCheckpointFixture]] with an
  * earlier engine, including the checkpoint that engine wrote at version
  * 12. Folding the frozen entries must reproduce that checkpoint byte for
  * byte, so existing tables read and older readers parse new checkpoints;
  * and a handle over the frozen log must read the state the writer had.
  */
class GoldenCheckpointSpec extends SparkSpec {
  private val logDir: Path =
    Paths.get(getClass.getResource("/golden-checkpoint/_log").toURI)

  private def lines(name: String): Seq[String] =
    new String(Files.readAllBytes(logDir.resolve(name)), "UTF-8").split("\n").toSeq

  private def folded(to: Int): Snapshot =
    (1 to to).foldLeft(Snapshot.empty)((s, v) => s.step(LogEntry.parse(lines(f"v$v%05d.log"))))

  private val cv = GoldenCheckpointFixture.CheckpointVersion

  test("folding the frozen log reproduces the frozen checkpoint byte for byte") {
    val frozen = Files.readAllBytes(logDir.resolve(f"v$cv%05d.checkpoint"))
    val written = folded(cv).checkpointLines.mkString("\n").getBytes("UTF-8")
    assert(new String(written, "UTF-8") == new String(frozen, "UTF-8"))
    assert(written.sameElements(frozen))
    // every replayed field is set in the frozen state
    val s = Snapshot.fromCheckpoint(lines(f"v$cv%05d.checkpoint"))
    assert(s == folded(cv))
    assert(Seq(s.liveDirs, s.dvDirs, s.txnWatermarks, s.constraints, s.properties,
      s.copiedFiles, s.generatedCols, s.colMap, s.dropped, s.analyzed).forall(_.nonEmpty))
    // and the tail replays from it to the same state as the full log
    assert(Seq(13, 14).foldLeft(s)((x, v) => x.step(LogEntry.parse(lines(f"v$v%05d.log")))) ==
      folded(14))
  }

  test("a handle over the frozen log reads the writer's metadata from " +
      "checkpoint + tail") {
    val dest = Paths.get(tmpDir("golden"), "t", "_log")
    Files.createDirectories(dest)
    Files.list(logDir).forEach(f => Files.copy(f, dest.resolve(f.getFileName)))
    val vt = VersionedTable(spark, dest.getParent.toString, Seq("id"), Seq("p"),
      checkpointInterval = cv, statsCols = Seq("id"))
    assert(vt.currentVersion == 14)
    assert(vt.properties == Map("owner" -> "ops team", "after" -> "checkpoint"))
    assert(vt.constraints == Map("id_nonneg" -> "id >= 0"))
    assert(vt.generatedCols == Map("y" -> "id * 2"))
    assert(vt.copiedFiles == Set("/tmp/graft-golden/src/" +
      "part-00000-a101aa85-a380-4aae-a8c7-ab5668aac6fb-c000.snappy.parquet"))
    // only the two entries after the checkpoint were opened
    assert(vt.logReads == 2)
  }
}

/** Builds the table whose log backs [[GoldenCheckpointSpec]]: every kind of
  * replayed state (live dirs, tombstones, txn watermarks, constraints,
  * properties, the COPY INTO ledger, generated columns, a rename, a dropped
  * column, ANALYZE stats) is set before the version-12 checkpoint, and two
  * commits follow it.
  *
  * Run: `sbt "Test/runMain graft.GoldenCheckpointFixture /tmp/graft-golden"`,
  * then copy every `vNNNNN.log` and `v00012.checkpoint` out of
  * `/tmp/graft-golden/t/_log` (the COPY INTO ledger records the source
  * path, which the spec asserts).
  */
object GoldenCheckpointFixture {
  val CheckpointVersion = 12

  def main(args: Array[String]): Unit = {
    val spark = SparkSpec.spark
    import spark.implicits._
    val root = args(0)
    val vt = VersionedTable(spark, s"$root/t", Seq("id"), Seq("p"),
      checkpointInterval = CheckpointVersion, statsCols = Seq("id"))
    def rows(ids: Range) =
      ids.map(i => (i, i % 2, s"x$i", i * 2, s"z$i")).toDF("id", "p", "x", "y", "z")
    vt.overwrite(rows(0 until 10), Some(("etl", 1L)))                     // v1
    vt.append(rows(10 until 14))                                         // v2
    vt.addConstraint("id_nonneg", "id >= 0")                             // v3
    vt.addGeneratedColumn("y", "id * 2")                                 // v4
    vt.setProperties(Map("owner" -> "ops team", "tier" -> "gold"))       // v5
    vt.renameColumn("x", "label")                                        // v6
    vt.dropColumn("z")                                                   // v7
    vt.merge(Seq((20, 0, "m20", 40)).toDF("id", "p", "label", "y"),
      txn = Some(("etl", 2L)))                                           // v8
    val src = s"$root/src"
    Seq((30, 1, "c30", 60), (31, 1, "c31", 62)).toDF("id", "p", "label", "y")
      .coalesce(1).write.parquet(src)
    vt.copyFrom(src)                                                     // v9
    vt.deleteMor(col("id") === 3)                                        // v10
    vt.analyzeColumns(Seq("y"))                                          // v11
    vt.unsetProperties(Seq("tier"))                                      // v12
    vt.setProperties(Map("after" -> "checkpoint"))                       // v13
    vt.append(rows(40 until 42).drop("z").withColumnRenamed("x", "label")) // v14
    println(s"version=${vt.currentVersion}")
    println(s"properties=${vt.properties}")
    println(s"constraints=${vt.constraints}")
    println(s"generatedCols=${vt.generatedCols}")
    println(s"copiedFiles=${vt.copiedFiles}")
    spark.stop()
  }
}
