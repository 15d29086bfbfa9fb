package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.lake.{GraftSql, VersionedTable}

/** ALTER COLUMN … TYPE as a metadata-only lossless widen (Delta's type
  * widening): the recorded schema changes, no file is rewritten —
  * pre-widen files keep the narrow physical type and upcast at read,
  * writes after the widen carry the wide type, time travel reads each
  * era under its own type, restore resurrects the narrow one, and clones
  * carry the widened schema. The 100 TB shape: an int key about to
  * overflow must not force a table rewrite.
  */
class WidenColumnSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: (Int, Int, String)*): DataFrame =
    rows.toDF("id", "amount", "part")

  private def dataFiles(path: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$path/data")).map(_.getPath)
      .filter(_.endsWith(".parquet")).toSet
  }

  test("widen is metadata-only; old files upcast at read, new writes " +
      "carry the wide type, time travel is era-correct") {
    val path = tmpDir("wc1") + "/t"
    val t = VersionedTable(spark, path, Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1"), (2, 20, "p2")))          // v1: amount INT
    val before = dataFiles(path)
    t.alterColumnType("amount", LongType)                  // v2: metadata only
    assert(dataFiles(path) == before, "widen must not touch data files")
    assert(t.read.schema("amount").dataType == LongType)
    assert(t.read.select("id", "amount").as[(Int, Long)].collect().toSet ==
      Set((1, 10L), (2, 20L)))
    // pre-widen era still reads the NARROW type
    assert(t.readVersion(1).schema("amount").dataType == IntegerType)
    // a post-widen write stores a value an int cannot hold
    t.merge(Seq((3, 5_000_000_000L, "p1")).toDF("id", "amount", "part")) // v3
    assert(t.read.filter(col("id") === 3)
      .select("amount").as[Long].head() == 5_000_000_000L)
    // old int files and new long files mix in one read
    assert(t.read.count() == 3)
  }

  test("the PK column itself widens — the int-id-overflow shape — and " +
      "merges keep resolving on it") {
    val t = VersionedTable(spark, tmpDir("wc2") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1"), (2, 20, "p1")))          // v1: id INT
    t.alterColumnType("id", LongType)                      // v2
    t.merge(Seq((2L, 99, "p1"), (6_000_000_000L, 7, "p1"))
      .toDF("id", "amount", "part"))                       // v3: upsert + big key
    val m = t.read.select("id", "amount").as[(Long, Int)].collect().toMap
    assert(m == Map(1L -> 10, 2L -> 99, 6_000_000_000L -> 7))
  }

  test("restore to a pre-widen version resurrects the narrow type; " +
      "clones and checkpoint replay carry the widened schema") {
    val path = tmpDir("wc3") + "/t"
    // interval 2: the widened schema must round-trip a checkpoint
    val t = VersionedTable(spark, path, Seq("id"), Seq("part"),
      checkpointInterval = 2)
    t.overwrite(df((1, 10, "p1")))                         // v1
    t.alterColumnType("amount", LongType)                  // v2 (checkpointed)
    assert(t.read.schema("amount").dataType == LongType)
    val c = t.cloneTo(tmpDir("wc3c") + "/c")
    assert(c.read.schema("amount").dataType == LongType,
      "a shallow clone must carry the widened schema")
    val fresh = VersionedTable(spark, path, Seq("id"), Seq("part"),
      checkpointInterval = 2)
    assert(fresh.read.schema("amount").dataType == LongType)
    t.restore(1)                                           // v3
    assert(t.read.schema("amount").dataType == IntegerType,
      "restore must resurrect the pre-widen type")
    assert(t.read.select("amount").as[Int].head() == 10)
  }

  test("restore across a metadata-only ADD COLUMN re-narrows the schema " +
      "(the restore early-return must compare schemas, not just dirs)") {
    val t = VersionedTable(spark, tmpDir("wc6") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1")))                         // v1
    t.addColumn("note", StringType)                        // v2: no dir change
    assert(t.read.columns.contains("note"))
    t.restore(1)                                           // v3
    assert(!t.read.columns.contains("note"),
      "restore must re-record v1's schema even when no data dir changed")
  }

  test("narrowing, unknown columns, partition columns, and non-lossless " +
      "relabelings are refused; float→double is accepted") {
    val t = VersionedTable(spark, tmpDir("wc4") + "/t", Seq("id"), Seq("part"))
    t.overwrite(Seq((1, 1.5f, "p1")).toDF("id", "ratio", "part"))
    t.alterColumnType("ratio", DoubleType)                 // v2
    assert(t.read.schema("ratio").dataType == DoubleType)
    assert(t.read.select("ratio").as[Double].head() == 1.5)
    val eNarrow = intercept[Exception](t.alterColumnType("ratio", FloatType))
    assert(eNarrow.getMessage.contains("only widens"))
    val eStr = intercept[Exception](t.alterColumnType("id", StringType))
    assert(eStr.getMessage.contains("only widens"))
    intercept[Exception](t.alterColumnType("nope", LongType))
    val ePart = intercept[Exception](t.alterColumnType("part", StringType))
    assert(ePart.getMessage.contains("partition"))
    // idempotent: re-widening to the current type is a no-op, no commit
    val v = t.currentVersion
    t.alterColumnType("ratio", DoubleType)
    assert(t.currentVersion == v)
  }

  test("ALTER TABLE … ALTER COLUMN … TYPE dispatches from SQL; SET " +
      "LOCATION stays refused") {
    val t = VersionedTable(spark, tmpDir("wc5") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1")))
    GraftSql.register(spark, "wc5_t", t)
    val r = GraftSql.run(spark,
      "ALTER TABLE wc5_t ALTER COLUMN amount TYPE BIGINT")
    assert(r.as[(String, String, Long)].head() == ("alter column type", "wc5_t", 2L))
    assert(GraftSql.run(spark, "SELECT * FROM wc5_t")
      .schema("amount").dataType == LongType)
    // era-correct through the SQL surface too
    assert(GraftSql.run(spark, "SELECT amount FROM wc5_t VERSION AS OF 1")
      .schema("amount").dataType == IntegerType)
    // every single-form ALTER COLUMN is supported since round 12; the
    // near-miss is SET LOCATION (no place in the external-storage model)
    val e = intercept[Exception](GraftSql.run(spark,
      "ALTER TABLE wc5_t SET LOCATION '/tmp/elsewhere'"))
    assert(e.getMessage.contains("unsupported ALTER"))
    val e2 = intercept[Exception](GraftSql.run(spark,
      "ALTER TABLE wc5_t ALTER COLUMN amount TYPE INT"))
    assert(e2.getMessage.contains("only widens"))
    GraftSql.run(spark, "DROP TABLE wc5_t")
  }
}
