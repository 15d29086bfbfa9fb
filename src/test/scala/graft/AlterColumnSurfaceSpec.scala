package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct}

import graft.lake.{GraftSql, VersionedTable}

/** The round-12 ALTER breadth (VERDICT r11 directive #7): ALTER COLUMN …
  * COMMENT, ALTER COLUMN … FIRST/AFTER, ADD COLUMN … FIRST/AFTER, and
  * nested-struct ADD COLUMN — all metadata-only commits (no file is
  * touched), era-correct under time travel.
  */
class AlterColumnSurfaceSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: (Int, Int, String)*): DataFrame =
    rows.toDF("id", "amount", "part")

  test("ALTER COLUMN COMMENT commits metadata, DESCRIBE surfaces it, and " +
      "the comment follows a RENAME and retires with a DROP") {
    val t = VersionedTable(spark, tmpDir("cmt") + "/t", Seq("id"))
    t.overwrite(df((1, 10, "a")))
    GraftSql.register(spark, "cmt_t", t)
    GraftSql.run(spark,
      "ALTER TABLE cmt_t ALTER COLUMN amount COMMENT 'gross in cents'")
    assert(t.columnComments == Map("amount" -> "gross in cents"))
    // DESCRIBE on the registered view carries the comment as field metadata
    val desc = spark.sql("DESCRIBE TABLE cmt_t").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(desc("amount") == "gross in cents")
    // comments are engine metadata, never user TBLPROPERTIES
    assert(!t.properties.keys.exists(_.toLowerCase.contains("comment")))
    GraftSql.run(spark, "ALTER TABLE cmt_t RENAME COLUMN amount TO gross")
    assert(t.columnComments == Map("gross" -> "gross in cents"),
      "the comment must follow the rename")
    GraftSql.run(spark, "ALTER TABLE cmt_t DROP COLUMN gross")
    assert(t.columnComments.isEmpty, "the comment must retire with the drop")
    GraftSql.run(spark, "DROP TABLE cmt_t")
  }

  test("ALTER COLUMN FIRST/AFTER reorders the recorded schema only — " +
      "values survive, no data file is touched, time travel keeps the " +
      "old order") {
    val path = tmpDir("pos") + "/t"
    val t = VersionedTable(spark, path, Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "a"), (2, 20, "b")))                   // v1
    GraftSql.register(spark, "pos_t", t)
    def files(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$path/data")).map(_.getPath)
        .filter(_.endsWith(".parquet")).toSet
    }
    val before = files()
    GraftSql.run(spark, "ALTER TABLE pos_t ALTER COLUMN amount FIRST") // v2
    assert(files() == before, "reorder must not touch data files")
    assert(t.read.columns.toSeq == Seq("amount", "id", "part"))
    GraftSql.run(spark, "ALTER TABLE pos_t ALTER COLUMN amount AFTER part") // v3
    assert(t.read.columns.toSeq == Seq("id", "part", "amount"))
    // values unharmed through both moves
    assert(t.read.select("id", "amount").as[(Int, Int)].collect().toSet ==
      Set((1, 10), (2, 20)))
    // era-correct: v1 still reads in its declared order
    assert(t.readVersion(1).columns.toSeq == Seq("id", "amount", "part"))
    // SELECT * through SQL follows the new order
    assert(GraftSql.run(spark, "SELECT * FROM pos_t WHERE id = 1")
      .columns.toSeq == Seq("id", "part", "amount"))
    GraftSql.run(spark, "DROP TABLE pos_t")
  }

  test("ADD COLUMN FIRST / AFTER places the new column; existing rows " +
      "read NULL in it") {
    val t = VersionedTable(spark, tmpDir("addpos") + "/t", Seq("id"))
    t.overwrite(df((1, 10, "a")))
    GraftSql.register(spark, "addpos_t", t)
    GraftSql.run(spark, "ALTER TABLE addpos_t ADD COLUMN flag BOOLEAN FIRST")
    assert(t.read.columns.toSeq == Seq("flag", "id", "amount", "part"))
    GraftSql.run(spark,
      "ALTER TABLE addpos_t ADD COLUMN score DOUBLE AFTER id")
    assert(t.read.columns.toSeq == Seq("flag", "id", "score", "amount", "part"))
    val r = t.read.filter(col("id") === 1).collect().head
    assert(r.isNullAt(0) && r.isNullAt(2), "existing rows null-fill")
    GraftSql.run(spark, "DROP TABLE addpos_t")
  }

  test("round-12 metadata rides clone and rolls back on restore: comments, " +
      "NOT NULL, and field order are versioned state") {
    val t = VersionedTable(spark, tmpDir("mdcr") + "/t", Seq("id"))
    t.overwrite(df((1, 10, "a")))                                    // v1
    t.setColumnComment("amount", Some("gross"))                      // v2
    t.setNotNull("amount")                                           // v3
    t.moveColumn("amount", None)                                     // v4
    assert(t.read.columns.head == "amount")
    // a clone carries all three (the property map and schema travel)
    val c = t.cloneTo(tmpDir("mdcr") + "/clone")
    assert(c.columnComments == Map("amount" -> "gross"))
    assert(c.notNullCols == Set("amount"))
    assert(c.read.columns.head == "amount")
    intercept[graft.lake.ConstraintViolationException](
      c.merge(Seq((2, "b")).toDF("id", "part")))
    // restore to v1 rolls all three back…
    t.restore(1)
    assert(t.columnComments.isEmpty && t.notNullCols.isEmpty)
    assert(t.read.columns.toSeq == Seq("id", "amount", "part"))
    t.merge(Seq((3, "c")).toDF("id", "part")) // null amount allowed again
    // …while the clone keeps its snapshot untouched
    assert(c.notNullCols == Set("amount"))
  }

  test("nested ADD COLUMN widens a struct: old files read the new field " +
      "as NULL, new writes carry it, non-struct parents refuse") {
    val t = VersionedTable(spark, tmpDir("nst") + "/t", Seq("id"))
    t.overwrite(Seq((1, 10, "x")).toDF("id", "n", "tag")
      .select(col("id"), struct(col("n"), col("tag")).as("meta")))  // v1
    GraftSql.register(spark, "nst_t", t)
    GraftSql.run(spark, "ALTER TABLE nst_t ADD COLUMN meta.score DOUBLE") // v2
    // the recorded struct widened; the old row's new field is NULL
    val r1 = t.read.select("id", "meta.n", "meta.tag", "meta.score").collect().head
    assert(r1.getInt(1) == 10 && r1.getString(2) == "x" && r1.isNullAt(3))
    // a write AFTER the widen carries the field; both eras read together
    t.merge(Seq((2, 20, "y", 0.5)).toDF("id", "n", "tag", "score")
      .select(col("id"),
        struct(col("n"), col("tag"), col("score")).as("meta")))     // v3
    val all = t.read.select(col("id"), col("meta.score"))
      .as[(Int, Option[Double])].collect().toMap
    assert(all == Map(1 -> None, 2 -> Some(0.5)))
    // era-correct: v1's struct has no score field
    assert(!t.readVersion(1).select("meta.*").columns.contains("score"))
    val e = intercept[Exception](
      GraftSql.run(spark, "ALTER TABLE nst_t ADD COLUMN id.sub INT"))
    assert(e.getMessage.contains("not a struct"))
    GraftSql.run(spark, "DROP TABLE nst_t")
  }
}
