package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.lake.{VersionedTable, ZOrder}

/** Every version is read back under the schema it recorded, so a writer
  * must stage exactly the recorded types, and a writer that keeps
  * the schema must record it unchanged: the same bytes, not a re-render
  * of a read frame (read frames are all-nullable).
  */
class RecordedSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def schemaLine(t: VersionedTable, v: Int): String =
    Files.readAllLines(Paths.get(t.path, "_log", f"v$v%05d.log")).asScala
      .find(_.startsWith("schema=")).get

  test("update casts each assigned value to its column's recorded type, " +
      "so the table still reads") {
    val t = VersionedTable(spark, tmpDir("rs_upd") + "/t", Seq("id"), Seq("p"))
    t.overwrite(Seq((1, "a", 7, "10.00"), (2, "a", 8, "20.50"), (3, "b", 9, "1.25"))
      .toDF("id", "p", "qty", "amt")
      .withColumn("amt", col("amt").cast("decimal(10,2)")))                 // v1
    // a bigint literal too large for an int column is refused, by UPDATE
    // and by MERGE INTO alike, naming the column (no silent wrap)
    val e = intercept[Exception](
      t.update(col("id") === 1, Map("qty" -> lit(5000000000L))))
    assert(e.getMessage.contains("'qty'"))
    val e2 = intercept[Exception](
      t.mergeInto(Seq((1, "a", 5000000000L)).toDF("id", "p", "qty"))
        .whenMatched().updateAll().execute())
    assert(e2.getMessage.contains("'qty'"))
    assert(t.currentVersion == 1)
    // a double product into a decimal
    assert(t.update(col("p") === "a", Map("amt" -> col("amt") * 1.1)))     // v2
    val types = t.read.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("qty") == "int" && types("amt") == "decimal(10,2)")
    val expected = t.readVersion(1)
      .select(col("id"), col("qty"),
        when(col("p") === "a", col("amt") * 1.1).otherwise(col("amt"))
          .cast("decimal(10,2)"))
      .as[(Int, Int, java.math.BigDecimal)].collect().toSet
    val got = t.read.select("id", "qty", "amt")
      .as[(Int, Int, java.math.BigDecimal)].collect().toSet
    assert(got == expected)
    assert(got.exists(_._3.compareTo(new java.math.BigDecimal("11.00")) == 0))
    assert(schemaLine(t, 2) == schemaLine(t, 1))
  }

  test("an assignment only the non-ANSI cast rules allow casts as the " +
      "session does; one whose cast is NULL is refused") {
    val t = VersionedTable(spark, tmpDir("rs_legacy") + "/t", Seq("id"), Seq("p"))
    t.overwrite(Seq((1, "a", 7), (2, "a", 8)).toDF("id", "p", "qty")
      .withColumn("ts", lit(null).cast("timestamp")))                       // v1
    // boolean → timestamp is not an ANSI cast; int → timestamp is
    assert(t.update(col("id") === 1, Map("ts" -> lit(true))))              // v2
    assert(t.update(col("id") === 2, Map("ts" -> lit(5))))                 // v3
    assert(t.read.select(col("id"), unix_micros(col("ts"))).as[(Int, Long)]
      .collect().toSet == Set((1, 1L), (2, 5000000L)))
    // MERGE INTO casts a clause value before its clauses combine
    t.mergeInto(Seq((2, "a")).toDF("id", "p"))
      .whenMatched().update(Map("ts" -> lit(true))).execute()              // v4
    assert(t.read.select(col("id"), unix_micros(col("ts"))).as[(Int, Long)]
      .collect().toSet == Set((1, 1L), (2, 1L)))
    // date → int is NULL under the non-ANSI cast: refused, not nulled
    val e = intercept[Exception](
      t.update(col("id") === 1, Map("qty" -> current_date())))
    assert(e.getMessage.contains("cannot be stored in column 'qty'"))
    assert(t.currentVersion == 4)
  }

  test("merge stores a batch value under its recorded type unless the " +
      "type widens, so every partition still reads") {
    val t = VersionedTable(spark, tmpDir("rs_merge") + "/t", Seq("id"), Seq("p"))
    t.overwrite(Seq((1, "a", 7, "10.00"), (2, "b", 8, "20.50"))
      .toDF("id", "p", "qty", "amt")
      .withColumn("amt", col("amt").cast("decimal(10,2)")))                 // v1
    // string into int and double into decimal(10,2), into partition a only
    t.merge(Seq((1, "a", "70", 11.0)).toDF("id", "p", "qty", "amt"))       // v2
    assert(schemaLine(t, 2) == schemaLine(t, 1))
    assert(t.read.select("id", "qty", "amt").as[(Int, Int, java.math.BigDecimal)]
      .collect().toSet == Set((1, 70, new java.math.BigDecimal("11.00")),
        (2, 8, new java.math.BigDecimal("20.50"))))
    // a value the recorded type cannot hold is refused, naming the column
    val e = intercept[Exception](
      t.merge(Seq((2, "b", "many")).toDF("id", "p", "qty")))
    assert(e.getMessage.contains("'qty'"))
    assert(t.currentVersion == 2)
    // int → long widens the table: partition b's int files read as long
    t.merge(Seq((1, "a", 5000000000L)).toDF("id", "p", "qty"))             // v3
    assert(t.read.schema("qty").dataType.simpleString == "bigint")
    assert(t.read.select("id", "qty").as[(Int, Long)].collect().toSet ==
      Set((1, 5000000000L), (2, 8L)))
  }

  test("writers that keep the schema record v1's schema line byte for byte") {
    val t = VersionedTable(spark, tmpDir("rs_keep") + "/t", Seq("id"), Seq("p"))
    // primitive tuple fields are non-nullable: v1 records nullable:false
    t.overwrite(Seq((1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40), (5, "c", 50))
      .toDF("id", "p", "x"))                                                // v1
    val v1 = schemaLine(t, 1)
    assert(v1.contains("\"nullable\":false"))
    var v = 1
    def kept(what: String): Unit = {
      v += 1
      assert(t.currentVersion == v, s"$what committed no version")
      assert(schemaLine(t, v) == v1, s"$what (v$v) re-rendered the schema")
    }
    assert(t.delete(col("id") === 2)); kept("delete")
    assert(t.deleteMor(col("id") === 3)); kept("deleteMor")
    assert(t.update(col("id") === 1, Map("x" -> lit(11)))); kept("update")
    t.replaceWhere(col("p") === "c", Seq((5, "c", 55)).toDF("id", "p", "x"))
    kept("replaceWhere")
    t.reorgPurge(); kept("reorgPurge")
    t.mergeInto(Seq((4, "b", 44)).toDF("id", "p", "x"))
      .whenMatched().updateAll().execute()
    kept("MERGE INTO")
    t.merge(Seq((4, "b", 45)).toDF("id", "p", "x")); kept("merge")
    t.compactWhere(col("p") === "a"); kept("compactWhere")
    t.compact(); kept("compact")
    assert(t.read.select("id", "p", "x").as[(Int, String, Int)].collect().toSet ==
      Set((1, "a", 11), (4, "b", 45), (5, "c", 55)))

    val grid = (0 until 16).map(i => (i, i % 4, i / 4)).toDF("id", "x", "y")
    val z = VersionedTable(spark, tmpDir("rs_z") + "/t", Seq("id"), Seq("zb"))
    z.overwrite(ZOrder.withZBucket(grid, Seq("x", "y")))                   // v1
    z.zorderBy(Seq("y", "x"))                                              // v2
    assert(schemaLine(z, 2) == schemaLine(z, 1))
    assert(z.read.count() == 16)
  }
}
