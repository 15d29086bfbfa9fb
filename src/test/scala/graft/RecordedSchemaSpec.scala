package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.lake.{VersionedTable, ZOrder}

/** Every write root is read back under the schema its commit recorded, so
  * a writer must stage exactly the recorded types, and a writer that keeps
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
    // a bigint literal into an int column, a double product into a decimal
    assert(t.update(col("id") === 1, Map("qty" -> lit(5000000000L))))       // v2
    assert(t.update(col("p") === "a", Map("amt" -> col("amt") * 1.1)))     // v3
    val types = t.read.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("qty") == "int" && types("amt") == "decimal(10,2)")
    val expected = t.readVersion(1)
      .select(col("id"),
        when(col("id") === 1, lit(5000000000L)).otherwise(col("qty")).cast("int"),
        when(col("p") === "a", col("amt") * 1.1).otherwise(col("amt"))
          .cast("decimal(10,2)"))
      .as[(Int, Int, java.math.BigDecimal)].collect().toSet
    val got = t.read.select("id", "qty", "amt")
      .as[(Int, Int, java.math.BigDecimal)].collect().toSet
    assert(got == expected)
    assert(got.exists(_._3.compareTo(new java.math.BigDecimal("11.00")) == 0))
    assert(schemaLine(t, 3) == schemaLine(t, 1))
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
    t.compactWhere(col("p") === "a"); kept("compactWhere")
    t.compact(); kept("compact")
    assert(t.read.select("id", "p", "x").as[(Int, String, Int)].collect().toSet ==
      Set((1, "a", 11), (4, "b", 44), (5, "c", 55)))

    val grid = (0 until 16).map(i => (i, i % 4, i / 4)).toDF("id", "x", "y")
    val z = VersionedTable(spark, tmpDir("rs_z") + "/t", Seq("id"), Seq("zb"))
    z.overwrite(ZOrder.withZBucket(grid, Seq("x", "y")))                   // v1
    z.zorderBy(Seq("y", "x"))                                              // v2
    assert(schemaLine(z, 2) == schemaLine(z, 1))
    assert(z.read.count() == 16)
  }
}
