package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.etl.Scd2

/** SCD Type-2 change application: close+open on real changes, null-safe
  * no-op detection, unseen-key opens, and idempotence of a replayed batch.
  */
class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private def dim(rows: (Int, String, String, Option[String], Boolean)*): DataFrame =
    rows.toDF("id", "attr", "valid_from", "valid_to", "is_current")

  private def snap(d: DataFrame): Set[(Int, String, String, Option[String], Boolean)] =
    d.select("id", "attr", "valid_from", "valid_to", "is_current")
      .as[(Int, String, String, Option[String], Boolean)].collect().toSet

  private val t0 = dim(
    (1, "a", "d1", None, true),
    (2, "b", "d1", None, true),
    (3, null, "d1", None, true),
    (4, "old", "d0", Some("d1"), false), // closed history row
    (4, "new", "d1", None, true))

  test("changed attrs close + open; equal (incl. null=null) attrs no-op; new keys open") {
    val changes = Seq(
      (1, "a2"),           // real change
      (2, "b"),            // no-op: equal value
      (3, null),           // no-op: null <=> null
      (9, "fresh"))        // unseen key
      .toDF("id", "attr")
    val out = Scd2.applyChanges(t0, changes, Seq("id"), Seq("attr"), lit("d2"))
    assert(snap(out) == Set(
      (1, "a", "d1", Some("d2"), false),
      (1, "a2", "d2", None, true),
      (2, "b", "d1", None, true),
      (3, null, "d1", None, true),
      (4, "old", "d0", Some("d1"), false),
      (4, "new", "d1", None, true),
      (9, "fresh", "d2", None, true)))
  }

  test("replaying the same change batch is a no-op (every change now equals current)") {
    val changes = Seq((1, "a2"), (9, "fresh")).toDF("id", "attr")
    val once = Scd2.applyChanges(t0, changes, Seq("id"), Seq("attr"), lit("d2"))
    val twice = Scd2.applyChanges(once, changes, Seq("id"), Seq("attr"), lit("d3"))
    assert(snap(twice) == snap(once))
  }

  test("a null-to-value change on a tracked column is detected") {
    val out = Scd2.applyChanges(t0, Seq((3, "filled")).toDF("id", "attr"),
      Seq("id"), Seq("attr"), lit("d2"))
    assert(snap(out).contains((3, null, "d1", Some("d2"), false)))
    assert(snap(out).contains((3, "filled", "d2", None, true)))
  }
}
