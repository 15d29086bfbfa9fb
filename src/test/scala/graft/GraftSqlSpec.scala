package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.lake.{GraftSql, VersionedTable}

/** SQL DML dispatch onto the versioned table: UPDATE/DELETE/MERGE INTO
  * parsed by Spark's parser, honored by the table API, refused when the
  * statement's semantics aren't exactly what merge/update/delete implement.
  */
class GraftSqlSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: (Int, Int, String)*): DataFrame =
    rows.toDF("id", "amount", "part")

  private def contents(t: VersionedTable): Set[(Int, Int, String)] =
    t.read.select("id", "amount", "part").as[(Int, Int, String)].collect().toSet

  test("UPDATE, DELETE and MERGE INTO run from SQL text and version the table") {
    val t = VersionedTable(spark, tmpDir("gsql") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1"), (2, 20, "p1"), (3, 30, "p2")))        // v1
    GraftSql.register(spark, "gsql_t", t)

    val r1 = GraftSql.run(spark, "UPDATE gsql_t SET amount = amount + 5 WHERE part = 'p1'")
    assert(r1.as[(String, String, Long)].head() == ("update", "gsql_t", 2L))
    assert(contents(t) == Set((1, 15, "p1"), (2, 25, "p1"), (3, 30, "p2")))

    GraftSql.run(spark, "DELETE FROM gsql_t WHERE id = 2")               // v3
    assert(contents(t) == Set((1, 15, "p1"), (3, 30, "p2")))

    Seq((3, 99, "p2"), (4, 40, "p3")).toDF("id", "amount", "part")
      .createOrReplaceTempView("gsql_src")
    val r3 = GraftSql.run(spark,
      """MERGE INTO gsql_t USING gsql_src ON gsql_t.id = gsql_src.id
         WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(r3.as[(String, String, Long)].head() == ("merge", "gsql_t", 4L))
    assert(contents(t) == Set((1, 15, "p1"), (3, 99, "p2"), (4, 40, "p3")))

    // the registered view tracks the mutations — reads mix in via run()
    val n = GraftSql.run(spark, "SELECT count(*) AS n FROM gsql_t").as[Long].head()
    assert(n == 3L)
    // full history retained
    assert(t.history.map(_._2) == Seq("overwrite", "update", "delete", "merge"))
    assert(contents(t.copy()) == contents(t)) // replays cleanly
    assert(t.readVersion(1).count() == 3)
  }

  test("conditional, column-level and by-source MERGE clauses run from SQL") {
    val t = VersionedTable(spark, tmpDir("gsql2") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1"), (2, 20, "p1"), (3, 30, "p2"), (4, 40, "p2")))
    GraftSql.register(spark, "gsql2_t", t)
    Seq((1, 100, "p1"), (2, 5, "p1"), (9, 90, "p2")).toDF("id", "amount", "part")
      .createOrReplaceTempView("gsql2_src")
    GraftSql.run(spark,
      """MERGE INTO gsql2_t AS t USING gsql2_src AS s ON t.id = s.id
         WHEN MATCHED AND s.amount > t.amount THEN UPDATE SET amount = s.amount
         WHEN MATCHED THEN DELETE
         WHEN NOT MATCHED THEN INSERT (id, amount, part) VALUES (s.id, s.amount, s.part)
         WHEN NOT MATCHED BY SOURCE AND t.amount >= 40 THEN DELETE""")
    // 1 updated (100>10), 2 deleted (5>20 false), 9 inserted,
    // 3 kept (no by-source clause claims it), 4 deleted by source (>=40)
    assert(contents(t) == Set((1, 100, "p1"), (3, 30, "p2"), (9, 90, "p2")))
  }

  test("a MERGE whose ON is not exactly the primary-key equality is refused") {
    val t = VersionedTable(spark, tmpDir("gsql3") + "/t", Seq("id"))
    t.overwrite(df((1, 10, "p1")))
    GraftSql.register(spark, "gsql3_t", t)
    Seq((1, 11, "p1")).toDF("id", "amount", "part")
      .createOrReplaceTempView("gsql3_src")
    // ON not covering the pk
    val e1 = intercept[IllegalArgumentException](GraftSql.run(spark,
      """MERGE INTO gsql3_t USING gsql3_src ON gsql3_t.amount = gsql3_src.amount
         WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"""))
    assert(e1.getMessage.contains("primary-key"))
    // extra non-equality conjunct: would be silently dropped → refused
    val e2 = intercept[RuntimeException](GraftSql.run(spark,
      """MERGE INTO gsql3_t USING gsql3_src
         ON gsql3_t.id = gsql3_src.id AND gsql3_src.amount > 5
         WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"""))
    assert(e2.getMessage.contains("conjunction"))
    assert(t.currentVersion == 1) // nothing committed
  }

  test("UPDATE resolves assignment columns case-insensitively; unknown columns are refused") {
    val t = VersionedTable(spark, tmpDir("gsql4") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1")))
    GraftSql.register(spark, "gsql4_t", t)
    GraftSql.run(spark, "UPDATE gsql4_t SET AMOUNT = amount + 5 WHERE id = 1")
    assert(contents(t) == Set((1, 15, "p1")))
    // a differently-cased partition column still hits the guard
    val e1 = intercept[IllegalArgumentException](
      GraftSql.run(spark, "UPDATE gsql4_t SET PART = 'p9' WHERE id = 1"))
    assert(e1.getMessage.contains("partition"))
    // an unknown column never silently no-ops
    val e2 = intercept[RuntimeException](
      GraftSql.run(spark, "UPDATE gsql4_t SET nosuch = 1 WHERE id = 1"))
    assert(e2.getMessage.contains("unknown column"))
  }

  test("clause conditions may reference source-only columns (CDC op discriminator)") {
    val t = VersionedTable(spark, tmpDir("gsql5") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1"), (2, 20, "p1")))
    GraftSql.register(spark, "gsql5_t", t)
    Seq((1, 11, "p1", "U"), (2, 0, "p1", "D"), (3, 30, "p1", "I"))
      .toDF("id", "amount", "part", "op").createOrReplaceTempView("gsql5_src")
    GraftSql.run(spark,
      """MERGE INTO gsql5_t AS t USING gsql5_src AS s ON t.id = s.id
         WHEN MATCHED AND s.op = 'D' THEN DELETE
         WHEN MATCHED THEN UPDATE SET amount = s.amount
         WHEN NOT MATCHED AND s.op = 'I' THEN INSERT (id, amount, part) VALUES (s.id, s.amount, s.part)""")
    assert(contents(t) == Set((1, 11, "p1"), (3, 30, "p1")))
  }

  test("DESCRIBE HISTORY carries commit-time operation metrics: data " +
      "commits record numFiles/numOutputRows from their own staged dirs, " +
      "metadata-only commits record NULL") {
    val t = VersionedTable(spark, tmpDir("gsqlm") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1"), (2, 20, "p2")))          // v1: 2 rows
    GraftSql.register(spark, "gsqlm_t", t)
    GraftSql.run(spark, "UPDATE gsqlm_t SET amount = 99 WHERE id = 1") // v2
    GraftSql.run(spark,
      "ALTER TABLE gsqlm_t SET TBLPROPERTIES ('m.note'='x')")          // v3
    val h = GraftSql.run(spark, "DESCRIBE HISTORY gsqlm_t")
      .select("version", "action", "num_files", "num_output_rows")
      .as[(Int, String, Option[Long], Option[Long])].collect().sortBy(_._1)
    assert(h(0)._2 == "overwrite" && h(0)._3.exists(_ > 0) &&
      h(0)._4.contains(2L))
    // the update restages only p1 (one row rewritten)
    assert(h(1)._2 == "update" && h(1)._4.contains(1L))
    // metadata-only commit: no dirs staged, metrics NULL — never zero,
    // which would claim an empty write happened
    assert(h(2)._2 == "setproperties" && h(2)._3.isEmpty && h(2)._4.isEmpty)
    GraftSql.unregister(spark, "gsqlm_t")
  }

  test("SQL time travel and DESCRIBE HISTORY resolve against the table") {
    val t = VersionedTable(spark, tmpDir("gsql6") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1")))                       // v1
    GraftSql.register(spark, "gsql6_t", t)
    GraftSql.run(spark, "UPDATE gsql6_t SET amount = 99 WHERE id = 1") // v2
    // VERSION AS OF reads the old state; the plain view reads the new one
    assert(GraftSql.run(spark,
      "SELECT amount FROM gsql6_t VERSION AS OF 1").as[Int].head() == 10)
    assert(GraftSql.run(spark,
      "SELECT amount FROM gsql6_t").as[Int].head() == 99)
    // TIMESTAMP AS OF through the in-commit timestamps
    val h = GraftSql.run(spark, "DESCRIBE HISTORY gsql6_t")
      .select("version", "action", "commit_ts")
      .as[(Int, String, Long)].collect().sortBy(_._1)
    assert(h.map(_._2).toSeq == Seq("overwrite", "update"))
    assert(h(0)._3 < h(1)._3)
    val tsv1 = new java.sql.Timestamp(h(0)._3).toString
    assert(GraftSql.run(spark,
      s"SELECT amount FROM gsql6_t TIMESTAMP AS OF '$tsv1'").as[Int].head() == 10)
    // time-travel relations compose inside bigger statements
    assert(GraftSql.run(spark,
      """SELECT a.amount AS old, b.amount AS new
         FROM gsql6_t VERSION AS OF 1 a JOIN gsql6_t VERSION AS OF 2 b
         ON a.id = b.id""").as[(Int, Int)].head() == ((10, 99)))
    // …and as a MERGE source, still dispatching to the table API
    GraftSql.run(spark,
      """MERGE INTO gsql6_t USING (SELECT * FROM gsql6_t VERSION AS OF 1) s
         ON gsql6_t.id = s.id
         WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(GraftSql.run(spark,
      "SELECT amount FROM gsql6_t").as[Int].head() == 10) // rolled back via merge
    assert(t.history.last._2 == "merge")
  }

  test("registrations are session-scoped: a second session's same-named " +
      "table never receives this session's DML") {
    val tA = VersionedTable(spark, tmpDir("gsql7a") + "/t", Seq("id"), Seq("part"))
    tA.overwrite(df((1, 10, "p1")))
    GraftSql.register(spark, "gsql7_t", tA)

    val spark2 = spark.newSession()
    val tB = VersionedTable(spark2, tmpDir("gsql7b") + "/t", Seq("id"), Seq("part"))
    tB.overwrite(df((1, 100, "p1")))
    GraftSql.register(spark2, "gsql7_t", tB)

    // DML in session 2 mutates ONLY tB; tA is untouched
    GraftSql.run(spark2, "UPDATE gsql7_t SET amount = amount + 1")
    assert(contents(tB) == Set((1, 101, "p1")))
    assert(contents(tA) == Set((1, 10, "p1")))
    // and each session's read sees its own table
    assert(GraftSql.run(spark, "SELECT amount FROM gsql7_t").as[Int].head() == 10)
    assert(GraftSql.run(spark2, "SELECT amount FROM gsql7_t").as[Int].head() == 101)

    // unregister removes dispatch and the view for THAT session only
    GraftSql.unregister(spark2, "gsql7_t")
    intercept[Exception](
      GraftSql.run(spark2, "SELECT amount FROM gsql7_t").collect())
    assert(GraftSql.run(spark, "SELECT amount FROM gsql7_t").as[Int].head() == 10)
  }

  test("CREATE TABLE … USING graft / INSERT INTO / DROP / re-CREATE: the " +
      "SQL boundary needs zero client code") {
    val work = tmpDir("gsql8")
    GraftSql.run(spark,
      s"""CREATE TABLE gsql8_t (id INT, amount INT, part STRING)
          USING graft PARTITIONED BY (part) LOCATION '$work/t'
          TBLPROPERTIES ('pk'='id')""")
    // SELECT works before any data: the declared zero-row view
    assert(GraftSql.run(spark, "SELECT count(*) AS n FROM gsql8_t").as[Long].head() == 0L)
    // SHOW PARTITIONS on the commit-less table lists nothing (no crash)
    assert(GraftSql.run(spark, "SHOW PARTITIONS gsql8_t").count() == 0L)
    GraftSql.run(spark, "INSERT INTO gsql8_t VALUES (1, 10, 'p1'), (2, 20, 'p2')")
    assert(GraftSql.run(spark, "SHOW PARTITIONS gsql8_t")
      .as[String].collect().toSet == Set("part=p1", "part=p2"))
    GraftSql.run(spark, "INSERT INTO gsql8_t VALUES (3, 30, 'p1')") // append
    // appending an existing key is refused — keys stay unique
    intercept[Exception](
      GraftSql.run(spark, "INSERT INTO gsql8_t VALUES (1, 99, 'p1')"))
    GraftSql.run(spark, "UPDATE gsql8_t SET amount = amount + 5 WHERE part = 'p1'")
    assert(GraftSql.run(spark,
      "SELECT id, amount FROM gsql8_t ORDER BY id").as[(Int, Int)].collect().toSeq ==
      Seq((1, 15), (2, 20), (3, 35)))
    // static-partition and explicit-column-list inserts
    GraftSql.run(spark,
      "INSERT INTO gsql8_t PARTITION (part = 'p3') (id) VALUES (7)")
    assert(GraftSql.run(spark,
      "SELECT amount FROM gsql8_t WHERE id = 7").as[Option[Int]].head().isEmpty)

    // DROP detaches; the name stops resolving
    GraftSql.run(spark, "DROP TABLE gsql8_t")
    intercept[Exception](
      GraftSql.run(spark, "SELECT count(*) FROM gsql8_t").collect())
    // a schemaless re-CREATE re-attaches the same storage, history intact
    GraftSql.run(spark,
      s"""CREATE TABLE gsql8_t USING graft LOCATION '$work/t'
          TBLPROPERTIES ('pk'='id', 'partition'='part')""")
    assert(GraftSql.run(spark, "SELECT count(*) AS n FROM gsql8_t").as[Long].head() == 4L)
    assert(GraftSql.run(spark, "DESCRIBE HISTORY gsql8_t").count() >= 4)
    // CREATE on a registered name: refused without IF NOT EXISTS, no-op with
    intercept[Exception](GraftSql.run(spark,
      s"CREATE TABLE gsql8_t USING graft LOCATION '$work/t' TBLPROPERTIES ('pk'='id')"))
    GraftSql.run(spark,
      s"CREATE TABLE IF NOT EXISTS gsql8_t USING graft LOCATION '$work/t' TBLPROPERTIES ('pk'='id')")
    GraftSql.run(spark, "DROP TABLE gsql8_t")
  }

  test("CTAS creates and loads in one statement; ALTER TABLE drives " +
      "renames, constraints and generated columns from SQL") {
    val work = tmpDir("gsql10")
    Seq((1, 10, 20, "p1"), (2, 20, 40, "p2"))
      .toDF("id", "amount", "amount2", "part")
      .createOrReplaceTempView("gsql10_src")
    GraftSql.run(spark,
      s"""CREATE TABLE gsql10_t USING graft PARTITIONED BY (part)
          LOCATION '$work/t' TBLPROPERTIES ('pk'='id')
          AS SELECT * FROM gsql10_src""")
    assert(GraftSql.run(spark, "SELECT count(*) AS n FROM gsql10_t").as[Long].head() == 2L)
    // CTAS over a location that already holds a table is refused
    GraftSql.run(spark, "DROP TABLE gsql10_t")
    intercept[Exception](GraftSql.run(spark,
      s"""CREATE TABLE gsql10_t USING graft LOCATION '$work/t'
          TBLPROPERTIES ('pk'='id', 'partition'='part')
          AS SELECT * FROM gsql10_src"""))
    GraftSql.run(spark, // plain CREATE re-attaches
      s"""CREATE TABLE gsql10_t USING graft LOCATION '$work/t'
          TBLPROPERTIES ('pk'='id', 'partition'='part')""")

    GraftSql.run(spark, "ALTER TABLE gsql10_t RENAME COLUMN amount TO amt")
    assert(GraftSql.run(spark,
      "SELECT amt FROM gsql10_t WHERE id = 1").as[Int].head() == 10)

    GraftSql.run(spark, "ALTER TABLE gsql10_t ADD CONSTRAINT amt_pos CHECK (amt >= 0)")
    intercept[Exception](GraftSql.run(spark,
      "INSERT INTO gsql10_t VALUES (3, -5, -10, 'p1')"))
    GraftSql.run(spark, "ALTER TABLE gsql10_t DROP CONSTRAINT amt_pos")

    // amount2 already equals amt * 2 on every row → registrable; after
    // registration an INSERT omits it and the engine derives the value
    GraftSql.run(spark,
      "ALTER TABLE gsql10_t ADD GENERATED COLUMN amount2 AS (amt * 2)")
    GraftSql.run(spark, "INSERT INTO gsql10_t VALUES (4, 7, 'p1')")
    assert(GraftSql.run(spark,
      "SELECT amount2 FROM gsql10_t WHERE id = 4").as[Int].head() == 14)
    assert(GraftSql.run(spark, "DESCRIBE HISTORY gsql10_t")
      .select("action").as[String].collect()
      .count(_ == "gencol") == 1)
    GraftSql.run(spark, "DROP TABLE gsql10_t")
  }

  test("maintenance statements: OPTIMIZE, RESTORE, VACUUM, DESCRIBE DETAIL") {
    val work = tmpDir("gsql9")
    val t = VersionedTable(spark, s"$work/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1"), (2, 20, "p2")))                       // v1
    GraftSql.register(spark, "gsql9_t", t)
    GraftSql.run(spark, "UPDATE gsql9_t SET amount = amount + 1")        // v2
    val r = GraftSql.run(spark, "OPTIMIZE gsql9_t")                      // v3
    assert(r.as[(String, String, Long)].head() == ("optimize", "gsql9_t", 3L))
    assert(t.history.last._2 == "compact")
    GraftSql.run(spark, "DELETE FROM gsql9_t WHERE id = 1")              // v4
    GraftSql.run(spark, "RESTORE gsql9_t TO VERSION AS OF 2")            // v5
    assert(GraftSql.run(spark,
      "SELECT id, amount FROM gsql9_t ORDER BY id").as[(Int, Int)].collect().toSeq ==
      Seq((1, 11), (2, 21)))
    val detail = GraftSql.run(spark, "DESCRIBE DETAIL gsql9_t")
    val row = detail.select("version", "pk", "partition_columns", "num_files").head()
    assert(row.getInt(0) == 5 && row.getString(1) == "id" &&
      row.getString(2) == "part" && row.getLong(3) >= 1)
    // VACUUM RETAIN 0 HOURS keeps only versions current as of now —
    // the restored (re-live) dirs must survive it
    GraftSql.run(spark, "VACUUM gsql9_t RETAIN 0 HOURS")
    assert(GraftSql.run(spark,
      "SELECT count(*) AS n FROM gsql9_t").as[Long].head() == 2L)
  }

  test("INSERT OVERWRITE replaces only the batch's partitions; exotic " +
      "partition transforms are refused at CREATE") {
    val work = tmpDir("gsql12")
    val t = VersionedTable(spark, s"$work/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1"), (2, 20, "p2")))
    GraftSql.register(spark, "gsql12_t", t)
    GraftSql.run(spark,
      "INSERT OVERWRITE gsql12_t PARTITION (part = 'p1') (id, amount) VALUES (5, 50)")
    // p2 must survive — a full-table wipe here is silent data loss
    assert(contents(t) == Set((5, 50, "p1"), (2, 20, "p2")))
    // dynamic mode: partitions carried by the SELECT replace themselves,
    // others survive
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      GraftSql.run(spark,
        "INSERT OVERWRITE gsql12_t VALUES (6, 60, 'p2'), (7, 70, 'p3')")
      assert(contents(t) == Set((5, 50, "p1"), (6, 60, "p2"), (7, 70, "p3")))
    } finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    // a static PARTITION spec clears the spec'd partition even when the
    // source is EMPTY — the replaced set seeds from the spec, not the data
    GraftSql.run(spark, "INSERT OVERWRITE gsql12_t PARTITION (part = 'p3') " +
      "(id, amount) SELECT id, amount FROM gsql12_t WHERE false")
    assert(contents(t) == Set((5, 50, "p1"), (6, 60, "p2")))
    // static mode (Spark's default) without a spec: full-table replace,
    // Delta's INSERT OVERWRITE semantics
    GraftSql.run(spark,
      "INSERT OVERWRITE gsql12_t VALUES (8, 80, 'p4')")
    assert(contents(t) == Set((8, 80, "p4")))
    // a PARTITION spec naming a NON-partition column is refused on every
    // path — as a static value it would silently override a data column
    val ep = intercept[IllegalArgumentException](GraftSql.run(spark,
      "INSERT INTO gsql12_t PARTITION (amount = '99') (id, part) VALUES (9, 'p4')"))
    assert(ep.getMessage.contains("non-partition"))
    // case-variant duplicate spec keys must refuse loudly (Spark's parser
    // rejects them case-insensitively; if that ever relaxes, the
    // case-insensitive withColumn below would silently misplace rows —
    // this pin catches the regression)
    intercept[Exception](GraftSql.run(spark,
      "INSERT OVERWRITE gsql12_t PARTITION (part = 'a', PART = 'b') " +
        "(id, amount) VALUES (9, 90)"))
    // a non-identity partition transform must refuse, not silently
    // create an unpartitioned table
    val e = intercept[IllegalArgumentException](GraftSql.run(spark,
      s"""CREATE TABLE gsql12_days (id INT, ts TIMESTAMP) USING graft
          PARTITIONED BY (days(ts)) LOCATION '$work/d'
          TBLPROPERTIES ('pk'='id')"""))
    assert(e.getMessage.contains("transform"))
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the table; without it, " +
      "source-only columns project away") {
    val t = VersionedTable(spark, tmpDir("gsql11") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1")))
    GraftSql.register(spark, "gsql11_t", t)
    Seq((1, 11, "p1", "x"), (2, 20, "p1", "y"))
      .toDF("id", "amount", "part", "tag")
      .createOrReplaceTempView("gsql11_src")
    // plain MERGE: tag is projected away, schema unchanged
    GraftSql.run(spark,
      """MERGE INTO gsql11_t USING gsql11_src ON gsql11_t.id = gsql11_src.id
         WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(!t.read.columns.contains("tag"))
    // WITH SCHEMA EVOLUTION: tag survives and null-fills old rows
    GraftSql.run(spark,
      """MERGE WITH SCHEMA EVOLUTION INTO gsql11_t USING gsql11_src
         ON gsql11_t.id = gsql11_src.id
         WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(t.read.columns.contains("tag"))
    assert(t.read.select("id", "tag").as[(Int, String)].collect().toSet ==
      Set((1, "x"), (2, "y")))
    // round 11: conditional clauses evolve too — a delete-only evolving
    // merge runs (the clause semantics stand; MergeIntoSpec covers the
    // widening clause forms in depth)
    GraftSql.run(spark,
      """MERGE WITH SCHEMA EVOLUTION INTO gsql11_t USING gsql11_src
         ON gsql11_t.id = gsql11_src.id
         WHEN MATCHED AND gsql11_src.id < 0 THEN DELETE""")
    assert(t.read.count() == 2)
  }

  test("RESTORE TO TIMESTAMP AS OF and CREATE TABLE SHALLOW CLONE run " +
      "from SQL") {
    val work = tmpDir("gsql13")
    val t = VersionedTable(spark, s"$work/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1")))                                  // v1
    GraftSql.register(spark, "gsql13_t", t)
    GraftSql.run(spark, "UPDATE gsql13_t SET amount = 99")           // v2
    // the in-commit timestamp of v1 resolves the restore target
    val ts1 = GraftSql.run(spark, "DESCRIBE HISTORY gsql13_t")
      .filter(col("version") === 1).select("commit_ts").as[Long].head()
    GraftSql.run(spark,
      s"RESTORE gsql13_t TO TIMESTAMP AS OF timestamp_millis($ts1)") // v3
    assert(GraftSql.run(spark,
      "SELECT amount FROM gsql13_t").as[Int].head() == 10)

    GraftSql.run(spark,
      s"CREATE TABLE gsql13_c SHALLOW CLONE gsql13_t VERSION AS OF 2 LOCATION '$work/c'")
    // the clone took v2's state and evolves independently
    assert(GraftSql.run(spark,
      "SELECT amount FROM gsql13_c").as[Int].head() == 99)
    GraftSql.run(spark, "UPDATE gsql13_c SET amount = 7")
    assert(GraftSql.run(spark,
      "SELECT amount FROM gsql13_t").as[Int].head() == 10) // source untouched
    // TIMESTAMP AS OF resolves the clone point like RESTORE does (v2's
    // commit instant → the pre-restore state)
    val ts2 = GraftSql.run(spark, "DESCRIBE HISTORY gsql13_t")
      .filter(col("version") === 2).select("commit_ts").as[Long].head()
    GraftSql.run(spark, s"CREATE TABLE gsql13_c2 SHALLOW CLONE gsql13_t " +
      s"TIMESTAMP AS OF timestamp_millis($ts2) LOCATION '$work/c2'")
    assert(GraftSql.run(spark,
      "SELECT amount FROM gsql13_c2").as[Int].head() == 99)
    GraftSql.run(spark, "DROP TABLE gsql13_c2")
    GraftSql.run(spark, "DROP TABLE gsql13_c")
    GraftSql.run(spark, "DROP TABLE gsql13_t")
  }

  test("statements not targeting a registered table pass through to spark.sql") {
    val out = GraftSql.run(spark, "SELECT 1 + 1 AS two")
    assert(out.as[Int].head() == 2)
    // DML on an unregistered relation falls through to Spark's own
    // handling (which refuses it for a temp view) — never silently no-ops
    Seq((1, 1)).toDF("a", "b").createOrReplaceTempView("gsql_plain")
    intercept[Exception](
      GraftSql.run(spark, "DELETE FROM gsql_plain WHERE a = 1").collect())
  }

  test("catalog-qualified and backticked names run the whole SQL surface") {
    val work = tmpDir("gsql14")
    // CREATE under a two-part name (the reference's Athena boundary is
    // database-qualified throughout) — no temp view can carry db.t, so
    // every read resolves through run()'s substitution
    GraftSql.run(spark,
      s"""CREATE TABLE glue_db.orders_v (id INT, amount INT, part STRING)
          USING graft PARTITIONED BY (part) LOCATION '$work/t'
          TBLPROPERTIES ('pk'='id')""")
    GraftSql.run(spark,
      "INSERT INTO glue_db.orders_v VALUES (1, 10, 'p1'), (2, 20, 'p2')")
    GraftSql.run(spark,
      "UPDATE glue_db.orders_v SET amount = amount + 1 WHERE id = 1")
    assert(GraftSql.run(spark,
      "SELECT id, amount FROM glue_db.orders_v ORDER BY id")
      .as[(Int, Int)].collect().toSeq == Seq((1, 11), (2, 20)))
    // backticked/qualified spellings address the SAME entry
    assert(GraftSql.run(spark,
      "SELECT count(*) AS n FROM `glue_db`.`Orders_V`").as[Long].head() == 2L)
    // maintenance + DESCRIBE under the qualified name
    GraftSql.run(spark, "OPTIMIZE glue_db.orders_v")
    assert(GraftSql.run(spark, "DESCRIBE HISTORY glue_db.orders_v")
      .count() >= 3)
    assert(GraftSql.run(spark, "SHOW PARTITIONS `glue_db`.orders_v")
      .as[String].collect().toSet == Set("part=p1", "part=p2"))
    // MERGE with a qualified target and a qualified source read
    GraftSql.run(spark,
      """MERGE INTO glue_db.orders_v USING
         (SELECT id, amount + 100 AS amount, part FROM glue_db.orders_v) s
         ON glue_db.orders_v.id = s.id
         WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(GraftSql.run(spark,
      "SELECT sum(amount) AS s FROM glue_db.orders_v").as[Long].head() == 231L)
    // a backtick-only name with a dash — impossible as a temp view
    GraftSql.run(spark,
      s"""CREATE TABLE `orders-v` (id INT, x INT) USING graft
          LOCATION '$work/t2' TBLPROPERTIES ('pk'='id')""")
    GraftSql.run(spark, "INSERT INTO `orders-v` VALUES (1, 5)")
    assert(GraftSql.run(spark,
      "SELECT x FROM `orders-v`").as[Int].head() == 5)
    GraftSql.run(spark, "DROP TABLE `orders-v`")
    GraftSql.run(spark, "DROP TABLE glue_db.orders_v")
  }

  test("near-miss maintenance SQL on a registered table fails loudly " +
      "instead of falling through to Spark's parser") {
    val t = VersionedTable(spark, tmpDir("gsql15") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1")))
    GraftSql.register(spark, "gsql15_t", t)
    // Delta's RETAIN n DAYS is not graft grammar (hours only) — the
    // statement names a registered table, so the refusal must be OURS
    val e1 = intercept[RuntimeException](
      GraftSql.run(spark, "VACUUM gsql15_t RETAIN 7 DAYS"))
    assert(e1.getMessage.contains("unsupported VACUUM"))
    val e2 = intercept[RuntimeException](
      GraftSql.run(spark, "OPTIMIZE gsql15_t -- recent partitions"))
    assert(e2.getMessage.contains("unsupported OPTIMIZE"))
    val e3 = intercept[RuntimeException](
      GraftSql.run(spark, "RESTORE gsql15_t TO VERSION 1"))
    assert(e3.getMessage.contains("unsupported RESTORE"))
    // an unimplemented ALTER (parsed by Spark's grammar) is refused with
    // a graft-side message, not a confusing "table not found". Every
    // single-form ALTER COLUMN is now SUPPORTED (WidenColumnSpec,
    // AlterColumnSurfaceSpec, NotNullSpec) — the near-miss is SET
    // LOCATION, which graft's external-storage model has no place for.
    val e4 = intercept[RuntimeException](GraftSql.run(spark,
      "ALTER TABLE gsql15_t SET LOCATION '/tmp/elsewhere'"))
    assert(e4.getMessage.contains("unsupported ALTER"))
    // an UNregistered name keeps falling through untouched
    intercept[Exception](GraftSql.run(spark, "VACUUM gsql15_nope RETAIN 7 DAYS"))
    assert(t.currentVersion == 1) // none of the refusals executed anything
    // …while SET TBLPROPERTIES is a SUPPORTED alter: it commits a version
    GraftSql.run(spark, "ALTER TABLE gsql15_t SET TBLPROPERTIES ('x'='1')")
    assert(t.currentVersion == 2)
    assert(t.properties == Map("x" -> "1"))
    GraftSql.run(spark, "DROP TABLE gsql15_t")
  }

  test("OPTIMIZE ZORDER BY and REORG APPLY (PURGE) run from SQL") {
    val work = tmpDir("gsql16")
    // a z-layout table: partitioned by zb, skipping stats on x and y
    GraftSql.run(spark,
      s"""CREATE TABLE gsql16_z (id INT, x INT, y INT, zb INT) USING graft
          PARTITIONED BY (zb) LOCATION '$work/z'
          TBLPROPERTIES ('pk'='id', 'statsCols'='x,y')""")
    val grid = (0 until 1600).map(i => (i, i % 40, i / 40, 0))
      .toDF("id", "x", "y", "zb") // zb=0: one fat bucket, no skipping yet
    grid.createOrReplaceTempView("gsql16_grid")
    GraftSql.run(spark, "INSERT INTO gsql16_z SELECT * FROM gsql16_grid")
    val t = graft.lake.GraftSql.registered(spark, "gsql16_z").get
    t.readWhere(col("x") < 5).count()
    assert(t.lastScanDirs == 1) // everything in zb=0 — nothing to prune
    GraftSql.run(spark, "OPTIMIZE gsql16_z ZORDER BY (x, y)")
    // post-zorder: 16 zb cells; either dimension prunes
    val byX = t.readWhere(col("x") < 5)
    assert(byX.count() == grid.filter(col("x") < 5).count())
    assert(t.lastScanDirs <= 6, s"x-scan hit ${t.lastScanDirs} dirs")
    val byY = t.readWhere(col("y") >= 35)
    assert(byY.count() == grid.filter(col("y") >= 35).count())
    assert(t.lastScanDirs <= 6, s"y-scan hit ${t.lastScanDirs} dirs")
    // WHERE + ZORDER together is refused (z-layout is table-wide)
    val ez = intercept[Exception](GraftSql.run(spark,
      "OPTIMIZE gsql16_z WHERE zb = 1 ZORDER BY (x, y)"))
    assert(ez.getMessage.contains("table-wide"))
    // REORG APPLY (PURGE): fold merge-on-read tombstones out of storage
    val t2 = VersionedTable(spark, s"$work/t2", Seq("id"), Seq("part"))
    t2.overwrite(df((1, 10, "p1"), (2, 20, "p1"), (3, 30, "p2")))
    t2.deleteMor(col("id") === 1) // tombstone in p1
    GraftSql.register(spark, "gsql16_t2", t2)
    val r = GraftSql.run(spark, "REORG TABLE gsql16_t2 APPLY (PURGE)")
    assert(r.as[(String, String, Long)].head()._1 == "reorg purge")
    assert(contents(t2) == Set((2, 20, "p1"), (3, 30, "p2")))
    // the purge rewrote ONLY p1 (p2 keeps its original dir) and the
    // suppressed row is physically gone from the new files
    assert(t2.history.last._2 == "compact_part")
    GraftSql.run(spark, "DROP TABLE gsql16_t2")
    GraftSql.run(spark, "DROP TABLE gsql16_z")
  }

  test("table_changes('t', startV, endV) reads the change feed from SQL") {
    val t = VersionedTable(spark, tmpDir("gsql18") + "/t", Seq("id"), Seq("part"),
      recordCdf = true)
    t.merge(df((1, 10, "p1"), (2, 20, "p2")))            // v1
    t.merge(df((1, 11, "p1"), (3, 30, "p2")))            // v2: update + insert
    t.deleteMor(col("id") === 2)                         // v3: DV delete
    GraftSql.register(spark, "gsql18_t", t)
    // Delta's TVF is inclusive of startV: changes MADE BY commits 2..3
    val rows = GraftSql.run(spark,
      """SELECT id, amount, change_type FROM table_changes('gsql18_t', 2, 3)
         ORDER BY id""").as[(Int, Int, String)].collect().toSeq
    assert(rows == Seq((1, 11, "update"), (2, 20, "delete"), (3, 30, "insert")))
    // endV defaults to the current version
    assert(GraftSql.run(spark,
      "SELECT count(*) AS n FROM table_changes('gsql18_t', 3)")
      .as[Long].head() == 1L)
    // joins against ordinary relations work — it is just a plan substitution
    assert(GraftSql.run(spark,
      """SELECT count(*) AS n FROM table_changes('gsql18_t', 2, 3) c
         JOIN gsql18_t s ON c.id = s.id""").as[Long].head() == 2L)
    // timestamp bounds: a start timestamp means the FIRST commit at or
    // after it (Delta's contract) — v2's exact instant covers 2..current
    val ts2 = t.historyFrame.filter(col("version") === 2)
      .select("commit_ts").as[Long].head()
    val iso = java.time.Instant.ofEpochMilli(ts2).toString
    assert(GraftSql.run(spark,
      s"SELECT count(*) AS n FROM table_changes('gsql18_t', '$iso')")
      .as[Long].head() == 3L)
    // a TIMESTAMP literal bound works the same as the string form
    assert(GraftSql.run(spark,
      s"SELECT count(*) AS n FROM table_changes('gsql18_t', TIMESTAMP'$iso')")
      .as[Long].head() == 3L)
    // a garbage bound fails loudly — it must NOT be silently read as
    // "start of history" (full-feed widening)
    val eg = intercept[RuntimeException](GraftSql.run(spark,
      "SELECT * FROM table_changes('gsql18_t', 'not-a-timestamp')"))
    assert(eg.getMessage.contains("cannot evaluate"))
    // unregistered table name → loud error
    intercept[Exception](GraftSql.run(spark,
      "SELECT * FROM table_changes('gsql18_nope', 1, 2)"))
    // a malformed CONVERT fails with the graft-side grammar message
    val ec = intercept[RuntimeException](GraftSql.run(spark,
      "CONVERT TO GRAFT gsql18_t"))
    assert(ec.getMessage.contains("unsupported CONVERT"))
    GraftSql.run(spark, "DROP TABLE gsql18_t")
  }

  test("GENERATE symlink_format_manifest and DESCRIBE DETAIL … PARTITIONS " +
      "run from SQL, metadata-only") {
    val t = VersionedTable(spark, tmpDir("gsql19") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1"), (2, 20, "p1"), (3, 30, "p2")))
    GraftSql.register(spark, "gsql19_t", t)
    val m = GraftSql.run(spark,
      "GENERATE symlink_format_manifest FOR TABLE gsql19_t")
    val mpath = m.select("manifest_path").as[String].head()
    val lines = scala.io.Source.fromFile(mpath).getLines().toSeq
    assert(lines.nonEmpty && lines.forall(_.endsWith(".parquet")))
    // per-partition storage detail: footer-metadata row counts, no scan
    val detail = GraftSql.run(spark, "DESCRIBE DETAIL gsql19_t PARTITIONS")
      .select("partition", "num_rows").as[(String, Long)].collect().toMap
    assert(detail == Map("part=p1" -> 2L, "part=p2" -> 1L))
    // the one-row detail gained a total row count
    assert(GraftSql.run(spark, "DESCRIBE DETAIL gsql19_t")
      .select("num_rows").as[Long].head() == 3L)
    // a near-miss GENERATE fails loudly
    intercept[RuntimeException](GraftSql.run(spark,
      "GENERATE symlink_format_manifest FOR TABLE gsql19_t VERSION AS OF 1"))
    GraftSql.run(spark, "DROP TABLE gsql19_t")
  }

  test("attaching a CREATE to existing committed storage verifies the " +
      "declared pk/partition against the recorded layout") {
    val work = tmpDir("gsql17")
    val t = VersionedTable(spark, s"$work/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1")))
    // correct declaration attaches fine
    GraftSql.run(spark,
      s"""CREATE TABLE gsql17_ok USING graft LOCATION '$work/t'
          TBLPROPERTIES ('pk'='id', 'partition'='part')""")
    assert(GraftSql.run(spark,
      "SELECT count(*) AS n FROM gsql17_ok").as[Long].head() == 1L)
    GraftSql.run(spark, "DROP TABLE gsql17_ok")
    // a typo'd pk is refused — it would dispatch merges on wrong keys
    val e = intercept[IllegalArgumentException](GraftSql.run(spark,
      s"""CREATE TABLE gsql17_bad USING graft LOCATION '$work/t'
          TBLPROPERTIES ('pk'='amount', 'partition'='part')"""))
    assert(e.getMessage.contains("declared layout"))
    // so is a missing partition declaration
    val e2 = intercept[IllegalArgumentException](GraftSql.run(spark,
      s"""CREATE TABLE gsql17_bad2 USING graft LOCATION '$work/t'
          TBLPROPERTIES ('pk'='id')"""))
    assert(e2.getMessage.contains("declared layout"))
  }

  test("CREATE OR REPLACE TABLE is a versioned overwrite: history " +
      "survives, layout is immutable, properties replace") {
    val work = tmpDir("gsql22")
    Seq((1, 10, "p1"), (2, 20, "p2")).toDF("id", "amount", "part")
      .createOrReplaceTempView("gsql22_src")
    GraftSql.run(spark,
      s"""CREATE TABLE gsql22_t USING graft PARTITIONED BY (part)
          LOCATION '$work/t' TBLPROPERTIES ('pk'='id', 'stage'='raw')
          AS SELECT * FROM gsql22_src""")                              // v1+props
    val t = GraftSql.registered(spark, "gsql22_t").get
    assert(t.properties == Map("stage" -> "raw"))
    // replace with a new query: the data swaps wholesale, as a COMMIT
    Seq((7, 70, "p9")).toDF("id", "amount", "part")
      .createOrReplaceTempView("gsql22_src2")
    GraftSql.run(spark,
      s"""CREATE OR REPLACE TABLE gsql22_t USING graft PARTITIONED BY (part)
          LOCATION '$work/t' TBLPROPERTIES ('pk'='id', 'quality'='gold')
          AS SELECT * FROM gsql22_src2""")
    assert(GraftSql.run(spark, "SELECT id, amount FROM gsql22_t")
      .as[(Int, Int)].collect().toSeq == Seq((7, 70)))
    // properties REPLACED, not upserted: 'stage' is gone
    assert(t.properties == Map("quality" -> "gold"))
    // …and time travel still reaches the pre-replace era
    assert(t.readVersion(1).count() == 2)
    // layout is immutable: replacing with a different pk/partition refuses
    val e1 = intercept[IllegalArgumentException](GraftSql.run(spark,
      s"""CREATE OR REPLACE TABLE gsql22_t USING graft
          LOCATION '$work/t' TBLPROPERTIES ('pk'='amount')
          AS SELECT * FROM gsql22_src2"""))
    assert(e1.getMessage.contains("cannot change the primary key"))
    // a different LOCATION would silently re-point the name — refused
    val e2 = intercept[IllegalArgumentException](GraftSql.run(spark,
      s"""CREATE OR REPLACE TABLE gsql22_t USING graft
          LOCATION '$work/elsewhere' TBLPROPERTIES ('pk'='id')
          AS SELECT * FROM gsql22_src2"""))
    assert(e2.getMessage.contains("DROP and CREATE"))
    // plain REPLACE TABLE (no AS SELECT) truncates under declared columns
    GraftSql.run(spark,
      s"""REPLACE TABLE gsql22_t (id INT, amount INT, part STRING)
          USING graft PARTITIONED BY (part) LOCATION '$work/t'
          TBLPROPERTIES ('pk'='id')""")
    assert(GraftSql.run(spark, "SELECT count(*) FROM gsql22_t")
      .as[Long].head() == 0L)
    assert(t.properties.isEmpty) // 'quality' dropped by the replace
    // REPLACE on an unregistered name needs OR CREATE
    val e3 = intercept[IllegalArgumentException](GraftSql.run(spark,
      s"""REPLACE TABLE gsql22_nope (id INT) USING graft
          LOCATION '$work/n' TBLPROPERTIES ('pk'='id')"""))
    assert(e3.getMessage.contains("use CREATE OR REPLACE"))
    // a column list omitting a layout column would WEDGE the table (the
    // next INSERT resolves the pk against tableSchema) — refused
    val e4 = intercept[IllegalArgumentException](GraftSql.run(spark,
      s"""REPLACE TABLE gsql22_t (amount INT, part STRING) USING graft
          PARTITIONED BY (part) LOCATION '$work/t' TBLPROPERTIES ('pk'='id')"""))
    assert(e4.getMessage.contains("layout column"))
    // so would silently dropping a declared statscols/recordcdf change
    val e5 = intercept[IllegalArgumentException](GraftSql.run(spark,
      s"""CREATE OR REPLACE TABLE gsql22_t USING graft LOCATION '$work/t'
          TBLPROPERTIES ('pk'='id', 'recordcdf'='true')
          AS SELECT * FROM gsql22_src2"""))
    assert(e5.getMessage.contains("recordCdf"))
    GraftSql.run(spark, "DROP TABLE gsql22_t")
  }

  test("DESCRIBE DETAIL … COLUMNS folds the recorded min/max without a " +
      "data scan; numeric columns compare numerically") {
    val work = tmpDir("gsql21")
    GraftSql.run(spark,
      s"""CREATE TABLE gsql21_t (id INT, x INT, s STRING, part STRING)
          USING graft PARTITIONED BY (part) LOCATION '$work/t'
          TBLPROPERTIES ('pk'='id', 'statsCols'='x,s')""")
    Seq((1, 5, "apple", "p1"), (2, 40, "kiwi", "p1"), (3, -7, "banana", "p2"))
      .toDF("id", "x", "s", "part").createOrReplaceTempView("gsql21_src")
    GraftSql.run(spark, "INSERT INTO gsql21_t SELECT * FROM gsql21_src")
    val rows = GraftSql.run(spark, "DESCRIBE DETAIL gsql21_t COLUMNS")
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))).toMap
    // "-7" < "40" < "5" lexically — a string fold would report max "5";
    // the numeric order must win for numeric renderings
    assert(rows("x") == (("-7", "40", 2L, 2L)))
    assert(rows("s") == (("apple", "kiwi", 2L, 2L)))
    assert(rows.keySet == Set("x", "s")) // only statsCols are covered
    GraftSql.run(spark, "DROP TABLE gsql21_t")
  }

  test("INSERT INTO … REPLACE WHERE is an atomic predicate-scoped " +
      "backfill") {
    val t = VersionedTable(spark, tmpDir("gsql25") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1"), (2, 20, "p1"), (3, 30, "p2"), (4, 40, "p2")))
    GraftSql.register(spark, "gsql25_t", t)
    Seq((5, 55, "p2")).toDF("id", "amount", "part")
      .createOrReplaceTempView("gsql25_src")
    GraftSql.run(spark,
      "INSERT INTO gsql25_t REPLACE WHERE part = 'p2' SELECT * FROM gsql25_src")
    assert(contents(t) == Set((1, 10, "p1"), (2, 20, "p1"), (5, 55, "p2")))
    assert(t.readVersion(1).count() == 4) // ONE commit; history intact
    // batch rows outside the predicate are refused (Delta's contract)
    Seq((9, 90, "p1")).toDF("id", "amount", "part")
      .createOrReplaceTempView("gsql25_bad")
    val e = intercept[Exception](GraftSql.run(spark,
      "INSERT INTO gsql25_t REPLACE WHERE part = 'p2' SELECT * FROM gsql25_bad"))
    assert(e.getMessage.contains("satisfy the replace predicate"))
    // a key that SURVIVES the predicate cannot be doubled
    Seq((1, 11, "p2")).toDF("id", "amount", "part")
      .createOrReplaceTempView("gsql25_dup")
    val e2 = intercept[Exception](GraftSql.run(spark,
      "INSERT INTO gsql25_t REPLACE WHERE part = 'p2' SELECT * FROM gsql25_dup"))
    assert(e2.getMessage.contains("survives the"))
    assert(contents(t) == Set((1, 10, "p1"), (2, 20, "p1"), (5, 55, "p2")))
    // the folded one-pass validation still refuses null and repeated PKs
    val eNull = intercept[Exception](t.replaceWhere(col("part") === "p2",
      Seq((Option.empty[Int], 1, "p2")).toDF("id", "amount", "part")))
    assert(eNull.getMessage.contains("non-null primary keys"))
    val eDup = intercept[Exception](t.replaceWhere(col("part") === "p2",
      Seq((7, 1, "p2"), (7, 2, "p2")).toDF("id", "amount", "part")))
    assert(eDup.getMessage.contains("repeats a primary key"))
    // and a pk-less table is refused up front, as append/merge refuse
    val noPk = VersionedTable(spark, tmpDir("gsql25np") + "/t", Seq.empty)
    noPk.overwrite(Seq((1, "a")).toDF("id", "v"))
    val eNoPk = intercept[Exception](noPk.replaceWhere(col("id") === 1,
      Seq((1, "b")).toDF("id", "v")))
    assert(eNoPk.getMessage.contains("needs primary-key columns"))
    // non-partition predicates work: only touched partitions restage
    Seq((2, 22, "p1")).toDF("id", "amount", "part")
      .createOrReplaceTempView("gsql25_amt")
    GraftSql.run(spark, "INSERT INTO gsql25_t REPLACE WHERE amount >= 20 " +
      "SELECT * FROM gsql25_amt")
    assert(contents(t) == Set((1, 10, "p1"), (2, 22, "p1")))
    // the txn idempotency gate: a replayed (appId, version) no-ops —
    // exactly merge/append's foreachBatch-restart contract
    val v = t.currentVersion
    t.replaceWhere(col("part") === "p1" && col("id") >= 50,
      Seq((51, 1, "p1")).toDF("id", "amount", "part"), Some(("rw-app", 7L)))
    assert(t.currentVersion == v + 1)
    t.replaceWhere(col("part") === "p1" && col("id") >= 50,
      Seq((51, 999, "p1")).toDF("id", "amount", "part"), Some(("rw-app", 7L)))
    assert(t.currentVersion == v + 1, "replayed txn must no-op")
    assert(t.read.filter(col("id") === 51).select("amount").as[Int].head() == 1)
    GraftSql.run(spark, "DROP TABLE gsql25_t")
  }

  test("DELETE and UPDATE accept IN-subquery conditions") {
    val t = VersionedTable(spark, tmpDir("gsql24") + "/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1"), (2, 20, "p1"), (3, 30, "p2")))
    GraftSql.register(spark, "gsql24_t", t)
    Seq(1, 3).toDF("del_id").createOrReplaceTempView("gsql24_doomed")
    GraftSql.run(spark,
      "DELETE FROM gsql24_t WHERE id IN (SELECT del_id FROM gsql24_doomed)")
    assert(contents(t) == Set((2, 20, "p1")))
    Seq(2).toDF("up_id").createOrReplaceTempView("gsql24_up")
    GraftSql.run(spark, "UPDATE gsql24_t SET amount = amount + 1 " +
      "WHERE id IN (SELECT up_id FROM gsql24_up)")
    assert(contents(t) == Set((2, 21, "p1")))
    GraftSql.run(spark, "DROP TABLE gsql24_t")
  }

  test("TRUNCATE TABLE is a versioned empty overwrite; RENAME TO is a " +
      "pure registry move") {
    val work = tmpDir("gsql23")
    val t = VersionedTable(spark, s"$work/t", Seq("id"), Seq("part"))
    t.overwrite(df((1, 10, "p1"), (2, 20, "p2")))               // v1
    GraftSql.register(spark, "gsql23_t", t)
    GraftSql.run(spark, "TRUNCATE TABLE gsql23_t")               // v2
    assert(GraftSql.run(spark, "SELECT count(*) FROM gsql23_t")
      .as[Long].head() == 0L)
    assert(t.readVersion(1).count() == 2) // history survives the truncate
    // the schema survives too: a refill insert binds to it
    GraftSql.run(spark, "INSERT INTO gsql23_t VALUES (3, 30, 'p1')") // v3
    assert(GraftSql.run(spark, "SELECT sum(amount) FROM gsql23_t")
      .as[Long].head() == 30L)
    // rename re-keys the registration — storage untouched, NO commit
    val v = t.currentVersion
    GraftSql.run(spark, "ALTER TABLE gsql23_t RENAME TO gsql23_r")
    assert(GraftSql.registered(spark, "gsql23_t").isEmpty)
    val r = GraftSql.registered(spark, "gsql23_r").get
    assert(r.currentVersion == v && r.path == t.path)
    // the full surface keeps working under the new name
    GraftSql.run(spark, "UPDATE gsql23_r SET amount = 99 WHERE id = 3")
    assert(GraftSql.run(spark, "SELECT amount FROM gsql23_r")
      .as[Int].head() == 99)
    // renaming onto a taken name refuses
    val t2 = VersionedTable(spark, s"$work/t2", Seq("id"), Seq("part"))
    t2.overwrite(df((9, 90, "p1")))
    GraftSql.register(spark, "gsql23_t2", t2)
    val e = intercept[IllegalArgumentException](GraftSql.run(spark,
      "ALTER TABLE gsql23_t2 RENAME TO gsql23_r"))
    assert(e.getMessage.contains("already registered"))
    GraftSql.run(spark, "DROP TABLE gsql23_r")
    GraftSql.run(spark, "DROP TABLE gsql23_t2")
  }

  test("a closed session's registrations are evicted; application end " +
      "clears the whole registry") {
    val work = tmpDir("gsql20")
    val s2 = spark.newSession()
    val t2 = VersionedTable(s2, s"$work/t", Seq("id"), Seq("part"))
    t2.overwrite(df((1, 10, "p1"))) // encoders bind by schema, not session
    GraftSql.register(s2, "gsql20_t", t2)
    assert(GraftSql.registered(s2, "gsql20_t").isDefined)
    // the registry is session-keyed: the base session can't see it
    assert(GraftSql.registered(spark, "gsql20_t").isEmpty)
    // explicit lifecycle hook: a pool closing the session evicts its
    // registrations without waiting for the GC-driven sweep
    GraftSql.unregisterSession(s2)
    assert(GraftSql.registered(s2, "gsql20_t").isEmpty)
    // a sibling's eviction leaves the base session's entries alone
    val tb = VersionedTable(spark, s"$work/tb", Seq("id"), Seq("part"))
    tb.overwrite(df((2, 20, "p1")))
    GraftSql.register(spark, "gsql20_tb", tb)
    GraftSql.unregisterSession(s2) // idempotent
    assert(GraftSql.registered(spark, "gsql20_tb").isDefined)
    // the SparkListener backstop: context stop = every session dead
    GraftSql.AppEndListener.onApplicationEnd(
      org.apache.spark.scheduler.SparkListenerApplicationEnd(0L))
    assert(GraftSql.registered(spark, "gsql20_tb").isEmpty)
  }

  test("a SELECT … WHERE on a stats column scans only the dirs that can " +
      "match and returns the rows of an unpruned read") {
    val t = VersionedTable(spark, tmpDir("gsql_skip") + "/t", Seq("id"),
      statsCols = Seq("x"))
    // four appends, each its own dir with a disjoint x range
    (0 until 4).foreach { k =>
      t.append((100 * k until 100 * k + 100).map(i => (i.toLong, i * 3L)).toDF("id", "x"))
    }
    GraftSql.register(spark, "gsql_skip_t", t)
    val got = GraftSql.run(spark,
      "SELECT id, x FROM gsql_skip_t WHERE x >= 630 AND x < 660")
      .as[(Long, Long)].collect().toSet
    assert(t.lastScanDirs == 1, s"scanned ${t.lastScanDirs} of 4 dirs")
    val all = t.read.as[(Long, Long)].collect()
    assert(t.lastScanDirs == 4)
    assert(got.nonEmpty && got == all.filter(r => r._2 >= 630 && r._2 < 660).toSet)
    GraftSql.run(spark, "DROP TABLE gsql_skip_t")
  }
}
