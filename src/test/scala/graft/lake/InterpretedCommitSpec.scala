package graft.lake

import java.sql.{Date, Timestamp}

import org.apache.hadoop.fs.Path
import org.apache.spark.GraftTestBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The plans a table starts for itself run in its caller's interpreted
  * twin ([[Interpreted]]): a commit whose plans differ from a warm one's
  * only in their literals compiles no class, the twin follows the
  * caller's conf, one twin serves every commit, and the caller's own
  * codegen settings stay as they were.
  */
class InterpretedCommitSpec extends SparkSpec {
  import spark.implicits._

  private val day0 = java.time.LocalDate.of(2025, 1, 1)

  private def compilesDuring(f: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  /** Run `f` with `key` set to `value` on the caller, then restore it. */
  private def withConf[A](key: String, value: String)(f: => A): A = {
    val old = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def orders(day: Int, ids: Range): DataFrame =
    ids.map(i => (i, Date.valueOf(day0.plusDays(day)), s"v$i")).toDF("id", "date", "v")

  test("a merge, an append and a compact into a new date partition of a " +
      "warm table compile no class of their own") {
    val t = VersionedTable(spark, tmpDir("ic_warm") + "/t", Seq("id"), Seq("date"))
    t.overwrite(orders(0, 0 until 20))
    // warm every plan shape: a merge re-delivering 10 keys of an older
    // date next to 100 new ones, an append of fresh keys, a compact
    def drop(d: Int) = orders(d, ((d - 1) * 100 + 10) until (d * 100 + 20))
    for (d <- 1 to 2) {
      t.merge(drop(d))
      t.append(orders(d, (d * 1000) until (d * 1000 + 20)))
      t.compact()
    }
    // built before counting: encoding local rows is the caller's own work
    val (m, a) = (drop(3), orders(4, 3000 until 3020))
    // the merge's plans differ from the warm ones only in their literals
    // (the new date), which compiled plans inline
    assert(compilesDuring(t.merge(m)) == 0, "classes compiled by the merge")
    // the caller's own queries then cycle Spark's 100-class codegen cache,
    // as a daily drop's validate and smoke queries do: compiled, the
    // append and compact here compiled 18 and 9 classes again. Interpreted,
    // each compiles at most the one row joiner a partial aggregation
    // generates whatever the factory mode
    (1 to 110).foreach(i => spark.range(3).select((col("id") * (i + 1000)).as("x")).collect())
    val appended = compilesDuring(t.append(a))
    val compacted = compilesDuring(t.compact())
    assert(appended <= 1 && compacted <= 1,
      s"classes compiled by (append, compact): ($appended, $compacted)")
    assert(t.read.count() == 320 + 3 * 20)
    assert(t.partitionPaths.size == 5)
  }

  test("with ANSI on in the caller, an assignment its column cannot hold " +
      "is refused as before") {
    withConf("spark.sql.ansi.enabled", "true") {
      val t = VersionedTable(spark, tmpDir("ic_ansi") + "/t", Seq("id"), Seq("p"))
      t.overwrite(Seq((1, "a", 7), (2, "a", 8)).toDF("id", "p", "qty"))        // v1
      assert(Interpreted.twinOf(spark).conf.get("spark.sql.ansi.enabled") == "true")
      val e = intercept[Exception](
        t.update(col("id") === 1, Map("qty" -> lit(5000000000L))))
      assert(e.getMessage.contains("cannot be stored in column 'qty'"))
      val e2 = intercept[Exception](
        t.mergeInto(Seq((1, "a", 5000000000L)).toDF("id", "p", "qty"))
          .whenMatched().updateAll().execute())
      assert(e2.getMessage.contains("cannot be stored in column 'qty'"))
      assert(t.currentVersion == 1)
      assert(t.update(col("id") === 2, Map("qty" -> lit(9L))))                  // v2
      assert(t.read.select("id", "qty").as[(Int, Int)].collect().toSet ==
        Set((1, 7), (2, 9)))
    }
  }

  test("under a non-UTC session time zone, timestamp partition paths equal " +
      "a compiled write's") {
    withConf("spark.sql.session.timeZone", "America/Los_Angeles") {
      val dir = tmpDir("ic_tz")
      def rows(ids: Seq[Int]): DataFrame =
        ids.map(i => (i, new Timestamp(1710000000000L + i * 3600000L), s"v$i"))
          .toDF("id", "ts", "v")
      val t = VersionedTable(spark, dir + "/t", Seq("id"), Seq("ts"))
      t.overwrite(rows(0 until 3))
      t.append(rows(3 until 6))
      t.merge(rows(5 until 8))
      rows(0 until 8).write.partitionBy("ts").parquet(dir + "/plain")
      val plain = new Path(dir + "/plain")
      val fs = plain.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val compiled = fs.listStatus(plain).filter(_.isDirectory).map(_.getPath.getName).toSeq
      assert(compiled.size == 8)
      assert(t.partitionPaths == compiled.sorted)
    }
  }

  test("a conf changed on the caller is seen by the next commit") {
    val t = VersionedTable(spark, tmpDir("ic_conf") + "/t", Seq("id"), Nil)
    withConf("spark.sql.parquet.compression.codec", "snappy") {
      t.overwrite(Seq((1, "a")).toDF("id", "v"))
    }
    withConf("spark.sql.parquet.compression.codec", "gzip") {
      t.append(Seq((2, "b")).toDF("id", "v"))
    }
    val files = t.read.inputFiles.toSeq
    assert(files.count(_.endsWith(".snappy.parquet")) == 1, files)
    assert(files.count(_.endsWith(".gz.parquet")) == 1, files)
  }

  test("50 commits reuse one twin and register no listener") {
    val t = VersionedTable(spark, tmpDir("ic_reuse") + "/t", Seq("id"), Nil)
    t.overwrite(Seq((0, "a")).toDF("id", "v"))
    val twin = Interpreted.twinOf(spark)
    val sc = spark.sparkContext
    GraftTestBus.drain(sc)
    val buses = GraftTestBus.listenersNamed(sc, "ExecutionListenerBus")
    (1 to 50).foreach(i => t.append(Seq((i, "a")).toDF("id", "v")))
    assert(Interpreted.twinOf(spark) eq twin)
    GraftTestBus.drain(sc)
    assert(GraftTestBus.listenersNamed(sc, "ExecutionListenerBus") <= buses)
    assert(t.read.count() == 51)
  }

  test("a commit leaves the caller's codegen settings as they were") {
    def codegen = spark.conf.getAll.filter(_._1.startsWith("spark.sql.codegen."))
    val before = codegen
    val t = VersionedTable(spark, tmpDir("ic_caller") + "/t", Seq("id"), Seq("date"))
    t.overwrite(orders(0, 0 until 5))
    t.merge(orders(1, 3 until 8))
    assert(codegen == before)
    assert(spark.conf.get("spark.sql.codegen.wholeStage") == "true")
    assert(spark.conf.get("spark.sql.codegen.factoryMode") == "FALLBACK")
    // a frame returned to the caller is planned by the caller, compiled
    assert(t.read.queryExecution.executedPlan.exists(
      _.getClass.getSimpleName == "WholeStageCodegenExec"))
  }
}
