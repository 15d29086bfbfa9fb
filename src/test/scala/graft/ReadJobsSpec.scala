package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.lake.VersionedTable

/** Building a read frame is metadata work: every file of a version is
  * read under the schema that version recorded, so `read`, `readVersion`
  * and `readWhere` start no Spark job until an action runs — however many
  * uncompacted commits the table holds, and `ext=` roots (CONVERT TO
  * GRAFT / shallow clone) included.
  */
class ReadJobsSpec extends SparkSpec {
  import spark.implicits._

  /** Spark jobs started by `f` on this thread (charged by job group, so a
    * job from any other thread is never counted), after the listener bus
    * has delivered every event.
    */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"read-jobs-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "ReadJobsSpec")
      try f finally sc.clearJobGroup()
      GraftTestBus.drain(sc)
      n.get
    } finally sc.removeSparkListener(l)
  }

  test("read, readVersion and readWhere build their frames with no Spark " +
      "job over uncompacted appends, ADD COLUMN DEFAULT, rename, widen " +
      "and a deletion vector") {
    val path = tmpDir("rj") + "/t"
    def handle = VersionedTable(spark, path, Seq("id"), Seq("p"),
      statsCols = Seq("id"))
    val t = handle
    def rows(lo: Int) = (lo until lo + 10).map(i => (i, if (i % 2 == 0) "a" else "b", i * 10))
    t.append(rows(0).toDF("id", "p", "x"))                       // v1
    t.append(rows(10).toDF("id", "p", "x"))                      // v2
    t.addColumn("d", IntegerType, default = Some("7"))           // v3
    t.append(rows(20).toDF("id", "p", "x").withColumn("d", lit(1)))  // v4
    t.renameColumn("x", "y")                                     // v5
    t.append(rows(30).toDF("id", "p", "y"))                      // v6
    t.alterColumnType("y", LongType)                             // v7
    t.append(rows(40).toDF("id", "p", "y"))                      // v8
    t.append(rows(50).toDF("id", "p", "y"))                      // v9
    assert(t.deleteMor(col("id") === 5))                         // v10
    val last = t.currentVersion
    assert(last == 10)

    // a fresh handle: nothing memoized from the writes above
    val r = handle
    assert(jobsDuring { r.read; () } == 0, "read")
    (1 to last).foreach { k =>
      assert(jobsDuring { r.readVersion(k); () } == 0, s"readVersion($k)")
    }
    assert(jobsDuring { r.readWhere(col("id") === 42); () } == 0, "readWhere")
    assert(r.lastScanDirs == 2,
      "the point lookup keeps only v8's two dirs by the recorded id stats")

    // the frames still read what each version holds, under its schema
    val cur = r.read
    assert(cur.columns.toSet == Set("id", "p", "y", "d"))
    assert(cur.schema("y").dataType == LongType)
    assert(cur.count() == 59)
    assert(cur.filter(col("id") === 3).select("d").as[Int].head() == 7,
      "a root written before ADD COLUMN reads the exists-default")
    assert(cur.filter(col("id") === 23).select("d").as[Int].head() == 1)
    assert(cur.filter(col("id") === 42).select("y").as[Long].head() == 420L)
    assert(r.readWhere(col("id") === 42).select("y").as[Long].collect()
      .toSeq == Seq(420L))
    assert(r.readVersion(4).columns.toSet == Set("id", "p", "x", "d"))
    assert(r.readVersion(4).schema("x").dataType == IntegerType)
    assert(r.readVersion(9).filter(col("id") === 5).count() == 1,
      "time travel before the delete sees the row")
    assert(cur.filter(col("id") === 5).count() == 0)
  }

  test("a CONVERTed table reads its ext= root under the schema convert " +
      "recorded: no job for it, none for the table's own roots") {
    val work = tmpDir("rj_cv")
    Seq((1, 10, "p1"), (2, 20, "p1"), (3, 30, "p2"))
      .toDF("id", "amount", "part")
      .write.partitionBy("part").parquet(s"$work/src")
    val t = VersionedTable(spark, s"$work/t", Seq("id"), Seq("part"))
    t.convertFrom(s"$work/src")
    // restages p1 under the table's own root; p2 stays in the ext= root
    t.merge(Seq((1, 99, "p1")).toDF("id", "amount", "part"))
    val r = VersionedTable(spark, s"$work/t", Seq("id"), Seq("part"))
    assert(jobsDuring { r.readVersion(1); () } == 0, "readVersion(1)")
    assert(jobsDuring { r.read; () } == 0, "read")
    assert(r.read.select("id", "amount").as[(Int, Int)].collect().toSet ==
      Set((1, 99), (2, 20), (3, 30)))
  }
}
