package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftTestPlans}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.lake.VersionedTable
import graft.ops.PlanChecks

/** A commit's fixed cost is its Spark jobs. `append`'s pk-collision scan
  * and `merge`'s partition-migration probe are both a left-semi join of
  * the table's live rows against the batch keys; the pk min/max every
  * commit records per dir prunes them to the dirs that can hold a
  * colliding or migrating key, so fresh keys and re-deliveries that keep
  * their partition start no probe job at all. A key that really collides
  * or migrates must still be found.
  */
class CommitJobsSpec extends SparkSpec {
  import spark.implicits._

  /** Every plan node, through AQE stages, reused exchanges and caches. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case i: InMemoryTableScanExec => nodes(i.relation.cachedPlan)
    case o => (o.children ++ o.subqueries).flatMap(nodes)
  })

  /** The probe shape: a left-semi join whose left side scans `table`'s
    * data. Matched on the physical plan as planned, before AQE — a probe
    * that finds nothing may end as an empty relation.
    */
  private def isProbe(p: SparkPlan, table: String): Boolean = {
    val data = Paths.get(table, "data").toString
    nodes(p).exists {
      case j: BaseJoinExec if j.joinType == LeftSemi =>
        PlanChecks.scanRoots(j.left).exists(_.toUri.getPath.startsWith(data + "/"))
      case _ => false
    }
  }

  /** (probe jobs, all jobs) that `f` starts on this thread: a job counts
    * as a probe job when the SQL execution that started it planned a probe
    * ([[isProbe]]). Read after the listener bus has delivered every event.
    */
  private def jobsDuring(table: String)(f: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val group = s"commit-jobs-${java.util.UUID.randomUUID()}"
    val jobExecs = new ConcurrentLinkedQueue[Option[Long]]()
    val probeExecs = new ConcurrentLinkedQueue[Long]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobExecs.add(Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd =>
          if (GraftTestPlans.queryOf(end).exists(qe => isProbe(qe.sparkPlan, table)))
            probeExecs.add(end.executionId)
        case _ => ()
      }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "CommitJobsSpec")
      try f finally sc.clearJobGroup()
      GraftTestBus.drain(sc)
      val probes = probeExecs.asScala.toSet
      val execs = jobExecs.asScala.toSeq
      (execs.count(_.exists(probes)), execs.size)
    } finally sc.removeSparkListener(l)
  }

  private val day0 = java.time.LocalDate.of(2025, 1, 1)

  test("an append of fresh keys to a date-partitioned table without " +
      "statsCols starts no collision-scan job; a colliding key is still refused") {
    val path = tmpDir("cj_app") + "/t"
    val t = VersionedTable(spark, path, Seq("rid"), Seq("date"))
    // per-drop key prefixes, as the pipeline's reject ids: each drop's
    // keys form a range no earlier dir's range meets
    def drop(no: Int, n: Int): DataFrame =
      (0 until n).map(i => (s"d$no-$i", java.sql.Date.valueOf(day0.plusDays(i % 3)), i))
        .toDF("rid", "date", "x")
    t.append(drop(1, 30))                                        // v1
    t.append(drop(2, 30))                                        // v2
    val (probes, all) = jobsDuring(path)(t.append(drop(3, 30)))  // v3
    assert(all > 0, "the append ran jobs (stage write, batch shape)")
    assert(probes == 0, s"a fresh key range scanned the table: $probes probe jobs")
    assert(t.read.count() == 90)
    // a key inside an existing dir's range is checked — and refused
    val (hit, _) = jobsDuring(path) {
      val e = intercept[IllegalArgumentException](t.append(drop(2, 1)))
      assert(e.getMessage.contains("duplicate a primary key"))
    }
    assert(hit > 0, "the collision scan must run for a key inside a dir's range")
    assert(t.currentVersion == 3 && t.read.count() == 90)
  }

  private def orders(rows: Seq[(Int, Int, String)]): DataFrame =
    rows.map { case (id, day, v) => (id, java.sql.Date.valueOf(day0.plusDays(day)), v) }
      .toDF("id", "date", "v")

  test("a merge whose re-delivered keys keep their partitions starts no " +
      "migration-probe job; a key that really migrates is found and restaged") {
    val path = tmpDir("cj_mrg") + "/t"
    val t = VersionedTable(spark, path, Seq("id"), Seq("date"))
    // ten days of ten orders each: day d holds ids 10d .. 10d+9
    t.merge(orders((0 until 100).map(i => (i, i / 10, "a"))))    // v1
    val redelivered = Seq(5, 25, 47).map(i => (i, i / 10, "b"))
    val fresh = (100 until 110).map(i => (i, 10, "a"))
    val (probes, all) = jobsDuring(path)(t.merge(orders(redelivered ++ fresh)))  // v2
    assert(all > 0)
    assert(probes == 0, s"no live row can migrate, yet $probes probe jobs ran")
    val got = t.read.select("id", "date", "v").as[(Int, java.sql.Date, String)]
      .collect().map(r => r._1 -> ((r._2.toLocalDate, r._3))).toSeq
    assert(got.map(_._1).distinct.size == got.size && got.size == 110)
    assert(got.toMap.apply(25) == ((day0.plusDays(2), "b")))
    // id 15 moves from day 1 to day 7: the probe reads day 1's dir (its
    // id range holds 15), finds the key, and day 1 is restaged without it
    val (moved, _) = jobsDuring(path)(t.merge(orders(Seq((15, 7, "m")))))  // v3
    assert(moved > 0, "a migrating key must be probed for")
    val after = t.read.select("id", "date", "v").as[(Int, java.sql.Date, String)]
      .collect().map(r => r._1 -> ((r._2.toLocalDate, r._3)))
    assert(after.length == 110 && after.map(_._1).distinct.length == 110,
      "the migrated key must not survive in its old partition")
    assert(after.toMap.apply(15) == ((day0.plusDays(7), "m")))
    assert(t.read.filter(col("date") === java.sql.Date.valueOf(day0.plusDays(1)))
      .count() == 9)
  }

  test("a merge's job count stays flat as an uncompacted table's live " +
      "roots grow: the table reads through one relation, not a union") {
    val path = tmpDir("cj_flat") + "/t"
    val t = VersionedTable(spark, path, Seq("id"), Seq("date"))
    // merge d writes day d with ids ≡ d (mod 7): every dir's pk range
    // meets every batch's, so each merge runs its migration probe over
    // all the live roots, and its restage reads one relation over them
    def day(d: Int) = orders((0 until 50).map(j => (7 * j + d, d, s"v$d")))
    t.merge(day(0))                                              // v1
    val jobs = (1 to 6).map(d => jobsDuring(path)(t.merge(day(d)))._2)
    assert(jobs.forall(_ == jobs.head),
      s"jobs per merge over 2..7 live roots: ${jobs.mkString(", ")}")
    assert(t.read.count() == 350 && t.snapshotAt(t.currentVersion).liveDirs.size == 7)
  }

  test("∀ merge batches over a pk≠partition table, int and ASCII-string " +
      "pks, with and without migrations: the table equals the latest-value " +
      "model with no duplicate pk") {
    def draw[A](g: Gen[A], seed: Long): A = g.pureApply(Gen.Parameters.default, Seed(seed))
    // a batch: distinct keys 0..29, each with a value, a partition pick
    // 0..3 and whether it may move (a batch without moves keeps every
    // known key in its current partition)
    val batchGen = for {
      moves <- Gen.oneOf(true, false)
      rows <- Gen.listOfN(12, Gen.zip(Gen.choose(0, 29), Gen.choose(0, 3), Gen.choose(0, 999)))
    } yield (moves, rows.distinctBy(_._1))
    for (stringKeys <- Seq(false, true); seed <- 1L to 3L) {
      val path = tmpDir("cj_prop") + "/t"
      val t = VersionedTable(spark, path, Seq("k"), Seq("p"))
      val model = scala.collection.mutable.Map.empty[Int, (Int, Int)] // k → (p, v)
      def key(k: Int) = if (stringKeys) lit(f"k$k%03d") else lit(k)
      (0 until 4).foreach { step =>
        val (moves, rows) = draw(batchGen, seed * 10 + step)
        val batch = rows.map { case (k, p, v) =>
          (k, if (moves) p else model.get(k).fold(p)(_._1), v)
        }
        batch.foreach { case (k, p, v) => model(k) = (p, v) }
        t.merge(batch.map { case (k, p, v) =>
          spark.range(1).select(key(k).as("k"), lit(p).as("p"), lit(v).as("v"))
        }.reduce(_ unionByName _))
        val got = t.read.select(col("k").cast("string"), col("p"), col("v"))
          .as[(String, Int, Int)].collect().toSeq
        val ctx = s"stringKeys=$stringKeys seed=$seed step=$step moves=$moves"
        assert(got.map(_._1).distinct.size == got.size, s"duplicate pk: $ctx")
        val expected = model.toSeq.map { case (k, (p, v)) =>
          (if (stringKeys) f"k$k%03d" else k.toString, p, v)
        }
        assert(got.toSet == expected.toSet, ctx)
      }
    }
  }

  test("metadata-only commits record the previous version's schema " +
      "verbatim and a fresh handle's commit reads only the log tail") {
    val path = tmpDir("cj_meta") + "/t"
    def handle = VersionedTable(spark, path, Seq("id"), Seq("p"), checkpointInterval = 3)
    val t = handle
    // primitive tuple fields are non-nullable: v1 records nullable:false
    t.overwrite(Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "p", "x"))   // v1
    (3 to 5).foreach(i => t.append(Seq((i.toLong, "a", i)).toDF("id", "p", "x")))  // v2..v4
    def schemaLine(v: Int): String =
      Files.readAllLines(Paths.get(path, "_log", f"v$v%05d.log")).asScala
        .find(_.startsWith("schema=")).get
    assert(schemaLine(1).contains("\"nullable\":false"))
    val fresh = handle
    fresh.setProperties(Map("owner" -> "ops"))                    // v5
    assert(schemaLine(5) == schemaLine(4), "setProperties re-rendered the schema")
    assert(schemaLine(5) == schemaLine(1))
    // checkpoint at v3: the tail is v4 alone, plus the entry the schema
    // is read from
    assert(fresh.logReads <= (4 - 3) + 1, s"opened ${fresh.logReads} log files")
    fresh.addConstraint("pos", "x > 0")                           // v6
    assert(schemaLine(6) == schemaLine(1))
    assert(fresh.read.count() == 5 && fresh.properties == Map("owner" -> "ops"))
  }
}
