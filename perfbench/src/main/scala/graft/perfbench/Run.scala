package graft.perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** One timed op: `kind` is drop, read, maint or catalog; `name` says which
  * (`point-3.1`, `smoke-orders`, an entry name …). A failed op keeps its
  * time here only for the record; every latency metric skips it.
  */
final case class Op(kind: String, name: String, secs: Double, ok: Boolean,
                    traced: Boolean, nested: Boolean, rows: Long)

/** A workload: the shape of its drops. */
final case class Workload(name: String, shape: Shape)

object Workloads {
  val All: Map[String, Workload] = Seq(
    // the reference's daily volume: ~500 orders and ~2.7k items a day
    Workload("daily_drops", Shape(orders = 500, itemsPerOrder = 5, newProducts = 20,
      dates = 1, redeliverShare = 0.02)),
    // large drops over a bounded set of dates, with overlapping keys
    Workload("bulk_load", Shape(orders = 8000, itemsPerOrder = 4, newProducts = 200,
      dates = 8, redeliverShare = 0.05))
  ).map(w => w.name -> w).toMap
}

/** One run of a workload: set-up, the timed closed loop with one client,
  * the final checks, and the metrics of both kinds.
  *
  * Each cycle is one day of the paper's flow. A bronze drop lands, is
  * validated and merged into silver, and the three smoke reads run
  * (together the `drop` op). The silver read mix follows: point lookups
  * with data skipping, a one-month revenue join, a time-travel count and a
  * metadata-only count. Then compaction and vacuum of the date-partitioned
  * tables (the `maint` op). After the cycles, a traced run also runs the
  * commit-path canary and each hot catalog entry once.
  */
final class Run(spark: SparkSession, w: Workload, seed: Long, work: String,
                dataDir: String, trace: Trace, injectThrow: Option[String],
                injectMismatch: Option[String]) {

  private val gen = new Gen(seed, w.shape, LocalDate.parse("2025-04-01"))
  val flow = new Flow(spark, s"$work/lake", trace, gen)
  private val bronze = s"$work/bronze"
  private val catalogIn = s"$work/catalog_in"
  private val catalogOut = s"$work/catalog_out"
  private val rng = new java.util.SplittableRandom(seed ^ 0x5eedL)

  val ops = mutable.ArrayBuffer.empty[Op]
  val failures = mutable.ArrayBuffer.empty[String]
  var setupSecs = Double.NaN
  var loopSecs = Double.NaN
  private val injected = mutable.Set.empty[String]
  /** The commit-path canary of a traced run, see [[Flow.logProbe]]. */
  var logProbe: Seq[(Int, Double, Int)] = Nil

  /** Everything before the first timed op: for a traced run the catalog
    * entries' inputs; the seed drop, which creates the silver tables; and
    * one untimed warm-up cycle.
    */
  def setup(): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def since = (System.currentTimeMillis() - jvmStart) / 1000.0
    setupPhases += "session_s" -> since
    trace.active = false
    if (trace.on) Catalog.prepare(dataDir, catalogIn)
    setupPhases += "inputs_s" -> since
    val spec = gen.next(bronze, products = Run.SeedProducts, orders = Run.SeedOrders, dates = 1)
    failures ++= flow.ingest(spec).map("setup: " + _)
    Run.deleteTree(new java.io.File(spec.dir))
    flow.registerSql()
    setupPhases += "seed_drop_s" -> since
    // one untimed cycle with a daily-sized drop, so that every timed op
    // runs warm code (the seed drop only created the tables); set-up is the
    // same for every workload
    warming = true
    cycle(0, gen.next(bronze, products = 20, orders = 500, dates = 1))
    warming = false
    setupSecs = since
    setupPhases += "warm_cycle_s" -> setupSecs
  }

  /** Seconds from JVM start to the end of each set-up phase. */
  private val setupPhases = mutable.LinkedHashMap.empty[String, Double]
  /** Ops of the warm-up cycle are checked but not recorded. */
  private var warming = false
  /** Nesting of timed ops: a drop's smoke reads are ops inside it. */
  private var depth = 0

  /** Time one op. `body` does the engine work and returns the op's check,
    * which runs after the clock stops. An op that throws or fails its check
    * is recorded as failed, with its name and the reason.
    */
  private def timed(kind: String, name: String, rows: Long = 0)(
      body: => Flow.Check): Seq[String] = {
    depth += 1
    val t0 = System.nanoTime()
    val outcome =
      try {
        if (!warming && injectThrow.contains(kind) && injected.add("throw"))
          throw new IllegalStateException(s"injected failure in $name")
        Right(trace.span(name, s"op.$kind")(body))
      } catch { case e: Exception => Left(e) }
      finally depth -= 1
    val secs = (System.nanoTime() - t0) / 1e9
    val bad = outcome match {
      case Right(check) =>
        val f = check()
        if (!warming && injectMismatch.contains(kind) && injected.add("mismatch"))
          f :+ "injected output mismatch"
        else f
      case Left(e) => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
    }
    if (!warming) ops += Op(kind, name, secs, bad.isEmpty, trace.active, depth > 0, rows)
    failures ++= bad.map(b => (if (warming) "setup " else "") + s"$name: $b")
    bad
  }

  def loop(seconds: Double): Unit = {
    val start = System.nanoTime()
    val cycles = math.max(1, math.round(seconds / Run.CycleSecs).toInt)
    for (no <- 1 to cycles) cycle(no, gen.next(bronze))
    if (trace.on) {
      logProbe = flow.logProbe(Run.ProbeCommits)
      Catalog.Entries.foreach(entry)
    }
    trace.active = false
    loopSecs = (System.nanoTime() - start) / 1e9
  }

  private def cycle(no: Int, spec: DropSpec): Unit = {
    trace.active = trace.on && !warming
    timed("drop", s"drop-${spec.no}", spec.bronzeRows) {
      val f = flow.ingest(spec)
      val smoke = Gen.Datasets.flatMap(ds => timed("read", s"smoke-$ds")(flow.smoke(ds)))
      () => f ++ smoke
    }
    // a traced run traces every other read of the mix, so it can time
    // its own overhead on the same reads
    var n = 0
    def read(name: String)(body: => Flow.Check): Unit = {
      n += 1
      trace.active = trace.on && !warming && n % 2 == 0
      timed("read", name)(body)
      trace.active = trace.on && !warming
    }
    for (i <- 0 until (if (warming) 1 else Run.Points))
      read(s"point-$no.$i")(flow.point(rng.nextInt(gen.orderCount)))
    read(s"range-$no")(flow.range(spec.firstDate.minusDays(29),
      spec.firstDate.plusDays(w.shape.dates - 1)))
    val versions = flow.readableOrderVersions
    read(s"travel-$no")(flow.travel(versions(rng.nextInt(versions.size))))
    read(s"count-$no")(flow.fastCount())
    timed("maint", s"maint-$no") { flow.maintain(Run.Retain); () => Nil }
    Run.deleteTree(new java.io.File(spec.dir))
  }

  /** One catalog entry, forced through the `noop` sink; its result is then
    * written, untimed, for the oracle check.
    */
  private def entry(name: String): Unit = {
    var df: DataFrame = null
    try {
      timed("catalog", name) {
        df = SparkEntry.queries(name)(spark, catalogIn)
        df.write.format("noop").mode("overwrite").save()
        () => Nil
      }
      if (df != null) df.write.mode("overwrite").parquet(s"$catalogOut/$name")
    } catch {
      case e: Exception => failures += s"$name: writing the result threw ${e.getMessage}"
    } finally graft.ops.Caches.releaseAll()
  }

  private var storage = (0L, 0L)
  private var peakRss = Double.NaN

  /** Untimed checks of the final state; returns detail for the result. */
  def finish(): Json.Obj = {
    failures ++= flow.finalState().map("final state: " + _)
    storage = flow.storage()
    peakRss = Main.peakRssMb()
    trace.drain()
    val (readPct, readN, readTail) = Stats.tail(okSecs("read"))
    val (dropPct, dropN, dropTail) = Stats.tail(okSecs("drop"))
    Json.obj(
      "cycles" -> ops.count(_.kind == "drop"),
      "loop_s" -> loopSecs,
      "read_tail" -> Json.obj("percentile" -> readPct, "n" -> readN, "s" -> readTail),
      "drop_tail" -> Json.obj("percentile" -> dropPct, "n" -> dropN, "s" -> dropTail),
      "storage_bytes" -> storage._1, "live_bytes" -> storage._2,
      "ops" -> ops.map(o => Seq(o.kind, o.name, o.secs, o.ok, o.traced)),
      "unattributed_jobs" -> trace.unattributedJobs,
      "commit_vs_log" -> logProbe.map { case (len, secs, reads) =>
        Json.obj("log_length" -> len, "commit_s" -> secs, "log_reads" -> reads)
      },
      "setup_phases" -> setupPhases)
  }

  def okOps(kind: String): Seq[Op] = ops.filter(o => o.ok && o.kind == kind).toSeq
  def okSecs(kind: String): Seq[Double] = okOps(kind).map(_.secs)

  def endToEnd(): Json.Obj = {
    val ingestSecs = (okOps("drop") ++ okOps("maint")).map(_.secs).sum
    Json.obj(
      "setup_s" -> Json.metric(setupSecs, "s"),
      "drop_p50_s" -> Json.metric(Stats.median(okSecs("drop")), "s"),
      "ingest_rows_per_s" -> Json.metric(okOps("drop").map(_.rows).sum / ingestSecs, "rows/s"),
      "read_p50_s" -> Json.metric(Stats.median(okSecs("read")), "s"),
      "storage_amp" -> Json.metric(storage._1.toDouble / storage._2, "ratio"),
      "peak_rss_mb" -> Json.metric(peakRss, "MB"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it:
    * (percentile, n, value); NaN below eleven samples.
    */
  def tail(xs: Seq[Double]): (Double, Int, Double) =
    if (xs.size < 11) (Double.NaN, xs.size, Double.NaN)
    else {
      val s = xs.sorted
      (100.0 * (s.size - 10) / s.size, s.size, s(s.size - 11))
    }
}

object Run {
  /** The seed drop that creates the silver tables. */
  val SeedProducts = 1000
  val SeedOrders = 500
  /** Point lookups per cycle. */
  val Points = 6
  /** Versions a vacuum keeps readable. */
  val Retain = 4
  /** Nominal seconds of one cycle: a run does its seconds over this many
    * cycles, at least one, so the parent and a change always do the same
    * work.
    */
  val CycleSecs = 16.0
  /** Commits of the commit-path canary: three checkpoint intervals. */
  val ProbeCommits = 30

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
