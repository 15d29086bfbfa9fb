package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, GraftSession, SparkEntry}
import graft.lake.VersionedTable

/** The diagnostics main: one session, one mode per run. Diagnostic only —
  * not part of the driver contract.
  *
  *   sbt "runMain graft.tools.Diag <mode> [args]"
  *
  * Per-query modes run over the catalog entries selected by
  * SPARK_GRAFT_ONLY (all when unset), in name order:
  *  - `explain <sfDir> <outDir>` — `.explain("formatted")` of each query to
  *    `<outDir>/<name>.txt`, for offline pushdown/broadcast/partial-agg review.
  *  - `codegen <sfDir> <outDir>` — every WholeStageCodegen unit of each
  *    query's executed plan to `<outDir>/<name>.txt`, so a Janino parse
  *    failure can be located by line number.
  *  - `strict <sfDir>` — runs each query with `spark.sql.codegen.fallback=false`
  *    and CODEGEN_ONLY factory mode, so a generated-code CompileException
  *    throws with the query name instead of silently degrading that plan to
  *    interpreted evaluation.
  *  - `cold <sfDir>` — the first (cold) and a second (warm) execution of
  *    each query in this JVM: the honest per-entry cost of the
  *    fixture-memoized lifecycles (q252/q258/q259). One JSON line per query.
  *
  * Commit-path modes:
  *  - `commit [n]` — one partitioned table, a bulk build, then n small
  *    appends and n merges: the maintenance family's fixed cost (n = 12).
  *  - `q117 <sfDir>` — per-phase wall time and Spark-job count of the q117
  *    workload (overwrite → rename → merge → time-travel read → read).
  *  - `canary [n]` — n commits through one table, per-commit time by
  *    decile: commit cost must stay O(checkpointInterval), never
  *    O(commits) (n = 300; `CommitLogAgeSpec` asserts it at a smaller n).
  *  - `bloom <sfDir>` — point lookups on a 16-dir md5-keyed table with and
  *    without a bloom index: total and per-lookup seconds, and the dirs
  *    each scanned.
  *
  * Exits non-zero when a per-query mode sees a query fail.
  */
object Diag {
  private val Modes =
    Set("explain", "codegen", "strict", "cold", "commit", "q117", "canary", "bloom")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    require(Modes.contains(mode),
      s"usage: Diag <${Modes.toSeq.sorted.mkString("|")}> [args] — got '$mode'")
    def arg(i: Int): String = args.lift(i).getOrElse(
      throw new IllegalArgumentException(s"Diag $mode: missing argument $i"))
    val builder =
      if (mode != "strict") GraftSession.builder()
      else GraftSession.builder()
        .config("spark.sql.codegen.fallback", "false")
        .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ok = mode match {
      case "commit" => commitBench(spark, args.lift(1).fold(12)(_.toInt)); true
      case "q117" => profileQ117(spark, arg(1)); true
      case "canary" => canary(spark, args.lift(1).fold(300)(_.toInt)); true
      case "bloom" => bloomProbe(spark, arg(1)); true
      case _ => perQuery(spark, mode, arg(1),
        if (mode == "explain" || mode == "codegen") arg(2) else "")
    }
    spark.stop()
    if (!ok) sys.exit(1)
  }

  private def s3(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", d)

  /** The loop the per-query modes share; true when no query failed. */
  private def perQuery(spark: SparkSession, mode: String, sfDir: String,
      outDir: String): Boolean = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => SparkEntry.selected(only, n) }
    if (outDir.nonEmpty) new java.io.File(outDir).mkdirs()
    // absorb generic JVM/codegen/first-scan warm-up on an unrelated cheap
    // query, so the first measured entry's cold number is ITS cost
    if (mode == "cold")
      SparkEntry.queries.get("q01_cast_enforce")
        .foreach(Bench.once(spark, "q01_cast_enforce", _, sfDir))
    val failed = selected.filterNot { case (name, fn) =>
      mode match {
        case "strict" => Bench.once(spark, name, fn, sfDir).isDefined
        case "cold" =>
          (for (cold <- Bench.once(spark, name, fn, sfDir);
                warm <- Bench.once(spark, name, fn, sfDir))
            yield println(s"""{"q":"$name","cold_sec":${s3(cold)},"warm_sec":${s3(warm)}}""")
          ).isDefined
        case _ =>
          try {
            val qe = fn(spark, sfDir).queryExecution
            val text =
              if (mode == "explain")
                qe.explainString(org.apache.spark.sql.execution.FormattedMode)
              else {
                // adaptive execution plans its codegen stages only as it
                // runs: unexecuted, the plan holds no WholeStageCodegen unit
                qe.executedPlan.execute().foreach(_ => ())
                org.apache.spark.sql.execution.debug.codegenString(qe.executedPlan)
              }
            Files.writeString(Paths.get(outDir, s"$name.txt"), text)
            true
          } catch { case e: Throwable =>
            System.err.println(s"[diag] $name failed: ${e.getMessage}")
            false
          } finally graft.ops.Caches.releaseAll()
      }
    }.map(_._1)
    println(s"[diag] $mode: ${selected.size} queries, ${failed.size} failed" +
      (if (failed.isEmpty) "" else failed.mkString(" (", ",", ")")))
    failed.isEmpty
  }

  private def commitBench(spark: SparkSession, n: Int): Unit = {
    val work = graft.ops.WorkDirs.workDir("graft_commitbench")
    // statsCols carries a DATA column, so footers are read at stage time
    // and the pk piggybacks its min/max — the posture of a production
    // table that wants data skipping AND collision-scan pruning
    val t = VersionedTable(spark, s"$work/t",
      Seq("id"), Seq("grp"), statsCols = Seq("grp", "v"))
    def batch(lo: Long, m: Long) = spark.range(lo, lo + m)
      .select(col("id"), pmod(col("id"), lit(16L)).as("grp"),
        (col("id") * 3).as("v"))
    t.overwrite(batch(0, 20000))
    // warm the code paths
    t.append(batch(1000000, 500))
    t.merge(batch(0, 500).withColumn("v", col("v") + 1))
    val t0 = System.nanoTime()
    (1 to n).foreach(i => t.append(batch(1000000L + i * 10000, 500)))
    val tA = System.nanoTime()
    (1 to n).foreach(i => t.merge(batch(i * 100L, 500).withColumn("v", col("v") + i)))
    val tM = System.nanoTime()
    println(s"""{"diag":"commit","n":$n,"append_avg_sec":${s3((tA - t0) / 1e9 / n)},""" +
      s""""merge_avg_sec":${s3((tM - tA) / 1e9 / n)}}""")
  }

  /** Per-phase wall time + Spark-job count for the q117 workload, two
    * passes (first = warm-up), second reported. The phase boundaries are
    * exactly q117's statements, so a climb localizes to one named phase.
    */
  private def profileQ117(spark: SparkSession, sfDir: String): Unit = {
    val jobCount = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobCount.incrementAndGet()
    })
    def once(tag: String): Unit = {
      val work = graft.ops.WorkDirs.workDir("graft_probe117")
      val vt = VersionedTable(spark, s"$work/t", Seq("o_orderkey"), Seq("status"))
      val base = graft.io.Sources.table(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").as("price"),
          col("o_orderstatus").as("status"))
      val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Int)]
      def phase[T](name: String)(body: => T): T = {
        // brief settle so async listener-bus job events land in their phase
        Thread.sleep(150)
        val j0 = jobCount.get(); val t0 = System.nanoTime()
        val r = body
        Thread.sleep(150)
        phases += ((name, (System.nanoTime() - t0) / 1e9 - 0.15, jobCount.get() - j0))
        r
      }
      phase("overwrite_v1") { vt.overwrite(base) }
      phase("rename_v2") { vt.renameColumn("price", "amount") }
      phase("merge_v3") {
        vt.merge(base.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), (col("price") + 500.0).as("amount"),
            col("status")))
      }
      phase("read_v1_cols") {
        require(vt.readVersion(1).columns.contains("price"))
      }
      phase("read_final") {
        vt.read.select("o_orderkey", "amount", "status").orderBy("o_orderkey")
          .write.format("noop").mode("overwrite").save()
      }
      val total = phases.map(_._2).sum
      val detail = phases.map { case (n, s, j) =>
        s""""$n":{"sec":${s3(s)},"jobs":$j}""" }.mkString(",")
      println(s"""{"diag":"q117","pass":"$tag","total":${s3(total)},$detail}""")
    }
    once("warm-up")
    once("warm")
  }

  /** Drive `n` commits through one table — repeating cycles of append /
    * setProperties (metadata-only) / merge — and report per-commit wall
    * time by decile. Flat deciles = commit cost independent of log age.
    */
  private def canary(spark: SparkSession, n: Int): Unit = {
    val work = graft.ops.WorkDirs.workDir("graft_probe_canary")
    val vt = VersionedTable(spark, s"$work/t", Seq("id"), Seq("p"),
      statsCols = Seq("id"))
    val sp = spark
    import sp.implicits._
    def batch(lo: Int): DataFrame =
      (lo until lo + 50).map(i => (i, i % 4, s"v$i")).toDF("id", "p", "payload")
    vt.overwrite(batch(0))
    val times = (0 until n).map { i =>
      val t0 = System.nanoTime()
      i % 3 match {
        case 0 => vt.append(batch(1000 + i * 50))
        case 1 => vt.setProperties(Map(s"probe.k${i % 7}" -> s"x$i"))
        case _ => vt.merge(batch(1000 + (i - 2) * 50)
          .withColumn("payload", concat(lit("u"), col("payload"))))
      }
      (System.nanoTime() - t0) / 1e9
    }
    val dec = times.grouped(math.max(1, n / 10)).map(g => g.sum / g.length).toSeq
    println(s"""{"diag":"canary","n":$n,"final_version":${vt.currentVersion},""" +
      s""""decile_avg_sec":[${dec.map(s3).mkString(",")}],""" +
      s""""first":${s3(dec.head)},"last":${s3(dec.last)}}""")
  }

  /** Bloom-skipping win at sf scale: a 16-dir table keyed by an md5
    * fingerprint (min/max stats useless — every dir straddles every key),
    * point lookups measured warm with and without the index, plus dirs
    * actually scanned: scan 1/16th of the table instead of all of it.
    */
  private def bloomProbe(spark: SparkSession, sfDir: String): Unit = {
    val work = graft.ops.WorkDirs.workDir("graft_probe_bloom")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), md5(col("o_orderkey").cast("string")).as("fp"),
        col("o_totalprice"))
    val vt = VersionedTable(spark, s"$work/t", Seq("o_orderkey"))
    (0 until 16).foreach { i =>
      val part = orders.filter(col("o_orderkey") % 16 === i)
      if (i == 0) vt.overwrite(part) else vt.append(part)
    }
    val keys = Seq(1L, 5L, 7L, 32L, 33L)
    def lookups(): (Double, Int) = {
      var dirs = 0
      val t0 = System.nanoTime()
      keys.foreach { k =>
        vt.readWhere(col("fp") === graft.ops.Exprs.md5Hex(k)).count()
        dirs += vt.lastScanDirs
      }
      ((System.nanoTime() - t0) / 1e9, dirs)
    }
    lookups() // warm (plans, code, FS caches)
    val (noIdxSec, noIdxDirs) = lookups()
    val tIdx0 = System.nanoTime()
    val sidecars = vt.createBloomIndex(Map("fp" -> ((0.01, None))))
    val buildSec = (System.nanoTime() - tIdx0) / 1e9
    lookups() // warm the sidecar cache
    val (idxSec, idxDirs) = lookups()
    println(s"""{"diag":"bloom","rows":${vt.read.count()},"dirs":16,""" +
      s""""lookups":${keys.length},"sidecars_built":$sidecars,""" +
      s""""build_sec":${s3(buildSec)},""" +
      s""""no_index_sec":${s3(noIdxSec)},"no_index_dirs_scanned":$noIdxDirs,""" +
      s""""no_index_per_lookup_sec":${s3(noIdxSec / keys.length)},""" +
      s""""indexed_sec":${s3(idxSec)},"indexed_dirs_scanned":$idxDirs,""" +
      s""""indexed_per_lookup_sec":${s3(idxSec / keys.length)}}""")
  }
}
