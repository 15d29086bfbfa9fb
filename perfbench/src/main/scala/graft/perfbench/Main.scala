package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The benchmark's JVM side: builds the session, runs one workload as a
  * closed loop with one client for the given seconds, checks every output
  * against the generator, and writes one result file.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *   --data DIR --out FILE [--inject-throw KIND] [--inject-mismatch KIND]
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.All.getOrElse(args("workload"),
      sys.error(s"unknown workload ${args("workload")}"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val tracing = args("trace") == "1"
    val work = args("work")
    val nproc = Runtime.getRuntime.availableProcessors
    val cores = math.min(4, nproc)
    val loadStart = loadavg()
    val cpuStart = cpuTicks()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      // plan text keeps whole file paths: q260 require()s its artifact's
      // path in the plan, and the default 100-character cut drops it once
      // the work directory's path is long
      .config("spark.sql.maxMetadataStringLength", "1000")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val trace = new Trace(spark, tracing)
    val run = new Run(spark, w, seed, work, args("data"), trace,
      args.get("inject-throw"), args.get("inject-mismatch"))
    run.setup()
    run.loop(seconds)
    val extra = run.finish()

    val env = Json.obj(
      "nproc" -> nproc, "cores" -> cores, "seed" -> seed,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "cpu_steal_share" -> {
        val (steal, total) = cpuTicks()
        (steal - cpuStart._1).toDouble / (total - cpuStart._2)
      },
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "spark" -> spark.version, "git_head" -> args.getOrElse("git-head", "unknown"))
    val metrics = if (tracing) LayerMetrics(run, trace, cores) else run.endToEnd()
    Json.write(args("out"), Json.obj(
      "workload" -> w.name, "seed" -> seed, "trace" -> tracing,
      "attempted" -> run.ops.size, "failed" -> run.ops.count(!_.ok),
      "failed_ops" -> run.failures.toSeq,
      "metrics" -> metrics, "detail" -> extra, "env" -> env,
      "catalog_oracle" -> SparkEntry.oracleSql.filter(kv => Catalog.Entries.contains(kv._1))))
    if (tracing) trace.writeSpans(s"$work/spans.jsonl")
    spark.stop()
  }

  def loadavg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ").take(3)
      .map(_.toDouble).toSeq
    catch { case _: Exception => Nil }

  /** (steal, total) CPU ticks of the machine, from /proc/stat. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .split("\\s+").drop(1).map(_.toLong)
      (f.lift(7).getOrElse(0L), f.sum)
    } catch { case _: Exception => (0L, 1L) }

  /** Peak resident set (VmHWM) of this JVM, in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
}
