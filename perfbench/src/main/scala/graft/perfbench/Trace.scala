package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark work attributed to one span (by job group, never by timing). */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var inputBytes, shuffleWrite, shuffleRead, spill = 0L
  var planningMs = 0L
  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; planningMs += o.planningMs
  }
}

/** One traced interval: `op` is the timed operation it belongs to, `parent`
  * the enclosing span (0 for an op's root span). Times are epoch millis
  * with a nanosecond fraction, so they line up with Spark's task times.
  */
final case class Span(id: Int, name: String, layer: String, parent: Int, op: Int,
                      start: Double, end: Double) {
  def dur: Double = (end - start) / 1000.0
}

/** In-memory tracer around the benchmark's calls into the engine.
  *
  * When off, [[span]] only runs its body. When on, every span sets a job
  * group that names it, so the listeners below can charge each Spark job,
  * stage, task and query plan to the span that ran it. Streaming queries run
  * their batches under their own job group (the run id); a query started
  * inside a span is mapped to that span when it starts. Spans are kept in
  * memory and written once, at the end of the run.
  */
final class Trace(spark: SparkSession, val on: Boolean) {
  private val sc = spark.sparkContext
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  /** Wall clock in epoch millis, at nanosecond resolution. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.HashMap.empty[Int, Counters]
  /** (launch, finish) epoch millis of every task. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Streaming progress: durationMs key → ms, per trigger. */
  val progress = mutable.ArrayBuffer.empty[Map[String, Long]]
  /** Jobs started outside any span (the untraced reads of a traced run). */
  var unattributedJobs = 0L

  /** Whether spans are recorded now. A traced run turns it off for every
    * other read of the mix, to measure its own overhead on the same reads.
    */
  var active: Boolean = on

  private var nextId = 1
  private var stack: List[Int] = Nil
  private var currentOp = 0
  @volatile private var current = 0
  private val groupSpan = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Integer, Integer]()
  private val execSpan = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Integer]()

  private def group(id: Int) = s"perfbench-span-$id"

  /** Run `f` as a span of `layer`; a span with no enclosing span starts a
    * new op.
    */
  def span[T](name: String, layer: String)(f: => T): T =
    if (!active) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      if (parent == 0) currentOp = id
      groupSpan.put(group(id), id)
      stack = id :: stack
      current = id
      sc.setJobGroup(group(id), name)
      val start = nowMs
      try f
      finally {
        val end = nowMs
        spans += Span(id, name, layer, parent, currentOp, start, end)
        stack = stack.tail
        current = stack.headOption.getOrElse(0)
        if (current == 0) sc.clearJobGroup() else sc.setJobGroup(group(current), name)
      }
    }

  private def charge(span: Integer): Counters =
    synchronized(counters.getOrElseUpdate(span.intValue, new Counters))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.flatMap(x => Option(groupSpan.get(x))) match {
        case Some(s) =>
          charge(s).jobs += 1
          e.stageIds.foreach(st => stageSpan.put(st, s))
        case None => synchronized(unattributedJobs += 1)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => synchronized(charge(s).stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val info = e.taskInfo
      synchronized {
        if (info != null) taskIntervals += ((info.launchTime, info.finishTime))
        Option(stageSpan.get(e.stageId)).foreach { s =>
          val c = charge(s)
          c.tasks += 1
          val m = e.taskMetrics
          if (m != null) {
            c.taskRunMs += m.executorRunTime
            c.taskCpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.inputBytes += m.inputMetrics.bytesRead
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
    // planning phases (analysis, optimization, physical planning) of each
    // finished query, charged to the span whose job group started it
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.flatMap(g => Option(groupSpan.get(g)))
          .foreach(span => execSpan.put(s.executionId, span))
      case s: SparkListenerSQLExecutionEnd =>
        for {
          span <- Option(execSpan.remove(s.executionId))
          qe <- org.apache.spark.sql.PerfbenchSql.queryExecution(s)
        } {
          val ms = qe.tracker.phases.values.map(_.durationMs).sum
          synchronized(charge(span).planningMs += ms)
        }
      case _ => ()
    }
  }

  private val streamListener = new StreamingQueryListener {
    // called synchronously from start(), on the thread that owns the span
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (current != 0) groupSpan.put(e.runId.toString, current)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      import scala.jdk.CollectionConverters._
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      synchronized(progress += d)
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (on) {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = if (on) org.apache.spark.PerfbenchBus.drain(sc)

  /** Counters of a span and all spans below it. */
  def inclusive(root: Span): Counters = {
    val kids = spans.groupBy(_.parent)
    val acc = new Counters
    def walk(s: Span): Unit = {
      counters.get(s.id).foreach(acc += _)
      kids.getOrElse(s.id, Nil).foreach(walk)
    }
    walk(root)
    acc
  }

  /** Seconds of [start, end] in which no task ran, from task intervals. */
  def idleSeconds(start: Double, end: Double): Double = {
    val iv = synchronized(taskIntervals.toSeq)
      .filter { case (a, b) => b > start && a < end }
      .map { case (a, b) => (math.max(a.toDouble, start), math.min(b.toDouble, end)) }
      .sortBy(_._1)
    var busy = 0.0; var curA = Double.NaN; var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) busy += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) busy += curB - curA
    ((end - start) - busy) / 1000.0
  }

  /** Write every span, with the counters charged to it, as JSON lines. */
  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val c = counters.getOrElse(s.id, new Counters)
      w.println(Json.render(Json.obj("id" -> s.id, "name" -> s.name,
        "layer" -> s.layer, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.start, "end_ms" -> s.end, "jobs" -> c.jobs,
        "stages" -> c.stages, "tasks" -> c.tasks, "task_run_ms" -> c.taskRunMs,
        "task_cpu_ns" -> c.taskCpuNs, "gc_ms" -> c.gcMs,
        "input_bytes" -> c.inputBytes, "shuffle_write_bytes" -> c.shuffleWrite,
        "shuffle_read_bytes" -> c.shuffleRead, "spill_bytes" -> c.spill,
        "planning_ms" -> c.planningMs)))
    } finally w.close()
  }

  /** Self time of each span: its duration minus its children's. */
  def selfTimes: Seq[(Span, Double)] = {
    val childSum = spans.groupBy(_.parent).map { case (p, ks) => p -> ks.map(_.dur).sum }
    spans.toSeq.map(s => s -> (s.dur - childSum.getOrElse(s.id, 0.0)))
  }
}
