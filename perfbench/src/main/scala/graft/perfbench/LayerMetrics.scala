package graft.perfbench

/** Per-layer metrics of a traced run, from the spans the benchmark recorded
  * around its calls, the listener counters charged to them, and the storage
  * probes. Medians are over the traced ops; per-op figures divide a total
  * by the number of traced ops.
  */
object LayerMetrics {

  def apply(run: Run, trace: Trace, cores: Int): Json.Obj = {
    import Stats.median
    val spans = trace.spans.toSeq
    val roots = spans.filter(_.parent == 0)
    val traced = run.ops.filter(o => o.traced && !o.nested).toSeq
    val probe = run.flow.probe
    def durs(p: Span => Boolean) = spans.filter(p).map(_.dur)
    def named(prefix: String) = durs(_.name.startsWith(prefix))
    def incl(p: Span => Boolean): Seq[Counters] = spans.filter(p).map(trace.inclusive)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def perOp(f: Counters => Double) = mean(roots.map(r => f(trace.inclusive(r))))

    // per traced drop: the drop's root span and its quality-layer spans
    val drops = roots.filter(_.layer == "op.drop")
    def underDrop(d: Span, p: Span => Boolean) = spans.filter(s => s.op == d.op && p(s))
    val validateS = drops.map(d => underDrop(d, _.layer == "quality").map(_.dur).sum)
    val inputBytes = drops.map(d =>
      underDrop(d, _.layer == "quality").map(s => trace.counters.get(s.id).fold(0L)(_.inputBytes)).sum.toDouble)
    val fkShuffle = drops.map(d =>
      underDrop(d, _.name == "validate:order_items").map(trace.inclusive(_).shuffleWrite).sum.toDouble)

    val commitSpans = (s: Span) => s.layer == "lake.commit"
    val commitCounters = incl(commitSpans)
    // the canary's commit time, last tenth of the log against the first
    val probeSecs = run.logProbe.sortBy(_._1).map(_._2)
    val tenth = math.max(1, probeSecs.size / 10)
    val commitGrowth = median(probeSecs.takeRight(tenth)) / median(probeSecs.take(tenth))

    val readKinds = Seq("smoke", "point", "range", "travel", "count")
    val readMedians = readKinds.map { k =>
      s"lake.read.${k}_p50_s" -> Json.metric(
        median(run.okOps("read").filter(_.name.startsWith(k)).map(_.secs)), "s")
    }

    val opWall = traced.map(_.secs).sum
    val all = new Counters
    roots.foreach(r => all += trace.inclusive(r))
    val idle = mean(roots.map(r => trace.idleSeconds(r.start, r.end)))

    val progress = trace.progress.toSeq
    def streamMedian(key: String) = median(progress.flatMap(_.get(key)).map(_ / 1000.0))

    // self time per layer; an op's own (root) span time is the benchmark's
    // glue around the calls, except for catalog entries, which have no
    // spans below them
    val self = trace.selfTimes.groupBy { case (s, _) =>
      if (s.layer == "op.catalog") "catalog"
      else if (s.layer.startsWith("op.") || s.layer == "bench") "bench"
      else s.layer
    }.map { case (l, xs) => l -> xs.map(_._2).sum }
    val selfLayers = Seq("quality", "lake.commit", "lake.read", "lake.maint", "catalog", "bench")

    // tracing overhead: traced against untraced medians of the same ops
    val overhead = {
      val pairs = Seq("point", "range", "travel", "count").flatMap { k =>
        val xs = run.ops.filter(o => o.ok && o.name.startsWith(k) && o.kind != "catalog")
        val (on, off) = xs.partition(_.traced)
        if (on.isEmpty || off.isEmpty) None
        else Some((median(on.map(_.secs).toSeq), median(off.map(_.secs).toSeq)))
      }
      pairs.map(_._1).sum / pairs.map(_._2).sum - 1
    }

    Json.Obj(Seq(
      "quality.validate_s" -> Json.metric(median(validateS), "s"),
      "quality.rows_in" -> Json.metric(median(traced.filter(_.kind == "drop").map(_.rows.toDouble)), "rows"),
      "quality.reject_share" -> Json.metric(probe.rowsRejected.toDouble / probe.rowsIn, "ratio"),
      "quality.input_bytes" -> Json.metric(median(inputBytes), "bytes"),
      "quality.fk_shuffle_bytes" -> Json.metric(median(fkShuffle), "bytes"),
      "lake.merge_s" -> Json.metric(median(named("merge:")), "s"),
      "lake.append_s" -> Json.metric(median(named("append:")), "s"),
      "lake.jobs_per_commit" -> Json.metric(mean(commitCounters.map(_.jobs.toDouble)), "count"),
      "lake.tasks_per_commit" -> Json.metric(mean(commitCounters.map(_.tasks.toDouble)), "count"),
      "lake.files_per_commit" -> Json.metric(mean(probe.commits.map(_._1.toDouble).toSeq), "count"),
      "lake.write_amp" -> Json.metric(
        probe.commits.map(_._2).sum.toDouble / math.max(1L, probe.commits.map(_._3).sum), "ratio"),
      "lake.log_reads_per_commit" -> Json.metric(mean(probe.mergeLogReads.map(_.toDouble).toSeq), "count"),
      "lake.commit_growth" -> Json.metric(commitGrowth, "ratio"),
      "lake.snapshot_s" -> Json.metric(median(named("snapshot:")), "s"),
      "lake.scan_s" -> Json.metric(median(named("scan:")), "s"),
      "lake.dirs_scanned_per_read" -> Json.metric(mean(probe.scans.map(_._1.toDouble).toSeq), "count"),
      "lake.pruned_share" -> Json.metric(
        1 - probe.scans.map(_._1).sum.toDouble / math.max(1L, probe.scans.map(_._2).sum), "ratio")
    ) ++ readMedians ++ Seq(
      "lake.maint.compact_s" -> Json.metric(median(named("compact:")), "s"),
      "lake.maint.vacuum_s" -> Json.metric(median(named("vacuum:")), "s"),
      "lake.maint.bytes_rewritten" -> Json.metric(mean(probe.compactBytes.map(_.toDouble).toSeq), "bytes"),
      "lake.maint.files_removed" -> Json.metric(mean(probe.vacuumFiles.map(_.toDouble).toSeq), "count"),
      "spark.planning_s" -> Json.metric(perOp(_.planningMs / 1e3), "s/op"),
      "spark.jobs" -> Json.metric(perOp(_.jobs.toDouble), "count/op"),
      "spark.stages" -> Json.metric(perOp(_.stages.toDouble), "count/op"),
      "spark.tasks" -> Json.metric(perOp(_.tasks.toDouble), "count/op"),
      "spark.task_run_s" -> Json.metric(perOp(_.taskRunMs / 1e3), "s/op"),
      "spark.task_cpu_s" -> Json.metric(perOp(_.taskCpuNs / 1e9), "s/op"),
      "spark.gc_s" -> Json.metric(perOp(_.gcMs / 1e3), "s/op"),
      "spark.shuffle_write_bytes" -> Json.metric(perOp(_.shuffleWrite.toDouble), "bytes/op"),
      "spark.shuffle_read_bytes" -> Json.metric(perOp(_.shuffleRead.toDouble), "bytes/op"),
      "spark.spill_bytes" -> Json.metric(perOp(_.spill.toDouble), "bytes/op"),
      "spark.driver_floor_s" -> Json.metric(idle, "s/op"),
      "spark.core_busy_share" -> Json.metric(all.taskRunMs / 1e3 / (opWall * cores), "ratio")
    ) ++ Catalog.Entries.map { e =>
      s"catalog.${e}_s" -> Json.metric(
        run.okOps("catalog").find(_.name == e).fold(Double.NaN)(_.secs), "s")
    } ++ Seq(
      "stream.triggers" -> Json.metric(progress.size.toDouble, "count"),
      "stream.trigger_p50_s" -> Json.metric(streamMedian("triggerExecution"), "s"),
      "stream.add_batch_s" -> Json.metric(streamMedian("addBatch"), "s"),
      "stream.wal_commit_s" -> Json.metric(streamMedian("walCommit"), "s"),
      "stream.query_planning_s" -> Json.metric(streamMedian("queryPlanning"), "s"),
      "stream.latest_offset_s" -> Json.metric(streamMedian("latestOffset"), "s")
    ) ++ selfLayers.map { l =>
      s"self.${l}_share" -> Json.metric(self.getOrElse(l, 0.0) / opWall, "ratio")
    } ++ Seq(
      "trace.self_sum_share" -> Json.metric(self.values.sum / opWall, "ratio"),
      "trace.overhead_share" -> Json.metric(overhead, "ratio")))
  }
}
