package graft.lake

/** The commit-log format of [[VersionedTable]], and the table state it
  * replays to. Pure: no session and no filesystem — the table does the I/O
  * (log listings, file reads, the temp-then-rename checkpoint write) and
  * hands this module lines.
  *
  * A log entry `vNNNNN.log` is one `key=value` line per fact; names and
  * expressions inside a value are URL-encoded ([[TableLog.enc]]) so tabs
  * and newlines never break a line. A checkpoint `vNNNNN.checkpoint` is the
  * replayed [[Snapshot]] at that version in the same line style, so a read
  * opens O(checkpointInterval) log files however long the history (Delta's
  * log-checkpoint trick).
  */
private[graft] object TableLog {
  def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")

  /** Partition path of a dir entry (`root/p1=a/p2=b` → `p1=a/p2=b`). */
  def partOf(dir: String): String = dir.split("/", 2).lift(1).getOrElse("")
}

import TableLog.{dec, enc, partOf}

private[graft] final case class LogEntry(
    action: String, adds: Seq[String], removes: Seq[String],
    schemaJson: Option[String],
    stats: Map[String, Map[String, (String, String)]],
    txn: Option[(String, Long)],
    constraintsAdded: Seq[(String, String)],
    constraintsDropped: Seq[String],
    dvAdds: Seq[String],
    gencolsAdded: Seq[(String, String)],
    gencolsDropped: Seq[String],
    ts: Option[Long],
    cdf: Option[String],
    renames: Seq[(String, String)],
    drops: Seq[String],
    undrops: Seq[String],
    propsSet: Seq[(String, String)],
    propsUnset: Seq[String],
    copied: Seq[String],
    // (numFiles, numOutputRows) of the commit's OWN added dirs, recorded
    // at commit time (Delta's operationMetrics) — None for metadata-only
    // commits and entries written before the field existed
    metrics: Option[(Long, Long)])

private[graft] object LogEntry {
  def parse(lines: Seq[String]): LogEntry = {
    def all(p: String) = lines.filter(_.startsWith(p)).map(_.stripPrefix(p))
    def first(p: String) = lines.collectFirst { case l if l.startsWith(p) => l.stripPrefix(p) }
    def pairs(p: String) = all(p).map(_.split("\t", 2))
      .collect { case Array(a, b) => (dec(a), dec(b)) }
    val stats = all("stats=").map(_.split("\t", -1))
      .collect { case Array(d, c, mn, mx) => (dec(d), dec(c), dec(mn), dec(mx)) }
      .groupBy(_._1)
      .map { case (d, xs) => d -> xs.map(x => x._2 -> (x._3, x._4)).toMap }
    LogEntry(
      first("action=").getOrElse("?"),
      all("add="),
      all("remove="),
      first("schema="),
      stats,
      first("txn=").map { l =>
        val Array(app, ver) = l.split("\t", 2)
        (dec(app), ver.toLong)
      },
      pairs("constraint="),
      all("dropconstraint=").map(dec),
      all("dvadd="),
      pairs("gencol="),
      all("dropgencol=").map(dec),
      first("ts=").map(_.toLong),
      first("cdf="),
      pairs("rename="),
      all("dropcol=").map(dec),
      all("undropcol=").map(dec),
      pairs("setprop="),
      all("unsetprop=").map(dec),
      all("copied=").map(dec),
      // tolerant like the rename=/setprop= parsers: a malformed metrics
      // line (foreign writer, truncated write) degrades to no-metrics — it
      // must never brick log replay for the whole table
      first("metrics=").flatMap(_.split("\t", 2) match {
        case Array(nf, nr) => scala.util.Try((nf.toLong, nr.toLong)).toOption
        case _ => None
      }))
  }
}

/** Table state at one version: one fold of [[LogEntry]]s from the nearest
  * checkpoint. Every field is what a writer or reader needs without a
  * data scan.
  *
  * @param liveDirs relative data dirs readable at this version
  * @param dvDirs live deletion-vector (tombstone) dirs — the merge-on-read
  *   side of `deleteMor`
  * @param txnWatermarks highest committed transaction version per writer
  *   app (Delta's txnAppId/txnVersion idempotency ledger)
  * @param constraints active CHECK constraints, name → boolean SQL
  * @param properties table properties, engine-internal `graft.` keys
  *   included (the table's `properties` view carves those out)
  * @param copiedFiles source files COPY INTO already ingested — names only,
  *   bounded by files ever copied
  * @param generatedCols generated-column definitions, name → SQL
  * @param colMap column mapping, LOGICAL → PHYSICAL name; identity
  *   mappings are never stored
  * @param dropped PHYSICAL names of dropped (and not since restored)
  *   columns — their data stays in old files and is projected away
  * @param analyzed ANALYZE backfill stats, dir → col → (min, max); dirs
  *   are immutable, so the overlay never goes stale
  */
private[graft] final case class Snapshot(
    liveDirs: Seq[String],
    dvDirs: Seq[String],
    txnWatermarks: Map[String, Long],
    constraints: Map[String, String],
    properties: Map[String, String],
    copiedFiles: Set[String],
    generatedCols: Map[String, String],
    colMap: Map[String, String],
    dropped: Set[String],
    analyzed: Map[String, Map[String, (String, String)]]) {

  /** The state after committing `e`. */
  def step(e: LogEntry): Snapshot = Snapshot(
    liveDirs.filterNot(e.removes.contains) ++ e.adds,
    // Tombstones are PARTITION-scoped: any commit that restages a
    // partition's data (merge/delete/update — whose staged output is the
    // DV-aware read, so suppressed rows stay gone) kills that partition's
    // tombstones, and whole-table rewrites or a restore reset the set to
    // exactly what the commit declares
    e.action match {
      case "overwrite" | "compact" | "restore" | "clone" | "fsck" => e.dvAdds
      // append commits add dirs WITHOUT restaging the partition — its
      // tombstones must survive, or suppressed rows would resurrect
      // (append refuses keys colliding with tombstoned rows for the
      // same reason: the new dir never absorbs the suppressed state)
      case "insert" => dvDirs ++ e.dvAdds
      case _ =>
        val touched = e.adds.map(partOf).toSet
        dvDirs.filterNot(d => touched.contains(partOf(d))) ++ e.dvAdds
    },
    e.txn.fold(txnWatermarks) { case (a, x) =>
      if (txnWatermarks.get(a).forall(_ < x)) txnWatermarks.updated(a, x)
      else txnWatermarks
    },
    (constraints ++ e.constraintsAdded) -- e.constraintsDropped,
    (properties ++ e.propsSet) -- e.propsUnset,
    copiedFiles ++ e.copied,
    (generatedCols ++ e.gencolsAdded) -- e.gencolsDropped,
    if (e.renames.isEmpty) colMap
    else {
      // one entry's renames apply ATOMICALLY: every old name resolves
      // against the pre-entry state, so a restore emitting a swap set
      // (x→y, y→x) lands correctly instead of chaining through itself.
      // A binding resolving back to identity (a restore undoing a
      // rename) is DROPPED, keeping the never-store-identity invariant
      // (and the cm.isEmpty fast paths) true
      val resolved = e.renames.map { case (o, n) => n -> colMap.getOrElse(o, o) }
        .filter { case (n, p) => n != p }
      (colMap -- e.renames.map(_._1)) ++ resolved
    },
    dropped ++ e.drops -- e.undrops,
    // only ANALYZE commits overlay: every other entry's stats= lines are
    // write-time stats of its own added dirs, looked up by dir
    if (e.action != "analyze") analyzed
    else e.stats.foldLeft(analyzed) { case (acc, (d, m)) =>
      acc + (d -> (acc.getOrElse(d, Map.empty) ++ m))
    })

  /** The checkpoint file's lines. Key order, sort order and encoding are
    * the format: readers of any age parse them, so they never change.
    */
  def checkpointLines: Seq[String] = {
    def kv(key: String, m: Map[String, String]) =
      m.toSeq.sortBy(_._1).map { case (k, x) => s"$key=${enc(k)}\t${enc(x)}" }
    liveDirs.map("live=" + _) ++
      txnWatermarks.toSeq.sortBy(_._1).map { case (a, x) => s"txnwm=${enc(a)}\t$x" } ++
      kv("constr", constraints) ++
      dvDirs.map("livedv=" + _) ++
      kv("genc", generatedCols) ++
      kv("colmap", colMap) ++
      dropped.toSeq.sorted.map(p => s"dropped=${enc(p)}") ++
      kv("tprop", properties) ++
      copiedFiles.toSeq.sorted.map(f => s"copiedf=${enc(f)}") ++
      analyzed.toSeq.sortBy(_._1).flatMap { case (d, m) =>
        m.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
          s"astat=${enc(d)}\t${enc(c)}\t${enc(mn)}\t${enc(mx)}"
        }
      }
  }
}

private[graft] object Snapshot {
  val empty: Snapshot = Snapshot(Nil, Nil, Map.empty, Map.empty, Map.empty,
    Set.empty, Map.empty, Map.empty, Set.empty, Map.empty)

  /** Parse [[Snapshot.checkpointLines]]. A key a checkpoint lacks (one
    * written before the field existed) reads as empty.
    */
  def fromCheckpoint(lines: Seq[String]): Snapshot = {
    def all(p: String) = lines.filter(_.startsWith(p)).map(_.stripPrefix(p))
    def kv(p: String) = all(p).map(_.split("\t", 2))
      .collect { case Array(n, e) => dec(n) -> dec(e) }.toMap
    Snapshot(
      all("live="),
      all("livedv="),
      kv("txnwm=").map { case (a, x) => a -> x.toLong },
      kv("constr="),
      kv("tprop="),
      all("copiedf=").map(dec).toSet,
      kv("genc="),
      kv("colmap="),
      all("dropped=").map(dec).toSet,
      all("astat=").map(_.split("\t", 4))
        .collect { case Array(d, c, mn, mx) => (dec(d), dec(c), dec(mn), dec(mx)) }
        .groupBy(_._1).map { case (d, xs) =>
          d -> xs.map(x => x._2 -> ((x._3, x._4))).toMap })
  }
}
