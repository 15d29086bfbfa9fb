package graft.lake

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.lit

import TableLog.enc

/** SQL DML surface for [[VersionedTable]] — the reference's user boundary
  * is plain SQL (Athena queries in its Step Function,
  * /root/reference/step_function_code.json:75,94,113), and Delta exposes
  * UPDATE/DELETE/MERGE INTO as SQL; without this, mutating a graft
  * versioned table requires Scala.
  *
  * Statements are parsed by SPARK'S OWN parser
  * (`sessionState.sqlParser.parsePlan` → the Catalyst `UpdateTable` /
  * `DeleteFromTable` / `MergeIntoTable` unresolved plans), so every
  * expression — conditions, assignment values, merge sources including
  * subqueries — gets real SQL parsing, not regex surgery; this object only
  * dispatches the parsed plan onto the corresponding [[VersionedTable]]
  * mutator. Anything that is not DML on a registered table passes through
  * to `spark.sql` untouched, so reads and DML mix at one entry point:
  *
  * {{{
  *   // the SQL surface is self-contained — no Scala-side register() needed:
  *   GraftSql.run(spark, "CREATE TABLE orders_v (id INT, price DOUBLE, yr STRING) " +
  *     "USING graft PARTITIONED BY (yr) LOCATION '/data/orders' TBLPROPERTIES ('pk'='id')")
  *   GraftSql.run(spark, "INSERT INTO orders_v VALUES (1, 9.5, '1997')")
  *   GraftSql.run(spark, "UPDATE orders_v SET price = price * 1.1 WHERE yr = '1997'")
  *   GraftSql.run(spark, "MERGE INTO orders_v USING updates ON orders_v.id = updates.id " +
  *     "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
  *   GraftSql.run(spark, "SELECT count(*) FROM orders_v")   // plain spark.sql
  *   GraftSql.run(spark, "OPTIMIZE orders_v")               // maintenance:
  *   GraftSql.run(spark, "VACUUM orders_v RETAIN 168 HOURS")//   compact /
  *   GraftSql.run(spark, "RESTORE orders_v TO VERSION AS OF 1") // storage /
  *   GraftSql.run(spark, "DESCRIBE DETAIL orders_v")        //   rollback
  *   GraftSql.run(spark, "DROP TABLE orders_v")  // unregisters; storage stays
  * }}}
  *
  * MERGE covers Delta's full SQL surface: the plain updateAll/insertAll
  * upsert dispatches to [[VersionedTable.merge]] (keeping its schema
  * evolution), and conditional / column-level / NOT-MATCHED-BY-SOURCE
  * clauses map one-to-one onto [[MergeIntoBuilder]]. The ON condition must
  * equate every primary-key column (the engine's partition-stable upsert
  * contract) — anything else is refused rather than honored approximately.
  *
  * After each DML the table's CURRENT version is re-registered as the temp
  * view, so a following SELECT sees the mutation — the view is a lazy plan
  * over the new version's live dirs, not a materialization.
  */
object GraftSql {

  // keyed by (sessionUUID, normalized name): two sessions registering the
  // same table name must never dispatch DML onto each other's tables (the
  // temp view each session reads is already session-local). Names
  // normalize backticks away, lowercase each part, and join with '.', so
  // `db`.`Orders_V` and db.orders_v address one entry.
  //
  // The value is NOT the VersionedTable itself: a handle strongly
  // references its SparkSession, and a process-global map of handles
  // would pin every dead session (and its tables) forever. Instead each
  // entry stores the table's CONSTRUCTION CONFIG plus a SoftReference'd
  // handle cache — lookups reuse the cached handle (keeping its log
  // memoization warm), rebuild it from config after a GC cleared it, and
  // the only session chain is soft, so once a session is otherwise
  // unreachable the collector can reclaim it and sweep() then drops the
  // config entries too.
  private final case class TableCfg(
      path: String, pk: Seq[String], partitionCols: Seq[String],
      checkpointInterval: Int, statsCols: Seq[String], recordCdf: Boolean)

  private final class Slot(val cfg: TableCfg) {
    @volatile var handle: java.lang.ref.SoftReference[VersionedTable] =
      new java.lang.ref.SoftReference(null)
  }

  private val registry =
    scala.collection.concurrent.TrieMap.empty[(String, String), Slot]

  private def resolve(spark: SparkSession, slot: Slot): VersionedTable =
    Option(slot.handle.get).getOrElse(slot.synchronized {
      Option(slot.handle.get).getOrElse {
        val c = slot.cfg
        val t = VersionedTable(spark, c.path, c.pk, c.partitionCols,
          c.checkpointInterval, c.statsCols, c.recordCdf)
        slot.handle = new java.lang.ref.SoftReference(t)
        t
      }
    })

  // declared schemas of just-CREATEd tables with no commits yet — what a
  // SELECT reads before the first insert (qualified names cannot carry a
  // zero-row temp view: view names are single-part)
  private val declared =
    scala.collection.concurrent.TrieMap.empty[(String, String),
      org.apache.spark.sql.types.StructType]

  // user TBLPROPERTIES declared before the table has a commit to carry
  // them (CREATE … TBLPROPERTIES extras, or ALTER … SET TBLPROPERTIES on
  // a declared-only table — Delta accepts both): buffered here and
  // flushed as a property commit right after the first data commit.
  // Session-local like `declared`; a direct-API writer that never comes
  // back through GraftSql leaves them pending until the next dispatch.
  private val pendingProps =
    scala.collection.concurrent.TrieMap.empty[(String, String),
      Map[String, String]]

  // uuid → weakly-held session: once a session object becomes
  // unreachable (the registry's only chain to it is the SOFT handle
  // cache, which the collector clears under pressure), sweep() drops its
  // registrations' config entries too — the registry never grows beyond
  // the sessions actually alive plus soft-reclaimable caches
  private val sessions = scala.collection.concurrent.TrieMap
    .empty[String, java.lang.ref.WeakReference[SparkSession]]

  private def sweep(): Unit =
    sessions.foreach { case (uuid, ref) =>
      if (ref.get == null) dropUuid(uuid)
    }

  private def dropUuid(uuid: String): Unit = {
    sessions.remove(uuid)
    registry.keys.filter(_._1 == uuid).foreach(registry.remove)
    declared.keys.filter(_._1 == uuid).foreach(declared.remove)
    pendingProps.keys.filter(_._1 == uuid).foreach(pendingProps.remove)
  }

  /** Drop EVERY registration belonging to `spark`'s session — the
    * explicit lifecycle hook for session pools (a server closing a user
    * session calls this instead of waiting for the GC-driven sweep).
    * Storage is untouched, as with [[unregister]]; temp views die with
    * the session itself.
    */
  def unregisterSession(spark: SparkSession): Unit =
    dropUuid(GraftSqlBridge.sessionUuid(spark))

  // the application-end backstop: when the SparkContext stops, every
  // session on it is dead — clear all registrations eagerly instead of
  // waiting for the collector to clear the weak refs. One listener per
  // context (re-registered if a NEW context appears in the same JVM).
  private[graft] object AppEndListener
      extends org.apache.spark.scheduler.SparkListener {
    override def onApplicationEnd(
        e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
      sessions.clear(); registry.clear(); declared.clear()
      pendingProps.clear()
    }
  }
  private val listenerOn =
    scala.collection.concurrent.TrieMap.empty[String, Unit]

  /** `db`.`T` / db.T → Seq("db", "T"): split on dots OUTSIDE backticks,
    * strip the backticks. The textual twin of the parser's
    * multipartIdentifier, for names captured by the statement regexes.
    */
  private def parseIdent(s: String): Seq[String] = {
    val out = scala.collection.mutable.Buffer.empty[String]
    val sb = new StringBuilder
    var inTick = false
    s.foreach {
      case '`' => inTick = !inTick
      case '.' if !inTick => out += sb.toString.trim; sb.clear()
      case ch => sb.append(ch)
    }
    out += sb.toString.trim
    out.toSeq
  }

  private def normParts(parts: Seq[String]): String =
    parts.map(_.toLowerCase).mkString(".")

  /** The buffered-property twin of [[VersionedTable.setProperties]]'s
    * guards: pending user properties obey the same rules a committed
    * set would, so the flush can never fail later.
    */
  private def requireUserProps(kvs: Map[String, String]): Unit = {
    require(kvs.nonEmpty, "setProperties with no properties")
    require(kvs.keys.forall(_.nonEmpty), "property keys must be non-empty")
    val bad = kvs.keys.filter(k =>
      VersionedTable.reservedPropertyKeys(k.toLowerCase))
    require(bad.isEmpty,
      s"TBLPROPERTIES ${bad.mkString(",")} fix the table layout at " +
        "CREATE time and cannot be changed — create a new table " +
        "(or CONVERT) with the desired layout")
  }

  private def key(spark: SparkSession, name: String): (String, String) =
    (GraftSqlBridge.sessionUuid(spark), normParts(parseIdent(name)))

  // a temp view can only carry a plain single-part name; qualified or
  // exotic registered names are served by run()'s read substitution
  private def viewable(name: String): Boolean =
    name.matches("[A-Za-z_][A-Za-z0-9_]*")

  /** Register `table` for DML dispatch under `name` (single-part,
    * `db.qualified`, or backtick-quoted), and — when the name can be a
    * temp view — expose its current version under it for plain
    * `spark.sql` reads. Qualified names resolve through [[run]], which
    * substitutes the versioned read into the parsed plan.
    */
  def register(spark: SparkSession, name: String, table: VersionedTable): Unit = {
    sweep()
    sessions.putIfAbsent(GraftSqlBridge.sessionUuid(spark),
      new java.lang.ref.WeakReference(spark))
    if (listenerOn.putIfAbsent(spark.sparkContext.applicationId, ()).isEmpty)
      spark.sparkContext.addSparkListener(AppEndListener)
    val slot = new Slot(TableCfg(table.path, table.pk, table.partitionCols,
      table.checkpointInterval, table.statsCols, table.recordCdf))
    slot.handle = new java.lang.ref.SoftReference(table)
    registry(key(spark, name)) = slot
    refreshView(spark, name)
  }

  /** Drop `name` from this session's DML dispatch and remove its temp
    * view. The table's storage is untouched (external-table semantics).
    */
  def unregister(spark: SparkSession, name: String): Unit = {
    registry.remove(key(spark, name))
    declared.remove(key(spark, name))
    pendingProps.remove(key(spark, name))
    if (viewable(name)) spark.catalog.dropTempView(name)
  }

  private def lookup(spark: SparkSession, name: String): Option[VersionedTable] =
    registry.get(key(spark, name)).map(resolve(spark, _))

  /** The [[VersionedTable]] registered under `name` in this session, if
    * any — the Scala-side handle for a table created via SQL.
    */
  def registered(spark: SparkSession, name: String): Option[VersionedTable] =
    lookup(spark, name)

  private def lookupParts(spark: SparkSession,
                          parts: Seq[String]): Option[VersionedTable] =
    registry.get((GraftSqlBridge.sessionUuid(spark), normParts(parts)))
      .map(resolve(spark, _))

  private def refreshView(spark: SparkSession, name: String): Unit = {
    val t = lookup(spark, name).get
    // a just-CREATEd table has no commits yet — its zero-row declared
    // view/schema (set up by the CREATE dispatch) stands until the first
    // insert, after which the committed schema is authoritative
    if (t.exists) {
      declared.remove(key(spark, name))
      // properties declared BEFORE the table had a commit to carry them
      // (CREATE extras / pre-insert SET TBLPROPERTIES) flush as one
      // property commit now that a commit exists to anchor the schema.
      // The buffer is removed only AFTER the commit lands — a lost
      // commit race throws out of setProperties, and the retry must
      // still find the properties buffered, not silently dropped
      pendingProps.get(key(spark, name)).foreach { p =>
        if (p.nonEmpty) t.setProperties(p)
        pendingProps.remove(key(spark, name))
      }
    }
    if (t.exists && viewable(name)) viewFrame(t).createOrReplaceTempView(name)
  }

  /** The frame a table registers as its view: `t.read` with committed
    * column comments attached as field metadata, so `DESCRIBE TABLE`
    * surfaces them (Delta's ALTER COLUMN … COMMENT contract).
    */
  private def viewFrame(t: VersionedTable): DataFrame = {
    val cc = t.columnComments
    val df = t.read
    if (cc.isEmpty) df
    else df.select(df.columns.toSeq.map { c =>
      cc.get(c.toLowerCase) match {
        case Some(text) =>
          val md = new org.apache.spark.sql.types.MetadataBuilder()
            .putString("comment", text).build()
          df.col(c).as(c, md)
        case None => df.col(c)
      }
    }: _*)
  }

  /** The registered table a DML statement targets, if any: a relation
    * name (single- or multi-part, possibly aliased) matching this
    * session's registry. Returns the NORMALIZED name.
    */
  private def targetOf(spark: SparkSession,
                       p: LogicalPlan): Option[(String, VersionedTable)] = p match {
    case r: UnresolvedRelation =>
      val n = normParts(r.multipartIdentifier)
      lookupParts(spark, r.multipartIdentifier).map(n -> _)
    case a: SubqueryAlias => targetOf(spark, a.child)
    case _ => None
  }

  private def c(e: Expression) = GraftSqlBridge.columnOf(e)

  /** Column name of an assignment target (the parser yields an
    * UnresolvedAttribute; a qualified `t.price` assigns `price`).
    */
  private def nameOf(e: Expression): String = e match {
    case u: UnresolvedAttribute => u.nameParts.last
    case other => sys.error(s"unsupported assignment target: ${other.sql}")
  }

  /** Decompose a MERGE ON condition into column-equality conjuncts
    * (last-name pairs); None when ANY other predicate shape is present —
    * the validator must refuse what the dispatch would not honor, never
    * skip over it.
    */
  private def eqConjuncts(e: Expression): Option[Seq[(String, String)]] = e match {
    case And(l, r) =>
      for { a <- eqConjuncts(l); b <- eqConjuncts(r) } yield a ++ b
    case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
      Some(Seq((a.nameParts.last.toLowerCase, b.nameParts.last.toLowerCase)))
    case _ => None
  }

  /** One-row result frame for a DML statement, Delta-style. */
  private def dmlResult(spark: SparkSession, op: String, table: String,
                        version: Int): DataFrame = {
    import spark.implicits._
    Seq((op, table, version.toLong)).toDF("operation", "table", "version")
  }

  /** Run one SQL statement: DML on a registered versioned table dispatches
    * to the table API (returning a one-row operation/table/version frame);
    * everything else returns `spark.sql(sql)`.
    */
  // table identifier fragment for the textual regexes: single- or
  // multi-part, each part a plain name or backtick-quoted (`db`.`t-1`);
  // parseIdent normalizes a capture back to parts
  private val I =
    "(?:`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)(?:\\s*\\.\\s*(?:`[^`]+`|[A-Za-z_][A-Za-z0-9_]*))*"
  private val DescribeHistoryRe =
    ("(?is)^\\s*DESCRIBE\\s+HISTORY\\s+(" + I + ")\\s*;?\\s*$").r
  // maintenance statements (Delta grammar, not Spark's) — textual
  // intercepts like DESCRIBE HISTORY, dispatching onto the table APIs
  private val DescribeDetailRe =
    ("(?is)^\\s*DESCRIBE\\s+DETAIL\\s+(" + I + ")\\s*;?\\s*$").r
  // graft extension: partition-grained storage detail (dirs/files/bytes/
  // rows per partition, commit-log + footer metadata, no data scan)
  private val DescribeDetailPartsRe =
    ("(?is)^\\s*DESCRIBE\\s+DETAIL\\s+(" + I + ")\\s+PARTITIONS\\s*;?\\s*$").r
  // graft extension: column-grained min/max from the recorded skipping
  // stats (commit-log metadata only — no data scan)
  private val DescribeDetailColsRe =
    ("(?is)^\\s*DESCRIBE\\s+DETAIL\\s+(" + I + ")\\s+COLUMNS\\s*;?\\s*$").r
  // Delta's GENERATE statement: export the symlink-format manifest
  private val GenerateRe =
    ("(?is)^\\s*GENERATE\\s+symlink_format_manifest\\s+FOR\\s+TABLE\\s+(" +
      I + ")\\s*;?\\s*$").r
  private val VacuumRe =
    ("(?is)^\\s*VACUUM\\s+(" + I + ")(?:\\s+RETAIN\\s+(\\d+)\\s+HOURS)?" +
      "(\\s+DRY\\s+RUN)?\\s*;?\\s*$").r
  // ZORDER BY must be tried BEFORE the plain OPTIMIZE (whose lazy WHERE
  // capture would swallow the clause as a bogus predicate)
  private val OptimizeZRe =
    ("(?is)^\\s*OPTIMIZE\\s+(" + I + ")(?:\\s+WHERE\\s+(.+?))?" +
      "\\s+ZORDER\\s+BY\\s*\\(([^)]+)\\)\\s*;?\\s*$").r
  private val OptimizeRe =
    ("(?is)^\\s*OPTIMIZE\\s+(" + I + ")(?:\\s+WHERE\\s+(.+?))?\\s*;?\\s*$").r
  private val ReorgRe =
    ("(?is)^\\s*REORG\\s+TABLE\\s+(" + I + ")\\s+APPLY\\s*\\(\\s*PURGE\\s*\\)\\s*;?\\s*$").r
  private val RestoreRe =
    ("(?is)^\\s*RESTORE\\s+(?:TABLE\\s+)?(" + I + ")\\s+TO\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*$").r
  // rule-surface ALTERs (CHECK constraints per Delta; generated columns as
  // a graft extension) — intercepted ahead of the parser so dispatch never
  // depends on whether this Spark version grammars them
  private val AddConstraintRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(" + I + ")\\s+ADD\\s+CONSTRAINT\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+CHECK\\s*\\((.+)\\)\\s*;?\\s*$").r
  private val DropConstraintRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(" + I + ")\\s+DROP\\s+CONSTRAINT\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*;?\\s*$").r
  private val AddGeneratedRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(" + I + ")\\s+ADD\\s+GENERATED\\s+COLUMN\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+AS\\s*\\((.+)\\)\\s*;?\\s*$").r
  /** Split a comma-separated list at TOP-LEVEL commas only (commas inside
    * parentheses — e.g. OPTIONS (fpp=0.1, numItems=5) — stay put).
    */
  private def splitTopLevel(txt: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    txt.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c => cur.append(c)
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  // Databricks' bloom-filter index DDL — regex-surfaced (not in the
  // Spark grammar): CREATE BLOOMFILTER INDEX ON [TABLE] t FOR COLUMNS
  // (c [OPTIONS (fpp=…, numItems=…)], …) / DROP BLOOMFILTER INDEX ON t
  // [FOR COLUMNS (…)]
  private val CreateBloomIdxRe =
    ("(?is)^\\s*CREATE\\s+BLOOMFILTER\\s+INDEX\\s+ON\\s+(?:TABLE\\s+)?(" + I +
      ")\\s+FOR\\s+COLUMNS\\s*\\((.+)\\)\\s*;?\\s*$").r
  private val DropBloomIdxRe =
    ("(?is)^\\s*DROP\\s+BLOOMFILTER\\s+INDEX\\s+ON\\s+(?:TABLE\\s+)?(" + I +
      ")(?:\\s+FOR\\s+COLUMNS\\s*\\(([^)]*)\\))?\\s*;?\\s*$").r
  // FSCK REPAIR TABLE t [DRY RUN] — references to vanished storage drop
  private val FsckRe =
    ("(?is)^\\s*FSCK\\s+REPAIR\\s+TABLE\\s+(" + I +
      ")(\\s+DRY\\s+RUN)?\\s*;?\\s*$").r
  // Databricks' watermark realignment for identity columns — not in the
  // Spark grammar, so regex-surfaced like the rule ALTERs above
  private val SyncIdentityRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(" + I + ")\\s+ALTER\\s+COLUMN\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+SYNC\\s+IDENTITY\\s*;?\\s*$").r
  private val ShowPartitionsRe =
    ("(?is)^\\s*SHOW\\s+PARTITIONS\\s+(" + I + ")\\s*;?\\s*$").r
  private val RestoreTsRe =
    ("(?is)^\\s*RESTORE\\s+(?:TABLE\\s+)?(" + I + ")\\s+TO\\s+TIMESTAMP\\s+AS\\s+OF\\s+(.+?)\\s*;?\\s*$").r
  // in-place adoption of a plain parquet directory (Delta's CONVERT TO
  // DELTA reshaped to graft's external-table model: the log lands at
  // LOCATION, the source files are referenced, never copied)
  private val ConvertRe =
    ("(?is)^\\s*CONVERT\\s+TO\\s+GRAFT\\s+'([^']+)'\\s+AS\\s+(" + I +
      ")\\s+LOCATION\\s+'([^']+)'\\s+TBLPROPERTIES\\s*\\((.+)\\)\\s*;?\\s*$").r
  private val ShallowCloneRe =
    ("(?is)^\\s*CREATE\\s+TABLE\\s+(" + I + ")\\s+SHALLOW\\s+CLONE\\s+(" + I +
      ")(?:\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)" +
      "|\\s+TIMESTAMP\\s+AS\\s+OF\\s+(.+?))?" +
      "\\s+LOCATION\\s+'([^']+)'\\s*;?\\s*$").r
  // Databricks/Delta COPY INTO: idempotent file-level ingest — files
  // already in the table's copied-file ledger are skipped, so re-running
  // the statement is a no-op and new files load exactly the delta
  private val CopyIntoRe =
    ("(?is)^\\s*COPY\\s+INTO\\s+(" + I + ")\\s+FROM\\s+'([^']+)'\\s+" +
      "FILEFORMAT\\s*=\\s*(PARQUET|CSV)(?:\\s+PATTERN\\s*=\\s*'([^']+)')?" +
      "(?:\\s+FILES\\s*=\\s*\\(([^)]*)\\))?" +
      "(?:\\s+FORMAT_OPTIONS\\s*\\(([^)]*)\\))?" +
      "(?:\\s+COPY_OPTIONS\\s*\\(([^)]*)\\))?\\s*;?\\s*$").r
  // ANALYZE … FOR COLUMNS: backfill per-dir skipping stats (the path to
  // data skipping on CONVERT-adopted storage) — one metadata commit
  private val AnalyzeRe =
    ("(?is)^\\s*ANALYZE\\s+TABLE\\s+(" + I + ")\\s+COMPUTE\\s+STATISTICS\\s+" +
      "FOR\\s+COLUMNS\\s+(.+?)\\s*;?\\s*$").r
  // Databricks Delta's INSERT INTO … REPLACE WHERE (general replaceWhere
  // from SQL): atomic predicate-scoped backfill — not Spark grammar, so
  // intercepted textually; the predicate text must not itself contain a
  // SELECT (the non-greedy split ends at the query's SELECT keyword)
  private val InsertReplaceRe =
    ("(?is)^\\s*INSERT\\s+INTO\\s+(" + I + ")\\s+REPLACE\\s+WHERE\\s+" +
      "(.+?)\\s+(SELECT\\b.+?)\\s*;?\\s*$").r
  // near-miss guard: a maintenance/Delta statement that NAMES a
  // registered table but did not fully match its grammar above must fail
  // loudly here — falling through to spark.sql would surface an
  // unrelated parser error (or silently do the wrong thing)
  private val MaintNearMissRe =
    ("(?is)^\\s*(VACUUM|OPTIMIZE|REORG|RESTORE|COPY\\s+INTO|SHOW\\s+PARTITIONS|" +
      "DESCRIBE\\s+HISTORY|DESCRIBE\\s+DETAIL|ANALYZE|" +
      "GENERATE\\s+symlink_format_manifest\\s+FOR)\\s+(?:TABLE\\s+)?(" +
      I + ")\\b(.*?)\\s*$").r

  /** Epoch millis of a `TIMESTAMP AS OF <expr>` taken from the user's SQL
    * text, evaluated through Spark itself — so any deterministic
    * expression (a literal, timestamp_millis(…), now() - interval) works.
    * Shared by RESTORE and SHALLOW CLONE.
    */
  private def tsLitMillis(spark: SparkSession, tsLit: String, what: String): Long = {
    val row = spark.sql(
      s"SELECT unix_millis(CAST(($tsLit) AS TIMESTAMP))").head()
    require(!row.isNullAt(0), s"cannot evaluate $what timestamp: $tsLit")
    row.getLong(0)
  }

  /** Epoch millis of a `TIMESTAMP AS OF <expr>` literal. */
  private def tsMillisOf(spark: SparkSession, e: Expression): Long = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.TimestampType
    val micros = scala.util.Try(
      Cast(e, TimestampType,
        Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null))
      .toOption.flatMap(Option(_))
      .getOrElse(sys.error(
        s"cannot evaluate time-travel timestamp ${e.sql} — use a literal"))
    micros.asInstanceOf[Long] / 1000L
  }

  def run(spark: SparkSession, sql: String): DataFrame = {
    sweep()
    // DESCRIBE HISTORY/DETAIL and the maintenance statements are not
    // Spark grammar — intercept them textually
    sql match {
      case DescribeHistoryRe(name) if lookup(spark, name).isDefined =>
        return lookup(spark, name).get.historyFrame
      case DescribeDetailPartsRe(name) if lookup(spark, name).isDefined =>
        return lookup(spark, name).get.partitionDetailFrame
      case DescribeDetailColsRe(name) if lookup(spark, name).isDefined =>
        return lookup(spark, name).get.columnStatsFrame
      case DescribeDetailRe(name) if lookup(spark, name).isDefined =>
        return lookup(spark, name).get.detailFrame
      case GenerateRe(name) if lookup(spark, name).isDefined =>
        val t = lookup(spark, name).get
        val manifest = t.writeManifest()
        import spark.implicits._
        return Seq(("generate manifest", name, manifest))
          .toDF("operation", "table", "manifest_path")
      case VacuumRe(name, hours, dry) if lookup(spark, name).isDefined =>
        val t = lookup(spark, name).get
        def since = System.currentTimeMillis() - hours.toLong * 3600000L
        if (dry != null) {
          // DRY RUN lists what a real vacuum would delete — nothing moves
          import spark.implicits._
          val plan =
            if (hours == null) t.vacuumPlan() else t.vacuumPlanSince(since)
          return plan.map(_.toString).toDF("path")
        }
        if (hours == null) t.vacuum() else t.vacuumRetainingSince(since)
        return dmlResult(spark, "vacuum", name, t.currentVersion)
      case OptimizeZRe(name, where, zcols) if lookup(spark, name).isDefined =>
        val t = lookup(spark, name).get
        require(where == null,
          "OPTIMIZE … ZORDER BY cannot be partition-scoped: the z-layout " +
            "is a table-wide clustering — drop the WHERE clause")
        t.zorderBy(zcols.split(",").toSeq.map(c => parseIdent(c.trim).last))
        refreshView(spark, name)
        return dmlResult(spark, "optimize zorder", name, t.currentVersion)
      case OptimizeRe(name, where) if lookup(spark, name).isDefined =>
        val t = lookup(spark, name).get
        // OPTIMIZE … WHERE compacts only the matching partitions — at
        // scale, maintenance walks recent partitions, never the table
        if (where == null) t.compact()
        else t.compactWhere(org.apache.spark.sql.functions.expr(where))
        refreshView(spark, name)
        return dmlResult(spark, "optimize", name, t.currentVersion)
      case ReorgRe(name) if lookup(spark, name).isDefined =>
        val t = lookup(spark, name).get
        t.reorgPurge()
        refreshView(spark, name)
        return dmlResult(spark, "reorg purge", name, t.currentVersion)
      case RestoreRe(name, v) if lookup(spark, name).isDefined =>
        val t = lookup(spark, name).get
        t.restore(v.toInt)
        refreshView(spark, name)
        return dmlResult(spark, "restore", name, t.currentVersion)
      case AddConstraintRe(name, cname, exprSql) if lookup(spark, name).isDefined =>
        val t = lookup(spark, name).get
        t.addConstraint(cname, exprSql)
        return dmlResult(spark, "add constraint", name, t.currentVersion)
      case DropConstraintRe(name, cname) if lookup(spark, name).isDefined =>
        val t = lookup(spark, name).get
        t.dropConstraint(cname)
        return dmlResult(spark, "drop constraint", name, t.currentVersion)
      case AddGeneratedRe(name, cname, exprSql) if lookup(spark, name).isDefined =>
        val t = lookup(spark, name).get
        t.addGeneratedColumn(cname, exprSql)
        refreshView(spark, name)
        return dmlResult(spark, "add generated column", name, t.currentVersion)
      case FsckRe(name, dry) if lookup(spark, name).isDefined =>
        val t = lookup(spark, name).get
        val missing = t.fsck(dryRun = dry != null)
        if (dry == null) refreshView(spark, name)
        import spark.implicits._
        return missing.toDF("missing_ref")
      case SyncIdentityRe(name, cname) if lookup(spark, name).isDefined =>
        val t = lookup(spark, name).get
        t.syncIdentity(cname)
        return dmlResult(spark, "sync identity", name, t.currentVersion)
      case CreateBloomIdxRe(name, colsTxt) if lookup(spark, name).isDefined =>
        val t = lookup(spark, name).get
        // per-column: name [OPTIONS (fpp=0.1, numItems=100000)]
        val item = ("(?is)\\s*([A-Za-z_][A-Za-z0-9_]*)" +
          "(?:\\s+OPTIONS\\s*\\(([^)]*)\\))?\\s*").r
        val cols = splitTopLevel(colsTxt).map {
          case item(cname, opts) =>
            val kv = Option(opts).map(o =>
              "([A-Za-z_]+)\\s*=\\s*'?([0-9.]+)'?".r.findAllMatchIn(o)
                .map(m => m.group(1).toLowerCase -> m.group(2)).toMap)
              .getOrElse(Map.empty[String, String])
            val unknown = kv.keySet -- Set("fpp", "numitems")
            require(unknown.isEmpty,
              s"BLOOMFILTER INDEX: unknown option(s) ${unknown.mkString(",")} " +
                "(supported: fpp, numItems)")
            cname -> ((kv.get("fpp").map(_.toDouble).getOrElse(0.1),
              kv.get("numitems").map(_.toLong)))
          case other => sys.error(
            s"BLOOMFILTER INDEX: cannot parse column spec '$other'")
        }.toMap
        val (written, clampReport) = t.createBloomIndexDetailed(cols)
        import spark.implicits._
        // a degraded-fpp index must be machine-readable, not a console
        // line: one row per clamped column (realized vs declared fpp).
        // The report is THIS build's return value, not handle state — a
        // concurrent build cannot leak its clamps into this result row.
        val clamped = clampReport
          .map(c => f"${c.column}:${c.realizedFpp}%.4f/${c.declaredFpp}%.4f")
          .mkString(",")
        return Seq(("create bloomfilter index", name,
          written.toLong, clamped))
          .toDF("op", "table", "sidecars_written", "clamped_columns")
      case DropBloomIdxRe(name, colsTxt) if lookup(spark, name).isDefined =>
        val t = lookup(spark, name).get
        val cols = Option(colsTxt).toSeq.flatMap(
          _.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        t.dropBloomIndex(cols)
        return dmlResult(spark, "drop bloomfilter index", name, t.currentVersion)
      case RestoreTsRe(name, tsLit) if lookup(spark, name).isDefined =>
        val t = lookup(spark, name).get
        t.restore(t.versionAsOf(tsLitMillis(spark, tsLit, "restore")))
        refreshView(spark, name)
        return dmlResult(spark, "restore", name, t.currentVersion)
      case ConvertRe(src, name, loc, propsTxt) =>
        require(lookup(spark, name).isEmpty,
          s"table '$name' is already registered — DROP TABLE it first")
        val props = "'([^']+)'\\s*=\\s*'([^']*)'".r.findAllMatchIn(propsTxt)
          .map(m => m.group(1).toLowerCase -> m.group(2)).toMap
        // a typo'd key ('partions', 'recordcdv') would otherwise silently
        // adopt the table with the wrong layout — refuse, like every
        // other near-miss on this dispatch
        val knownProps = VersionedTable.reservedPropertyKeys
        val unknownProps = props.keySet.diff(knownProps)
        require(unknownProps.isEmpty,
          s"CONVERT TO GRAFT: unknown TBLPROPERTIES key(s): ${
            unknownProps.mkString(",")} (supported: ${
            knownProps.toSeq.sorted.mkString(", ")})")
        def plist(k: String) = props.get(k).toSeq
          .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        val pkCols = plist("pk")
        require(pkCols.nonEmpty,
          "CONVERT TO GRAFT needs TBLPROPERTIES ('pk'='<col,…>')")
        val t = VersionedTable(spark, loc, pkCols, plist("partition"),
          statsCols = plist("statscols"),
          recordCdf = props.get("recordcdf").exists(_.toBoolean))
        t.convertFrom(src)
        register(spark, name, t)
        return dmlResult(spark, "convert", name, t.currentVersion)
      case ShallowCloneRe(dest, srcName, ver, tsLit, loc)
          if lookup(spark, srcName).isDefined =>
        val src = lookup(spark, srcName).get
        require(lookup(spark, dest).isEmpty,
          s"table '$dest' is already registered — DROP TABLE it first")
        val cloned =
          if (ver != null) src.cloneTo(loc, ver.toInt)
          else if (tsLit != null)
            src.cloneTo(loc, src.versionAsOf(tsLitMillis(spark, tsLit, "clone")))
          else src.cloneTo(loc)
        register(spark, dest, cloned)
        return dmlResult(spark, "shallow clone", dest, cloned.currentVersion)
      case CopyIntoRe(name, src, fmt, pat, filesTxt, fmtOpts, copyOpts)
          if lookup(spark, name).isDefined =>
        val t = lookup(spark, name).get
        // FILES = ('f1','f2') — Databricks' explicit-manifest variant.
        // Mutual exclusion with PATTERN is enforced in copyFrom.
        val files = Option(filesTxt).map { txt =>
          val names = "'([^']*)'".r.findAllMatchIn(txt)
            .map(_.group(1)).toSeq
          require(names.nonEmpty && names.forall(_.nonEmpty),
            "COPY INTO: FILES = (…) needs quoted, non-empty file names")
          names
        }
        def opts(txt: String, clause: String, known: Set[String]) = {
          val m = "'([^']+)'\\s*=\\s*'([^']*)'".r.findAllMatchIn(
            Option(txt).getOrElse(""))
            .map(x => x.group(1).toLowerCase -> x.group(2)).toMap
          val bad = m.keySet.diff(known)
          // a typo'd option ('haeder', 'forse') must refuse, not silently
          // fall back to the default — same near-miss bar as CONVERT
          require(bad.isEmpty, s"COPY INTO: unknown $clause key(s): " +
            s"${bad.toSeq.sorted.mkString(",")} (supported: ${known.toSeq.sorted.mkString(", ")})")
          m
        }
        val fo = opts(fmtOpts, "FORMAT_OPTIONS", Set("header"))
        require(fo.isEmpty || fmt.equalsIgnoreCase("csv"),
          "COPY INTO: FORMAT_OPTIONS('header'=…) applies to CSV only")
        val co = opts(copyOpts, "COPY_OPTIONS", Set("force"))
        // the first copy into a created-but-empty table reads CSV with
        // the DECLARED schema (parquet carries its own)
        val hint =
          if (t.exists) None else declared.get(key(spark, name))
        val n = t.copyFrom(src, fmt.toLowerCase, Option(pat), hint,
          header = fo.get("header").exists(_.toBoolean),
          force = co.get("force").exists(_.toBoolean),
          files = files)
        refreshView(spark, name)
        import spark.implicits._
        return Seq(("copy into", name, n.toLong, t.currentVersion))
          .toDF("operation", "table", "num_files_loaded", "version")
      case AnalyzeRe(name, colsTxt) if lookup(spark, name).isDefined =>
        val t = lookup(spark, name).get
        val cols = colsTxt.stripPrefix("(").stripSuffix(")")
          .split(",").toSeq.map(c => parseIdent(c.trim).last).filter(_.nonEmpty)
        val n = t.analyzeColumns(cols)
        import spark.implicits._
        return Seq(("analyze", name, n.toLong, t.currentVersion))
          .toDF("operation", "table", "num_dirs_analyzed", "version")
      case InsertReplaceRe(name, condTxt, queryTxt)
          if lookup(spark, name).isDefined =>
        val t = lookup(spark, name).get
        // the source query goes back through run() so registered tables
        // and time travel resolve inside it
        t.replaceWhere(
          org.apache.spark.sql.functions.expr(condTxt), run(spark, queryTxt))
        refreshView(spark, name)
        return dmlResult(spark, "replace where", name, t.currentVersion)
      case ShowPartitionsRe(name) if lookup(spark, name).isDefined =>
        val t = lookup(spark, name).get
        require(t.partitionCols.nonEmpty, s"table '$name' is not partitioned")
        // answered from the commit log (Spark's "p=v" rendering) — zero
        // data scan, and an empty/commit-less table lists no partitions
        import spark.implicits._
        return t.partitionPaths.toDF("partition")
      case _ => ()
    }
    // near-miss: a maintenance statement naming a registered table whose
    // full grammar did NOT match above (`VACUUM t RETAIN 7 DAYS`, a
    // trailing comment) — refuse with a graft-side message instead of
    // handing Spark's parser a statement it will reject confusingly.
    // CONVERT TO GRAFT has no table to look up, so any near-miss fails.
    if (sql.matches("(?is)^\\s*CONVERT\\s+TO\\s+GRAFT\\b.*"))
      sys.error("graft: unsupported CONVERT syntax — expected: CONVERT TO " +
        "GRAFT '<source dir>' AS <name> LOCATION '<table path>' " +
        "TBLPROPERTIES ('pk'='<col,…>' [, 'partition'='<col,…>'])")
    sql match {
      case MaintNearMissRe(verb, name, rest) if lookup(spark, name).isDefined =>
        sys.error(s"graft: unsupported ${verb.trim.toUpperCase} syntax for " +
          s"registered table '$name'" +
          (if (rest.trim.nonEmpty) s" near '${rest.trim.take(60)}'" else "") +
          " — supported: OPTIMIZE t [WHERE p] | OPTIMIZE t ZORDER BY (c,…)" +
          " | VACUUM t [RETAIN n HOURS] | RESTORE [TABLE] t TO" +
          " VERSION|TIMESTAMP AS OF … | REORG TABLE t APPLY (PURGE)" +
          " | COPY INTO t FROM '<dir>' FILEFORMAT = PARQUET|CSV" +
          " [PATTERN = '<glob>' | FILES = ('f1','f2')]" +
          " [FORMAT_OPTIONS ('header'='true|false'), CSV only," +
          " default false] [COPY_OPTIONS ('force'='true')]" +
          " | SHOW PARTITIONS t | DESCRIBE HISTORY|DETAIL t")
      case _ => ()
    }
    val parsed =
      try spark.sessionState.sqlParser.parsePlan(sql)
      catch { case _: Exception => return spark.sql(sql) }
    // Read substitution: SQL time travel (FROM t VERSION AS OF 3 /
    // TIMESTAMP AS OF '…') becomes the versioned read's plan, and ANY
    // registered relation in a read position — including catalog-qualified
    // names (db.t), which have no temp view — becomes the table's current
    // read. DML targets are NOT substituted (the branches below dispatch
    // them onto the table API), so substitution runs on each statement's
    // SOURCE subplan only.
    var substitutedAny = false
    def subReads(p: LogicalPlan): LogicalPlan = p.transform {
      case org.apache.spark.sql.catalyst.analysis.RelationTimeTravel(
          r: UnresolvedRelation, tsOpt, vOpt)
          if lookupParts(spark, r.multipartIdentifier).isDefined =>
        val t = lookupParts(spark, r.multipartIdentifier).get
        substitutedAny = true
        val df = vOpt match {
          case Some(v) => t.readVersion(v.toInt)
          case None => t.readAsOf(tsMillisOf(spark, tsOpt.get))
        }
        GraftSqlBridge.planOf(df)
      case r: UnresolvedRelation
          if lookupParts(spark, r.multipartIdentifier).isDefined =>
        val n = normParts(r.multipartIdentifier)
        val t = lookupParts(spark, r.multipartIdentifier).get
        substitutedAny = true
        GraftSqlBridge.planOf(
          if (t.exists) t.read
          else declared.get((GraftSqlBridge.sessionUuid(spark), n))
            .map(sch => spark.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](), sch))
            .getOrElse(sys.error(
              s"'$n' has no commits and no declared columns — declare them " +
                "in CREATE TABLE, or write a first batch via the API")))
      // Delta's CDF TVF: table_changes('t', start [, end]) — changes
      // MADE BY commits start..end inclusive (graft's changeFeed is
      // exclusive-start, hence the -1). Bounds are version numbers or
      // timestamp strings (resolved on the in-commit timestamps, as
      // Delta). Emits PK + post-change values (pre-change for deletes) +
      // change_type, netted per key.
      case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if tvf.name.map(_.toLowerCase) == Seq("table_changes") =>
        val lits = tvf.functionArgs.map {
          case l: org.apache.spark.sql.catalyst.expressions.Literal => l
          case other =>
            sys.error(s"table_changes arguments must be literals; got ${other.sql}")
        }
        require(lits.length == 2 || lits.length == 3,
          "table_changes takes ('table', start [, end]) — versions or timestamps")
        val tname = String.valueOf(lits.head.value)
        val t = lookup(spark, tname).getOrElse(sys.error(
          s"table_changes: '$tname' is not a registered graft table"))
        substitutedAny = true
        // a bound is a version (integral literal, or a string of digits)
        // or a timestamp (anything castable — a TIMESTAMP/DATE literal or
        // a parseable string). A garbage bound fails loudly in tsMillisOf
        // rather than silently widening the feed.
        def bound(l: org.apache.spark.sql.catalyst.expressions.Literal)
            : Either[Int, Long] = l.dataType match {
          case org.apache.spark.sql.types.StringType
               | org.apache.spark.sql.types.IntegerType
               | org.apache.spark.sql.types.LongType
               | org.apache.spark.sql.types.ShortType
               | org.apache.spark.sql.types.ByteType
              if scala.util.Try(String.valueOf(l.value).toInt).isSuccess =>
            Left(String.valueOf(l.value).toInt)
          case _ => Right(tsMillisOf(spark, l))
        }
        // a timestamp START is the FIRST commit at or after it (Delta's
        // contract); a timestamp END is the latest commit at or before
        def startOf(l: org.apache.spark.sql.catalyst.expressions.Literal): Int =
          bound(l) match {
            case Left(v)   => v
            case Right(ms) =>
              scala.util.Try(t.versionAsOf(ms - 1)).getOrElse(0) + 1
          }
        def endOf(l: org.apache.spark.sql.catalyst.expressions.Literal): Int =
          bound(l) match {
            case Left(v)   => v
            case Right(ms) => t.versionAsOf(ms)
          }
        val endV = if (lits.length == 3) endOf(lits(2)) else t.currentVersion
        GraftSqlBridge.planOf(t.changeFeed(startOf(lits(1)) - 1, endV))
    }
    val substituted = parsed match {
      case i: InsertIntoStatement => i.copy(query = subReads(i.query))
      case m: MergeIntoTable => m.copy(sourceTable = subReads(m.sourceTable))
      case cta: CreateTableAsSelect => cta.copy(query = subReads(cta.query))
      case u: UpdateTable => u
      case d: DeleteFromTable => d
      case other => subReads(other)
    }
    // DML dispatch runs on the SUBSTITUTED plan, so a mutation whose
    // source time-travels or names a qualified graft table still reaches
    // the table API; a substituted non-DML plan runs directly
    substituted match {

      // ── catalog DDL: the reference's user boundary needs ZERO client
      // code (its tables appear by name and are driven by SQL text alone,
      // /root/reference/code/step_function_code.json:27-63) — CREATE
      // TABLE … USING graft / DROP TABLE make the SQL surface
      // self-contained: no Scala-side register() call required ──
      case ct: CreateTable =>
        dispatchCreate(spark, sql, ct.name, ct.partitioning, ct.tableSpec,
          ct.ignoreIfExists, ct.columns, None)

      // CTAS (the reference's Athena CREATE TABLE AS pattern): create,
      // register, and load the first commit from the query in one statement
      case cta: CreateTableAsSelect =>
        dispatchCreate(spark, sql, cta.name, cta.partitioning, cta.tableSpec,
          cta.ignoreIfExists, Seq.empty, Some(cta.query))

      // CREATE OR REPLACE TABLE (Delta parity): the replace is a VERSIONED
      // overwrite — history survives, time travel reaches the pre-replace
      // eras. The LAYOUT (pk/partition) is immutable in graft, so a
      // replace declaring a different one is refused, never approximated
      case rt: ReplaceTable =>
        dispatchReplace(spark, sql, rt.name, rt.partitioning, rt.tableSpec,
          rt.columns, None, rt.orCreate)

      case rta: ReplaceTableAsSelect =>
        dispatchReplace(spark, sql, rta.name, rta.partitioning, rta.tableSpec,
          Seq.empty, Some(rta.query), rta.orCreate)

      case dt: DropTable =>
        dt.child match {
          case org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier(parts, _)
              if lookupParts(spark, parts).isDefined =>
            val n = normParts(parts)
            val v = lookupParts(spark, parts).get.currentVersion
            // external-table semantics (the only kind graft has): the
            // registration and view go; the storage and its log stay
            unregister(spark, n)
            dmlResult(spark, "drop table", n, v)
          case _ => spark.sql(sql)
        }

      // TRUNCATE TABLE — remove every row as ONE versioned overwrite
      // commit (Delta semantics: the data is gone from the current
      // version, history and time travel to pre-truncate eras survive,
      // storage is reclaimed by a later VACUUM, never inline)
      case tt: TruncateTable =>
        tt.table match {
          case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
              if lookupParts(spark, ut.multipartIdentifier).isDefined =>
            val name = normParts(ut.multipartIdentifier)
            val t = lookupParts(spark, ut.multipartIdentifier).get
            require(t.exists,
              s"TRUNCATE TABLE '$name': the table has no commits yet")
            t.overwrite(spark.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              t.tableSchema))
            refreshView(spark, name)
            dmlResult(spark, "truncate", name, t.currentVersion)
          case _ => spark.sql(sql)
        }

      // ALTER TABLE … RENAME TO — a pure REGISTRY move: graft tables are
      // addressed by (session, name) over external storage, so the
      // rename re-keys the registration and views; storage and history
      // are untouched (no commit — nothing about the DATA changed)
      case rn: RenameTable if !rn.isView =>
        rn.child match {
          case tv: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView
              if lookupParts(spark, tv.multipartIdentifier).isDefined =>
            val oldName = normParts(tv.multipartIdentifier)
            val newName = normParts(rn.newName)
            require(lookup(spark, newName).isEmpty,
              s"table '$newName' is already registered — DROP TABLE it first")
            val k0 = key(spark, oldName)
            val k1 = (k0._1, newName)
            registry.remove(k0).foreach(registry(k1) = _)
            declared.remove(k0).foreach(declared(k1) = _)
            pendingProps.remove(k0).foreach(pendingProps(k1) = _)
            if (viewable(oldName)) spark.catalog.dropTempView(oldName)
            val t = lookup(spark, newName).get
            if (viewable(newName)) {
              if (t.exists) viewFrame(t).createOrReplaceTempView(newName)
              else declared.get(k1).foreach(sch => spark.createDataFrame(
                java.util.Collections.emptyList[org.apache.spark.sql.Row](),
                sch).createOrReplaceTempView(newName))
            }
            dmlResult(spark, "rename table", newName, t.currentVersion)
          case _ => spark.sql(sql)
        }

      case i: InsertIntoStatement =>
        targetOf(spark, i.table) match {
          case None => spark.sql(sql)
          case Some((name, t)) =>
            // a just-CREATEd table has no commits: its declared schema
            // was recorded by the CREATE dispatch (a zero-row temp view
            // doubles for single-part names)
            val sch =
              if (t.exists) t.tableSchema
              else declared.get(key(spark, name))
                .orElse(scala.util.Try(spark.table(name).schema).toOption)
                .getOrElse(sys.error(
                  s"'$name' has no commits and no declared columns — declare " +
                    "them in CREATE TABLE, or write a first batch via the API"))
            // a PARTITION spec may only name partition columns — checked
            // on EVERY insert path, or a bad spec would silently override
            // a data column (static value rides in as a literal) or be
            // silently ignored on an unpartitioned table
            val badSpec = i.partitionSpec.keys.filterNot(k =>
              t.partitionCols.exists(_.equalsIgnoreCase(k)))
            require(badSpec.isEmpty,
              s"PARTITION spec names non-partition column(s): ${
                badSpec.mkString(",")} (table partitions by [${
                t.partitionCols.mkString(",")}])")
            // static PARTITION (col='v') values ride in as literal columns
            val static = i.partitionSpec.collect { case (k, Some(v)) => k -> v }
            val gen: Set[String] = t.generatedCols.keySet
            val dflt: Map[String, (String, String)] = t.columnDefaults
            // identity columns bind like generated ones: excluded from the
            // positional target list and left ABSENT (the engine assigns);
            // an explicit column list may still name one — BY DEFAULT
            // accepts the values, ALWAYS refuses in the engine
            val idc: Set[String] = t.identityColNames
            // SQL INSERT binds positionally: the query's output renames to
            // the target list (explicit column list, else the schema minus
            // static partition values and generated columns — those derive
            // from their expressions; an explicit list may still supply
            // them, and the engine verifies the values), then aligns/casts/
            // null-fills. Generated columns are left ABSENT, not
            // null-filled: absent derives, supplied-as-null would be
            // verified against the expression and refused.
            val named: Seq[String] =
              if (i.userSpecifiedCols.nonEmpty) i.userSpecifiedCols
              else sch.fieldNames.toSeq.filterNot(f =>
                static.keys.exists(_.equalsIgnoreCase(f)) ||
                  gen.exists(_.equalsIgnoreCase(f)) ||
                  idc.contains(f.toLowerCase))
            // the SQL-standard DEFAULT keyword inside VALUES: substituted
            // per position BEFORE analysis (an attribute reference inside
            // VALUES can never be legal, so the name is unambiguous) —
            // the declared default expression where one exists, NULL
            // otherwise; identity/generated columns refuse (omit them)
            def isDefaultRef(e: org.apache.spark.sql.catalyst.expressions.Expression) =
              e match {
                case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                  a.nameParts.length == 1 &&
                    a.nameParts.head.equalsIgnoreCase("default")
                case _ => false
              }
            val queryPlan = i.query match {
              case it: org.apache.spark.sql.catalyst.analysis.UnresolvedInlineTable
                  if it.rows.exists(_.exists(isDefaultRef)) =>
                val rows2 = it.rows.map(_.zipWithIndex.map { case (e, ix) =>
                  if (!isDefaultRef(e)) e
                  else {
                    val cn = named.lift(ix).getOrElse(sys.error(
                      "DEFAULT appears past the end of the insert target list"))
                    require(!idc.contains(cn.toLowerCase) &&
                        !gen.exists(_.equalsIgnoreCase(cn)),
                      s"DEFAULT on identity/generated column '$cn' — omit " +
                        "the column from the list instead")
                    val ft = sch.fields.find(_.name.equalsIgnoreCase(cn))
                      .map(_.dataType).getOrElse(sys.error(
                        s"INSERT target list names unknown column '$cn'"))
                    val value = dflt.get(cn.toLowerCase) match {
                      case Some((_, dsql)) =>
                        spark.sessionState.sqlParser.parseExpression(dsql)
                      case None => // implicit SQL default is NULL
                        org.apache.spark.sql.catalyst.expressions.Literal(
                          null, ft)
                    }
                    org.apache.spark.sql.catalyst.expressions.Cast(value, ft)
                  }
                })
                it.copy(rows = rows2)
              case other => other
            }
            val q = GraftSqlBridge.ofRows(spark, queryPlan)
            require(q.columns.length == named.length,
              s"INSERT provides ${q.columns.length} column(s) but the target " +
                s"list has ${named.length} (${named.mkString(",")})")
            val renamed = static.foldLeft(q.toDF(named: _*)) {
              case (d, (k, v)) => d.withColumn(k, lit(v))
            }
            val aligned = renamed.select(sch.fields.toSeq.flatMap { f =>
              if (renamed.columns.exists(_.equalsIgnoreCase(f.name)))
                Some(org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name))
              else if (gen.exists(_.equalsIgnoreCase(f.name)) ||
                  idc.contains(f.name.toLowerCase)) None
              else dflt.get(f.name.toLowerCase) match {
                // fill the DEFAULT here, in DECLARED position — leaving it
                // absent would let the engine append it at the schema
                // tail, and the first commit's column order would diverge
                // from the declared order, misbinding later positional
                // inserts
                case Some((_, dsql)) => Some(
                  org.apache.spark.sql.functions.expr(dsql)
                    .cast(f.dataType).as(f.name))
                case None => Some(lit(null).cast(f.dataType).as(f.name))
              }
            }: _*)
            // INSERT OVERWRITE follows Spark's own partition-overwrite
            // contract. A static PARTITION (p='v') spec replaces exactly
            // the spec'd partitions — seeded from the SPEC, so an empty
            // source clears the partition rather than leaving it. Without
            // a spec, spark.sql.sources.partitionOverwriteMode decides:
            // 'dynamic' replaces only the partitions the batch carries;
            // 'static' (Spark's default, Delta's full-table semantics)
            // replaces the whole table.
            if (i.overwrite && t.exists && t.partitionCols.nonEmpty) {
              val dynamicMode = spark.conf
                .get("spark.sql.sources.partitionOverwriteMode", "static")
                .equalsIgnoreCase("dynamic")
              val fullyStatic =
                static.nonEmpty && static.size == i.partitionSpec.size
              if (static.nonEmpty && (fullyStatic || !dynamicMode)) {
                // order the spec as the partition-column prefix the
                // table expects (SQL allows any key order; keys were
                // validated against partitionCols above)
                val ordered = t.partitionCols
                  .flatMap(pc => static.collectFirst {
                    case (k, v) if k.equalsIgnoreCase(pc) => pc -> v
                  })
                t.overwritePartitions(aligned, None, ordered)
              } else if (dynamicMode) t.overwritePartitions(aligned)
              else t.overwrite(aligned)
            }
            else if (i.overwrite) t.overwrite(aligned)
            else t.append(aligned)
            refreshView(spark, name)
            dmlResult(spark, "insert", name, t.currentVersion)
        }

      // ALTER TABLE … RENAME COLUMN … TO … is Spark grammar → dispatch the
      // parsed plan onto the metadata-only column-mapping rename
      case rc: RenameColumn =>
        rc.table match {
          case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
              if lookupParts(spark, ut.multipartIdentifier).isDefined =>
            val name = normParts(ut.multipartIdentifier)
            val t = lookupParts(spark, ut.multipartIdentifier).get
            t.renameColumn(rc.column.name.mkString("."), rc.newName)
            refreshView(spark, name)
            dmlResult(spark, "rename column", name, t.currentVersion)
          case _ => spark.sql(sql)
        }

      // ALTER TABLE … ADD COLUMN(S) — metadata-only widen: existing rows
      // read the new column as NULL, no file is touched
      case ac: AddColumns =>
        ac.table match {
          case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
              if lookupParts(spark, ut.multipartIdentifier).isDefined =>
            val name = normParts(ut.multipartIdentifier)
            val t = lookupParts(spark, ut.multipartIdentifier).get
            ac.columnsToAdd.foreach { c =>
              if (c.path.nonEmpty) {
                // nested add: a new field inside an existing struct
                // column — metadata-only, old files' structs null-fill
                require(c.position.isEmpty,
                  "nested ADD COLUMN … FIRST/AFTER is not supported — " +
                    "nested fields append")
                require(c.default.isEmpty,
                  "nested ADD COLUMN … DEFAULT is not supported")
                t.addNestedColumn(c.path.get.name, c.colName, c.dataType)
              } else {
                val pos = c.position.map(_.position match {
                  case _: org.apache.spark.sql.connector.catalog
                      .TableChange.First => VersionedTable.ColFirst
                  case a: org.apache.spark.sql.connector.catalog
                      .TableChange.After => VersionedTable.ColAfter(a.column())
                  case p => sys.error(s"unsupported column position $p")
                })
                // DEFAULT: existing rows read the (ALTER-time frozen)
                // default, future inserts that omit the column fill with
                // the expression — Delta's EXISTS/CURRENT default pair
                t.addColumn(c.colName, c.dataType,
                  c.default.map(_.originalSQL), pos)
              }
            }
            refreshView(spark, name)
            dmlResult(spark, "add column", name, t.currentVersion)
          case _ => spark.sql(sql)
        }

      // ALTER TABLE … DROP COLUMN — the metadata-only drop under column
      // mapping (rename's sibling): data files keep the column, reads
      // project it away, the physical name retires
      case dc: DropColumns =>
        dc.table match {
          case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
              if lookupParts(spark, ut.multipartIdentifier).isDefined =>
            val name = normParts(ut.multipartIdentifier)
            val t = lookupParts(spark, ut.multipartIdentifier).get
            dc.columnsToDrop.foreach { c =>
              val cname = c.name.mkString(".")
              // DROP COLUMN IF EXISTS no-ops on a missing column
              if (!dc.ifExists ||
                  t.tableSchema.fieldNames.exists(_.equalsIgnoreCase(cname)))
                t.dropColumn(cname)
            }
            refreshView(spark, name)
            dmlResult(spark, "drop column", name, t.currentVersion)
          case _ => spark.sql(sql)
        }

      // ALTER TABLE … SET TBLPROPERTIES — free-form user metadata as a
      // logged commit; the layout keys CREATE consumes are immutable. On
      // a declared-only table (no commits yet) the properties BUFFER and
      // flush with the first data commit — Delta accepts SET right after
      // CREATE, and refusing it would force an artificial first insert
      case stp: SetTableProperties =>
        stp.table match {
          case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
              if lookupParts(spark, ut.multipartIdentifier).isDefined =>
            val name = normParts(ut.multipartIdentifier)
            val t = lookupParts(spark, ut.multipartIdentifier).get
            if (t.exists)
              // reserved layout keys are refused inside setProperties —
              // the API and the SQL surface share one guard
              t.setProperties(stp.properties)
            else {
              requireUserProps(stp.properties)
              val k = key(spark, name)
              pendingProps(k) =
                pendingProps.getOrElse(k, Map.empty) ++ stp.properties
            }
            dmlResult(spark, "set tblproperties", name, t.currentVersion)
          case _ => spark.sql(sql)
        }

      case utp: UnsetTableProperties =>
        utp.table match {
          case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
              if lookupParts(spark, ut.multipartIdentifier).isDefined =>
            val name = normParts(ut.multipartIdentifier)
            val t = lookupParts(spark, ut.multipartIdentifier).get
            if (t.exists)
              t.unsetProperties(utp.propertyKeys, utp.ifExists)
            else {
              val k = key(spark, name)
              val have = pendingProps.getOrElse(k, Map.empty)
              val missing = utp.propertyKeys.filterNot(have.contains)
              require(utp.ifExists || missing.isEmpty,
                s"cannot unset missing propert${
                  if (missing.size == 1) "y" else "ies"}: ${
                  missing.mkString(",")} (use IF EXISTS)")
              pendingProps(k) = have -- utp.propertyKeys
            }
            dmlResult(spark, "unset tblproperties", name, t.currentVersion)
          case _ => spark.sql(sql)
        }

      // ALTER TABLE … ALTER COLUMN … TYPE — metadata-only lossless widen
      // (int→bigint, float→double, …): the recorded schema changes, no
      // file is rewritten, pre-widen files upcast at read. Other ALTER
      // COLUMN forms (COMMENT, positions, defaults, nullability) stay
      // unsupported and refuse below.
      case ac: AlterColumns if ac.table.isInstanceOf[
            org.apache.spark.sql.catalyst.analysis.UnresolvedTable] &&
          lookupParts(spark, ac.table.asInstanceOf[
            org.apache.spark.sql.catalyst.analysis.UnresolvedTable]
            .multipartIdentifier).isDefined &&
          ac.specs.forall(s => s.newDataType.isDefined &&
            s.newNullability.isEmpty && s.newComment.isEmpty &&
            s.newPosition.isEmpty && s.newDefaultExpression.isEmpty &&
            !s.dropDefault) =>
        val ut = ac.table
          .asInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedTable]
        val name = normParts(ut.multipartIdentifier)
        val t = lookupParts(spark, ut.multipartIdentifier).get
        ac.specs.foreach { s =>
          require(s.column.name.length == 1,
            "nested ALTER COLUMN is not supported — graft columns are top-level")
          t.alterColumnType(s.column.name.head, s.newDataType.get)
        }
        refreshView(spark, name)
        dmlResult(spark, "alter column type", name, t.currentVersion)

      // ALTER COLUMN … SET DEFAULT / DROP DEFAULT: forward-insert default
      // only (Delta's contract — existing rows are untouched; an
      // exists-default installed by ADD COLUMN keeps governing old files)
      case ac: AlterColumns if ac.table.isInstanceOf[
            org.apache.spark.sql.catalyst.analysis.UnresolvedTable] &&
          lookupParts(spark, ac.table.asInstanceOf[
            org.apache.spark.sql.catalyst.analysis.UnresolvedTable]
            .multipartIdentifier).isDefined &&
          ac.specs.forall(sp => sp.newDataType.isEmpty &&
            sp.newNullability.isEmpty && sp.newComment.isEmpty &&
            sp.newPosition.isEmpty &&
            (sp.newDefaultExpression.isDefined || sp.dropDefault)) =>
        val ut = ac.table
          .asInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedTable]
        val name = normParts(ut.multipartIdentifier)
        val t = lookupParts(spark, ut.multipartIdentifier).get
        ac.specs.foreach { sp =>
          require(sp.column.name.length == 1,
            "nested ALTER COLUMN is not supported — graft columns are top-level")
          val cn = sp.column.name.head
          if (sp.dropDefault) t.dropDefault(cn)
          else {
            val f = t.tableSchema.fields
              .find(_.name.equalsIgnoreCase(cn)).getOrElse(
                sys.error(s"ALTER COLUMN: unknown column '$cn'"))
            require(!t.identityColNames.contains(cn.toLowerCase) &&
                !t.generatedCols.keys.exists(_.equalsIgnoreCase(cn)),
              s"column '$cn' is identity/generated — it cannot take a DEFAULT")
            t.declareDefaults(Map(cn -> ((f.dataType.catalogString,
              sp.newDefaultExpression.get.originalSQL))))
          }
        }
        refreshView(spark, name)
        dmlResult(spark, "alter column default", name, t.currentVersion)

      // ALTER COLUMN … COMMENT: one metadata commit; the comment surfaces
      // as field metadata on the registered view, so DESCRIBE shows it
      case ac: AlterColumns if ac.table.isInstanceOf[
            org.apache.spark.sql.catalyst.analysis.UnresolvedTable] &&
          lookupParts(spark, ac.table.asInstanceOf[
            org.apache.spark.sql.catalyst.analysis.UnresolvedTable]
            .multipartIdentifier).isDefined &&
          ac.specs.forall(sp => sp.newComment.isDefined &&
            sp.newDataType.isEmpty && sp.newNullability.isEmpty &&
            sp.newPosition.isEmpty && sp.newDefaultExpression.isEmpty &&
            !sp.dropDefault) =>
        val ut = ac.table
          .asInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedTable]
        val name = normParts(ut.multipartIdentifier)
        val t = lookupParts(spark, ut.multipartIdentifier).get
        ac.specs.foreach { sp =>
          require(sp.column.name.length == 1,
            "nested ALTER COLUMN is not supported — graft columns are top-level")
          t.setColumnComment(sp.column.name.head,
            Some(sp.newComment.get).filter(_.nonEmpty))
        }
        refreshView(spark, name)
        dmlResult(spark, "alter column comment", name, t.currentVersion)

      // ALTER COLUMN … FIRST / AFTER: metadata-only schema reorder —
      // reads project in recorded order, no file is touched
      case ac: AlterColumns if ac.table.isInstanceOf[
            org.apache.spark.sql.catalyst.analysis.UnresolvedTable] &&
          lookupParts(spark, ac.table.asInstanceOf[
            org.apache.spark.sql.catalyst.analysis.UnresolvedTable]
            .multipartIdentifier).isDefined &&
          ac.specs.forall(sp => sp.newPosition.isDefined &&
            sp.newDataType.isEmpty && sp.newNullability.isEmpty &&
            sp.newComment.isEmpty && sp.newDefaultExpression.isEmpty &&
            !sp.dropDefault) =>
        val ut = ac.table
          .asInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedTable]
        val name = normParts(ut.multipartIdentifier)
        val t = lookupParts(spark, ut.multipartIdentifier).get
        ac.specs.foreach { sp =>
          require(sp.column.name.length == 1,
            "nested ALTER COLUMN is not supported — graft columns are top-level")
          sp.newPosition.get.position match {
            case _: org.apache.spark.sql.connector.catalog.TableChange.First =>
              t.moveColumn(sp.column.name.head, None)
            case a: org.apache.spark.sql.connector.catalog.TableChange.After =>
              t.moveColumn(sp.column.name.head, Some(a.column()))
            case p => sys.error(s"unsupported column position $p")
          }
        }
        refreshView(spark, name)
        dmlResult(spark, "alter column position", name, t.currentVersion)

      // ALTER COLUMN … SET NOT NULL / DROP NOT NULL: constraint-style —
      // SET verifies existing rows (one aggregate), later batches verify
      // in the same single constraint pass; DROP is one metadata commit
      case ac: AlterColumns if ac.table.isInstanceOf[
            org.apache.spark.sql.catalyst.analysis.UnresolvedTable] &&
          lookupParts(spark, ac.table.asInstanceOf[
            org.apache.spark.sql.catalyst.analysis.UnresolvedTable]
            .multipartIdentifier).isDefined &&
          ac.specs.forall(sp => sp.newNullability.isDefined &&
            sp.newDataType.isEmpty && sp.newComment.isEmpty &&
            sp.newPosition.isEmpty && sp.newDefaultExpression.isEmpty &&
            !sp.dropDefault) =>
        val ut = ac.table
          .asInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedTable]
        val name = normParts(ut.multipartIdentifier)
        val t = lookupParts(spark, ut.multipartIdentifier).get
        ac.specs.foreach { sp =>
          require(sp.column.name.length == 1,
            "nested ALTER COLUMN is not supported — graft columns are top-level")
          // newNullability TRUE = the column becomes nullable (DROP NOT
          // NULL); FALSE = SET NOT NULL
          if (sp.newNullability.get) t.dropNotNull(sp.column.name.head)
          else t.setNotNull(sp.column.name.head)
        }
        refreshView(spark, name)
        dmlResult(spark, "alter column nullability", name, t.currentVersion)

      // any OTHER ALTER on a registered table (mixed-form ALTER COLUMN, …)
      // is not implemented — refuse with a graft-side message rather than
      // letting spark.sql fail with "table not found"
      case at: AlterTableCommand =>
        at.table match {
          case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
              if lookupParts(spark, ut.multipartIdentifier).isDefined =>
            sys.error("graft: unsupported ALTER TABLE operation " +
              s"(${at.getClass.getSimpleName}) for registered table " +
              s"'${normParts(ut.multipartIdentifier)}' — supported: RENAME " +
              "COLUMN, ADD COLUMN [DEFAULT|FIRST|AFTER|nested], DROP " +
              "COLUMN, ALTER COLUMN TYPE (lossless widen), ALTER COLUMN " +
              "SET/DROP DEFAULT, ALTER COLUMN COMMENT, ALTER COLUMN " +
              "FIRST/AFTER, ALTER COLUMN SET/DROP NOT NULL, SYNC " +
              "IDENTITY, SET/UNSET TBLPROPERTIES, ADD/DROP CONSTRAINT, " +
              "ADD GENERATED COLUMN")
          case _ => spark.sql(sql)
        }

      case d: DeleteFromTable =>
        targetOf(spark, d.table) match {
          case None => spark.sql(sql)
          case Some((name, t)) =>
            t.delete(c(d.condition))
            refreshView(spark, name)
            dmlResult(spark, "delete", name, t.currentVersion)
        }

      case u: UpdateTable =>
        targetOf(spark, u.table) match {
          case None => spark.sql(sql)
          case Some((name, t)) =>
            val sets = u.assignments.map(a => nameOf(a.key) -> c(a.value)).toMap
            t.update(u.condition.map(c).getOrElse(lit(true)), sets)
            refreshView(spark, name)
            dmlResult(spark, "update", name, t.currentVersion)
        }

      case m: MergeIntoTable =>
        targetOf(spark, m.targetTable) match {
          case None => spark.sql(sql)
          case Some((name, t)) =>
            // the dispatch joins on the primary key and ONLY the primary
            // key — an ON with extra predicates, inequalities, or non-pk
            // equalities would be silently mis-joined, so it is refused
            val pkSet = t.pk.map(_.toLowerCase).toSet
            val pairs = eqConjuncts(m.mergeCondition).getOrElse(sys.error(
              "MERGE ON condition must be a conjunction of like-named " +
                "column equalities covering exactly the primary-key " +
                "columns — other predicates are not honored"))
            val badPair = pairs.filterNot(p => p._1 == p._2 && pkSet.contains(p._1))
            require(badPair.isEmpty,
              s"MERGE ON condition may only equate primary-key columns " +
                s"with themselves; offending: ${badPair.mkString(",")}")
            val missing = pkSet -- pairs.map(_._1).toSet
            require(missing.isEmpty,
              s"MERGE ON condition must equate every primary-key column; " +
                s"missing: ${missing.mkString(",")}")
            // the source may be any relation or subquery — analysis
            // resolves it from the session catalog
            val src = GraftSqlBridge.ofRows(spark, m.sourceTable)
            val plainUpsert =
              m.matchedActions == Seq(UpdateStarAction(None)) &&
                m.notMatchedActions == Seq(InsertStarAction(None)) &&
                m.notMatchedBySourceActions.isEmpty
            if (plainUpsert) {
              // the exact updateAll/insertAll upsert IS merge() — keep its
              // schema-evolution and idempotency surface. Star actions bind
              // by name, so source-only columns project away first (merge
              // null-fills table columns the source omits) — UNLESS the
              // statement says WITH SCHEMA EVOLUTION, where keeping them is
              // the point: merge()'s unionByName widens the table schema
              val src2 =
                if (m.withSchemaEvolution) src
                else {
                  val keep = src.columns.filter(cn =>
                    t.tableSchema.fieldNames.exists(_.equalsIgnoreCase(cn)))
                  src.select(keep.map(org.apache.spark.sql.functions.col).toSeq: _*)
                }
              t.merge(src2)
            } else
              // clause conditions may reference source-only columns (the
              // classic CDC `s.op = 'D'` discriminator) — hand the FULL
              // source over; WITH SCHEMA EVOLUTION widens the output
              // schema with the source-only columns, otherwise the output
              // schema is the target's
              dispatchClauses(spark, t, m, src, m.withSchemaEvolution)
            refreshView(spark, name)
            dmlResult(spark, "merge", name, t.currentVersion)
        }

      // SHOW TBLPROPERTIES t [('key')] — answered from the replayed
      // property map, zero data scan. A named key that does not exist
      // errors (Spark's own contract for v2 tables).
      case sp: ShowTableProperties =>
        sp.table match {
          case tv: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView
              if lookupParts(spark, tv.multipartIdentifier).isDefined =>
            val t = lookupParts(spark, tv.multipartIdentifier).get
            // committed map, plus any properties still buffered from
            // before the table's first commit (they flush with it)
            val props =
              (if (t.exists) t.properties else Map.empty[String, String]) ++
              pendingProps.getOrElse(
                (GraftSqlBridge.sessionUuid(spark),
                  normParts(tv.multipartIdentifier)),
                Map.empty[String, String])
            import spark.implicits._
            sp.propertyKey match {
              case Some(k) =>
                val v = props.getOrElse(k, sys.error(
                  s"table '${normParts(tv.multipartIdentifier)}' does not " +
                    s"have property '$k'"))
                Seq((k, v)).toDF("key", "value")
              case None =>
                props.toSeq.sortBy(_._1).toDF("key", "value")
            }
          case _ => spark.sql(sql)
        }

      // SHOW CREATE TABLE t — reconstructed from the committed schema,
      // the layout, and the property map: the statement that would
      // recreate (re-attach) this table through dispatchCreate
      case sct: ShowCreateTable =>
        sct.child match {
          case tv: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView
              if lookupParts(spark, tv.multipartIdentifier).isDefined =>
            val name = normParts(tv.multipartIdentifier)
            val t = lookupParts(spark, tv.multipartIdentifier).get
            val sch =
              if (t.exists) t.tableSchema
              else declared.getOrElse(key(spark, name), sys.error(
                s"'$name' has no commits and no declared columns"))
            val ident = t.identityCols
            val gencols = t.generatedCols
            val cols = sch.fields.map { f =>
              val idClause = ident.get(f.name.toLowerCase).map { sp =>
                val kind = if (sp.allowExplicit) "BY DEFAULT" else "ALWAYS"
                s" GENERATED $kind AS IDENTITY (START WITH ${sp.start} " +
                  s"INCREMENT BY ${sp.step})"
              }.getOrElse("")
              val genClause = gencols.collectFirst {
                case (n, e) if n.equalsIgnoreCase(f.name) =>
                  s" GENERATED ALWAYS AS ($e)"
              }.getOrElse("")
              val defClause = t.columnDefaults.get(f.name.toLowerCase)
                .map { case (_, sql) => s" DEFAULT $sql" }.getOrElse("")
              val nnClause =
                if (t.notNullCols.contains(f.name.toLowerCase)) " NOT NULL"
                else ""
              s"  ${f.name} ${f.dataType.sql}$nnClause$idClause$genClause$defClause"
            }.mkString(",\n")
            val parts =
              if (t.partitionCols.isEmpty) ""
              else s"\nPARTITIONED BY (${t.partitionCols.mkString(", ")})"
            val props =
              Seq(s"'pk' = '${t.pk.mkString(",")}'") ++
                (if (t.statsCols.nonEmpty)
                  Seq(s"'statscols' = '${t.statsCols.mkString(",")}'") else Nil) ++
                (if (t.recordCdf) Seq("'recordcdf' = 'true'") else Nil) ++
                t.properties.toSeq.sortBy(_._1).map { case (k, v) =>
                  s"'${k.replace("'", "''")}' = '${v.replace("'", "''")}'"
                }
            val stmt =
              s"""CREATE TABLE $name (
                 |$cols)
                 |USING graft$parts
                 |LOCATION '${t.path}'
                 |TBLPROPERTIES (${props.mkString(", ")})""".stripMargin
            import spark.implicits._
            Seq(stmt).toDF("createtab_stmt")
          case _ => spark.sql(sql)
        }

      case _ if substitutedAny => GraftSqlBridge.ofRows(spark, substituted)
      case _ => spark.sql(sql)
    }
  }

  /** Shared CREATE TABLE / CREATE TABLE AS SELECT dispatch: a `USING
    * graft` spec builds and registers a [[VersionedTable]] at LOCATION
    * (pk from TBLPROPERTIES, partitioning from the clause or properties);
    * anything else passes through to `spark.sql`. A CTAS query loads the
    * first commit; a plain CREATE with declared columns exposes a
    * zero-row view of that schema until the first insert.
    *
    * `replacedProps` marks a call from [[dispatchReplace]]'s OR-CREATE
    * path: the replace's declared TBLPROPERTIES become the table's NEW
    * map (installed atomically by the replace commit itself), so the
    * attach-time property-match check and the pre-commit property buffer
    * are both skipped here — an attach-style clash refusal would
    * contradict the documented replace semantics (Delta's CREATE OR
    * REPLACE on existing storage succeeds and supersedes the map).
    */
  private def dispatchCreate(spark: SparkSession, sql: String,
      namePlan: LogicalPlan,
      partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform],
      tableSpec: Any, ignoreIfExists: Boolean,
      columns: Seq[ColumnDefinition],
      ctasQuery: Option[LogicalPlan],
      replacedProps: Boolean = false): DataFrame = {
    val nameOpt = namePlan match {
      case org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier(parts, _) =>
        Some(normParts(parts))
      case _ => None
    }
    val (provider, location, props) = tableSpec match {
      case u: UnresolvedTableSpec => (u.provider, u.location, u.properties)
      case s: TableSpec => (s.provider, s.location, s.properties)
      case _ => (None, None, Map.empty[String, String])
    }
    if (nameOpt.isEmpty || !provider.exists(_.equalsIgnoreCase("graft")))
      return spark.sql(sql)
    val name = nameOpt.get
    def prop(k: String): Option[String] =
      props.collectFirst { case (p, v) if p.equalsIgnoreCase(k) => v }
    lookup(spark, name) match {
      case Some(t0) =>
        if (!ignoreIfExists) sys.error(
          s"table '$name' is already registered — DROP TABLE it first " +
            "or use CREATE TABLE IF NOT EXISTS")
        dmlResult(spark, "create table", name, t0.currentVersion)
      case None =>
        val loc = location.getOrElse(sys.error(
          "CREATE TABLE … USING graft needs LOCATION '<path>' " +
            "(external-table storage, like the reference's S3 locations)"))
        def list(s: String) =
          s.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        val pkCols = prop("pk").map(list).getOrElse(sys.error(
          "CREATE TABLE … USING graft needs TBLPROPERTIES ('pk'='<col,…>')"))
        // PARTITIONED BY (col, …) wins; TBLPROPERTIES('partition'=…)
        // covers the schemaless CREATE, where the clause can't appear.
        // Non-identity transforms (days(ts), bucket(4,id)) would silently
        // create an UNPARTITIONED table — refuse them loudly instead
        val partCols = {
          val unsupported = partitioning.filterNot(_.name == "identity")
          require(unsupported.isEmpty,
            s"unsupported partition transform(s): ${
              unsupported.map(_.name).mkString(",")} — graft partitions by " +
              "identity columns (materialize the derived value as a " +
              "generated column and partition by it)")
          val fromClause = partitioning.collect {
            case t if t.name == "identity" => t.references.head.fieldNames.last
          }
          if (fromClause.nonEmpty) fromClause.toSeq
          else prop("partition").map(list).getOrElse(Seq.empty)
        }
        val t = VersionedTable(spark, loc, pkCols, partCols,
          statsCols = prop("statsCols").map(list).getOrElse(Seq.empty),
          recordCdf = prop("recordCdf").exists(_.toBoolean))
        // identity columns (GENERATED … AS IDENTITY — Spark 4 parses the
        // spec onto the column definition): declared pre-first-commit
        // they buffer on the handle and ride the first commit; attaching
        // to committed storage verifies the declaration instead
        val identDecl: Map[String, VersionedTable.IdentitySpec] =
          columns.flatMap(c => c.identityColumnSpec.map { sp =>
            require(c.dataType == org.apache.spark.sql.types.LongType,
              s"identity column '${c.name}' must be BIGINT; got " +
                c.dataType.simpleString)
            require(!partCols.exists(_.equalsIgnoreCase(c.name)),
              s"identity column '${c.name}' cannot be a partition column")
            c.name.toLowerCase -> VersionedTable.IdentitySpec(
              sp.getStart, sp.getStep, sp.isAllowExplicitInsert)
          }).toMap
        if (identDecl.nonEmpty) {
          if (t.exists) {
            val committed = t.identityCols
            identDecl.foreach { case (n, spec) =>
              require(committed.get(n).contains(spec),
                s"declared identity column '$n' does not match the " +
                  s"committed table at '$loc' (committed: ${committed.get(n)
                    .map(_.toString).getOrElse("none")})")
            }
          } else t.declareIdentity(identDecl)
        }
        // CREATE-time generated columns (GENERATED ALWAYS AS (expr), the
        // Spark 4 column spec): declared pre-first-commit they buffer and
        // the FIRST batch already derives them (so a generated PARTITION
        // key works from the very first insert); attaching verifies
        val genDecl: Map[String, String] = columns.flatMap(c =>
          c.generationExpression.map { e =>
            require(!identDecl.contains(c.name.toLowerCase),
              s"column '${c.name}' cannot be both identity and generated")
            c.name -> e
          }).toMap
        if (genDecl.nonEmpty) {
          if (t.exists) {
            val committed = t.generatedCols
            genDecl.foreach { case (n, e) =>
              require(committed.exists { case (cn, ce) =>
                  cn.equalsIgnoreCase(n) && ce.replaceAll("\\s+", "") ==
                    e.replaceAll("\\s+", "") },
                s"declared generated column '$n' does not match the " +
                  s"committed table at '$loc'")
            }
          } else t.declareGenerated(genDecl)
        }
        // CREATE-time column DEFAULTs: omitted columns fill with the
        // expression on insert-shaped writes (Delta's allowColumnDefaults)
        val defDecl: Map[String, (String, String)] = columns.flatMap(c =>
          c.defaultValue.map { dv =>
            require(!identDecl.contains(c.name.toLowerCase) &&
                !genDecl.keys.exists(_.equalsIgnoreCase(c.name)),
              s"column '${c.name}' cannot combine DEFAULT with " +
                "identity/generated")
            c.name -> ((c.dataType.catalogString, dv.originalSQL))
          }).toMap
        if (defDecl.nonEmpty) {
          if (t.exists) {
            val committed = t.columnDefaults
            defDecl.foreach { case (n, (_, sql)) =>
              require(committed.get(n.toLowerCase).exists(
                  _._2.replaceAll("\\s+", "") == sql.replaceAll("\\s+", "")),
                s"declared DEFAULT for column '$n' does not match the " +
                  s"committed table at '$loc'")
            }
          } else t.declareDefaults(defDecl)
        }
        // CREATE-time NOT NULL (`col T NOT NULL` in the column list):
        // buffered pre-first-commit, so the FIRST batch already verifies;
        // pk columns are structurally non-null and never listed
        val nnDecl: Seq[String] = columns
          .filterNot(_.nullable).map(_.name)
          .filterNot(c => pkCols.exists(_.equalsIgnoreCase(c)))
        if (nnDecl.nonEmpty) {
          if (t.exists) {
            val committed = t.notNullCols
            nnDecl.foreach(n => require(committed.contains(n.toLowerCase),
              s"declared NOT NULL column '$n' does not match the " +
                s"committed table at '$loc' (no such constraint recorded)"))
          } else t.declareNotNull(nnDecl)
        }
        // TBLPROPERTIES beyond the layout keys are USER properties
        // (Delta parity): buffered now, committed with the first data
        // commit (immediately, for CTAS)
        val extraProps = props.filterNot { case (k, _) =>
          VersionedTable.reservedPropertyKeys(k.toLowerCase) }
        require(extraProps.keys.forall(_.nonEmpty),
          "property keys must be non-empty")
        // the graft.* namespace is ENGINE state — refuse it HERE, not at
        // the deferred buffer flush (which runs after a later commit and
        // would fail that statement with a confusing message)
        val internalCreate = extraProps.keys.filter(
          _.toLowerCase.startsWith(VersionedTable.InternalPropPrefix))
        require(internalCreate.isEmpty,
          s"TBLPROPERTIES ${internalCreate.mkString(",")}: the 'graft.' " +
            "namespace is reserved for engine state and cannot be set")
        // attaching to storage that already holds commits: VERIFY the
        // declared layout against the recorded one — a typo'd pk would
        // silently dispatch merges on wrong join keys over good data
        if (t.exists) t.recordedLayout.foreach { case (rpk, rpc) =>
          def n(s: Seq[String]) = s.map(_.toLowerCase)
          require(n(rpk) == n(pkCols) && n(rpc) == n(partCols),
            s"declared layout does not match the committed table at '$loc': " +
              s"committed pk=[${rpk.mkString(",")}] partition=[${rpc.mkString(",")}], " +
              s"declared pk=[${pkCols.mkString(",")}] partition=[${partCols.mkString(",")}]")
        }
        if (t.exists && !replacedProps) {
          // …and user properties in an ATTACH statement must agree with
          // the committed map (SHOW CREATE TABLE round-trips through
          // here) — silently dropping a mismatch would hide a wrong
          // assumption about the table being attached. (A REPLACE-driven
          // create skips this: its declared map SUPERSEDES the committed
          // one, installed by the replace commit.)
          val committed = t.properties
          val clash = extraProps.filter { case (k, v) =>
            !committed.get(k).contains(v) }
          require(clash.isEmpty,
            s"declared TBLPROPERTIES do not match the committed table at " +
              s"'$loc': ${clash.keys.toSeq.sorted.mkString(",")} — ALTER " +
              "TABLE … SET TBLPROPERTIES after attaching to change them")
        } else if (!t.exists && extraProps.nonEmpty && !replacedProps)
          pendingProps((key(spark, name))) = extraProps
        ctasQuery.foreach { q =>
          require(!t.exists,
            s"CREATE TABLE AS SELECT: '$loc' already holds a committed " +
              "table — attach it with a plain CREATE, or choose a new location")
          t.overwrite(GraftSqlBridge.ofRows(spark, q))
        }
        register(spark, name, t)
        if (!t.exists && columns.nonEmpty) {
          // brand-new table with a declared schema: recorded for reads
          // before the first insert (and as a zero-row temp view when the
          // name can carry one)
          val schema = org.apache.spark.sql.types.StructType(
            columns.map(c => org.apache.spark.sql.types.StructField(
              c.name, c.dataType, nullable = true)))
          declared(key(spark, name)) = schema
          if (viewable(name)) spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            schema).createOrReplaceTempView(name)
        }
        dmlResult(spark, "create table", name, t.currentVersion)
    }
  }

  /** CREATE OR REPLACE TABLE / REPLACE TABLE … USING graft: the replace
    * is a versioned OVERWRITE of the registered table — history and time
    * travel to the pre-replace eras survive (Delta's replace keeps
    * history the same way). The declared layout must MATCH the table's
    * (pk/partition are immutable in graft; a replace wanting a new layout
    * is a new table), and the declared TBLPROPERTIES become the new map —
    * keys the new statement drops are unset, Delta's replace semantics.
    * Plain REPLACE (no AS SELECT) truncates to an empty table under the
    * declared columns. An unregistered name requires OR CREATE and routes
    * through [[dispatchCreate]] first.
    */
  private def dispatchReplace(spark: SparkSession, sql: String,
      namePlan: LogicalPlan,
      partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform],
      tableSpec: Any, columns: Seq[ColumnDefinition],
      query: Option[LogicalPlan], orCreate: Boolean): DataFrame = {
    val nameOpt = namePlan match {
      case org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier(parts, _) =>
        Some(normParts(parts))
      case _ => None
    }
    val (provider, location, props) = tableSpec match {
      case u: UnresolvedTableSpec => (u.provider, u.location, u.properties)
      case s: TableSpec => (s.provider, s.location, s.properties)
      case _ => (None, None, Map.empty[String, String])
    }
    if (nameOpt.isEmpty || !provider.exists(_.equalsIgnoreCase("graft")))
      return spark.sql(sql)
    val name = nameOpt.get
    def prop(k: String): Option[String] =
      props.collectFirst { case (p, v) if p.equalsIgnoreCase(k) => v }
    def list(s: String) = s.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val extraProps = props.filterNot { case (k, _) =>
      VersionedTable.reservedPropertyKeys(k.toLowerCase) }
    val internalReplace = extraProps.keys.filter(
      _.toLowerCase.startsWith(VersionedTable.InternalPropPrefix))
    require(internalReplace.isEmpty,
      s"TBLPROPERTIES ${internalReplace.mkString(",")}: the 'graft.' " +
        "namespace is reserved for engine state and cannot be set")
    lookup(spark, name) match {
      case None =>
        require(orCreate, s"REPLACE TABLE: '$name' is not a registered " +
          "graft table — use CREATE OR REPLACE TABLE (or CREATE TABLE)")
        // replacedProps: an existing committed table at LOCATION attaches
        // WITHOUT the property-match check (the declared map supersedes —
        // installed below, atomically with the replace commit); a fresh
        // location skips the pre-commit buffer for the same reason
        dispatchCreate(spark, sql, namePlan, partitioning, tableSpec,
          ignoreIfExists = false, columns, None, replacedProps = true)
      case Some(t) =>
        // re-pointing a registered name at different storage would orphan
        // the table silently — a new location means a new table
        location.foreach { l =>
          require(l.stripSuffix("/") == t.path.stripSuffix("/"),
            s"REPLACE TABLE '$name' declares LOCATION '$l' but the " +
              s"registered table lives at '${t.path}' — DROP and CREATE " +
              "to move a name")
        }
        // a non-identity transform (days(ts), bucket(4,id)) would
        // silently drop the declared partitioning — refuse, as CREATE does
        val badTr = partitioning.filterNot(_.name == "identity")
        require(badTr.isEmpty,
          s"unsupported partition transform(s): ${
            badTr.map(_.name).mkString(",")} — graft partitions by " +
            "identity columns")
        val pkCols = prop("pk").map(list).getOrElse(Seq.empty)
        val partCols = {
          val fromClause = partitioning.collect {
            case tr if tr.name == "identity" => tr.references.head.fieldNames.last
          }
          if (fromClause.nonEmpty) fromClause.toSeq
          else prop("partition").map(list).getOrElse(Seq.empty)
        }
        def n(s: Seq[String]) = s.map(_.toLowerCase)
        require(pkCols.isEmpty || n(pkCols) == n(t.pk),
          s"REPLACE TABLE cannot change the primary key: table has " +
            s"pk=[${t.pk.mkString(",")}], declared [${pkCols.mkString(",")}]")
        require((partCols.isEmpty && partitioning.isEmpty) ||
            n(partCols) == n(t.partitionCols),
          s"REPLACE TABLE cannot change the partitioning: table has " +
            s"[${t.partitionCols.mkString(",")}], declared [${partCols.mkString(",")}]")
        // the remaining layout config is just as immutable — a declared
        // change to statsCols/recordCdf must refuse, never silently drop
        prop("statsCols").map(list).foreach(sc => require(
          n(sc) == n(t.statsCols),
          s"REPLACE TABLE cannot change statsCols: table has " +
            s"[${t.statsCols.mkString(",")}], declared [${sc.mkString(",")}]"))
        prop("recordCdf").foreach(rc => require(
          rc.toBoolean == t.recordCdf,
          s"REPLACE TABLE cannot change recordCdf: table has ${t.recordCdf}"))
        // identity specs are immutable too — and the watermark survives a
        // replace (graft.* keys are outside the user property map the
        // replace supersedes), so post-replace inserts never reuse ids
        columns.flatMap(c => c.identityColumnSpec.map(sp =>
          c.name -> VersionedTable.IdentitySpec(
            sp.getStart, sp.getStep, sp.isAllowExplicitInsert)))
          .foreach { case (n, spec) =>
            require(t.identityCols.get(n.toLowerCase).contains(spec),
              s"REPLACE TABLE cannot change identity column '$n' " +
                "(committed: " +
                t.identityCols.get(n.toLowerCase).map(_.toString)
                  .getOrElse("none") + ")")
          }
        // the replace's declared properties supersede ANY buffered ones —
        // a stale pre-commit buffer must not flush over the new map later
        pendingProps.remove(key(spark, name))
    }
    val t = lookup(spark, name).get
    // The declared TBLPROPERTIES are the table's NEW map (replace, not
    // upsert): committed keys the statement drops are unset. The delta
    // RIDES the replace's own overwrite commit as setprop=/unsetprop=
    // lines (same vehicle as restore), so a replace is ONE atomic
    // version — a crash or lost race can never leave the new data under
    // the old property map, and time travel never sees a half-applied
    // intermediate. gone/changed keys are disjoint, so replay's
    // (m ++ set) -- unset fold is order-safe within the commit.
    require(extraProps.keys.forall(_.nonEmpty),
      "property keys must be non-empty")
    // Reconcile committed COLUMN-LEVEL engine state against the new
    // column set. Identity and generated columns cannot silently vanish
    // (their surviving declarations would re-inject the column onto the
    // replacement's batches — a schema the user explicitly removed);
    // column DEFAULTs retire with their columns, and defaults declared by
    // the replace itself install — all riding the replace commit.
    val newColsLc: Option[Set[String]] =
      if (query.isDefined)
        Some(GraftSqlBridge.ofRows(spark, query.get)
          .columns.map(_.toLowerCase).toSet)
      else if (columns.nonEmpty)
        Some(columns.map(_.name.toLowerCase).toSet)
      else None
    val defaultDeltaLines: Seq[String] =
      if (!t.exists) Nil
      else newColsLc.toSeq.flatMap { ncs =>
        val droppedIdent = t.identityCols.keySet.diff(ncs)
        require(droppedIdent.isEmpty,
          s"REPLACE TABLE cannot drop identity column(s) ${
            droppedIdent.mkString(",")} — declare them in the new column " +
            "list (identity state is immutable)")
        val droppedGen = t.generatedCols.keys
          .filter(g => !ncs.contains(g.toLowerCase))
        require(droppedGen.isEmpty,
          s"REPLACE TABLE cannot drop generated column(s) ${
            droppedGen.mkString(",")} — dropGeneratedColumn first")
        // the declared map SUPERSEDES: a committed default survives only
        // if the replace re-declares that column WITH a default (vanished
        // columns and columns re-declared default-less both retire —
        // keeping the old value would silently fill post-replace inserts
        // with a default the new definition never declared). Keys the
        // install below re-sets are excluded from the unset list: replay
        // folds (m ++ set) -- unset, so an unset of a re-set key would win.
        val redeclaredWithDefault = columns
          .filter(_.defaultValue.isDefined).map(_.name.toLowerCase).toSet
        // columns the replace re-declares NOT NULL (pk excluded — its
        // non-null contract is structural and never a listed constraint)
        val redeclaredNotNull = columns.filterNot(_.nullable)
          .filterNot(c => t.pk.exists(_.equalsIgnoreCase(c.name)))
          .map(_.name.toLowerCase).toSet
        val retire = t.columnDefaults.keySet
          .filterNot(redeclaredWithDefault).toSeq.sorted
          .map(c => s"unsetprop=${enc(s"graft.default.col.$c")}") ++
          // a replace writes ALL-new files — no file predates any column,
          // so every committed exists-default retires unconditionally
          t.existsDefaults.keySet.toSeq.sorted
            .map(c => s"unsetprop=${enc(s"graft.existdefault.col.$c")}") ++
          // NOT NULL follows the same declared-map-supersedes rule as
          // defaults: a committed constraint survives only if the replace
          // re-declares the column NOT NULL (vanished and re-declared-
          // nullable columns both retire; CTAS declares no columns, so
          // all retire). The replace leaves zero rows (plain) or its
          // query's rows land under the new constraint set via the
          // overwrite's own enforcement pass.
          t.notNullCols
            .filterNot(redeclaredNotNull).toSeq.sorted
            .map(c => s"unsetprop=${enc(s"graft.notnull.col.$c")}")
        // defaults declared ON the replace's own column list (CTAS cannot
        // declare columns, so this is the plain-REPLACE path)
        val install = columns.flatMap(c => c.defaultValue.map { dv =>
          s"setprop=${enc(s"graft.default.col.${c.name.toLowerCase}")}" +
            "\t" + enc(s"${c.dataType.catalogString}\t${dv.originalSQL}")
        }) ++
          // NOT NULL declared on the replace's own column list installs;
          // the replaced table holds zero rows (plain replace), so there
          // is no existing data to verify
          redeclaredNotNull.toSeq.sorted
            .map(c => s"setprop=${enc(s"graft.notnull.col.$c")}\t1")
        retire ++ install
      }
    val replacePropLines = {
      val cur = if (t.exists) t.properties else Map.empty[String, String]
      ((cur.keySet -- extraProps.keySet).toSeq.sorted
        .map(k => s"unsetprop=${enc(k)}") ++
      extraProps.filter { case (k, v) => !cur.get(k).contains(v) }
        .toSeq.sortBy(_._1).map { case (k, v) => s"setprop=${enc(k)}\t${enc(v)}" }) ++
      defaultDeltaLines
    }
    def declaredSchema = {
      val schema = org.apache.spark.sql.types.StructType(
        columns.map(c => org.apache.spark.sql.types.StructField(
          c.name, c.dataType, nullable = true)))
      // a schema omitting the layout columns would wedge the table: the
      // next INSERT/MERGE resolves pk/partition against tableSchema
      (t.pk ++ t.partitionCols).foreach(c => require(
        schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"REPLACE TABLE '$name' columns must include layout column '$c' " +
          s"(pk=[${t.pk.mkString(",")}], partition=[${t.partitionCols.mkString(",")}])"))
      schema
    }
    query match {
      case Some(q) =>
        val df = GraftSqlBridge.ofRows(spark, q)
        (t.pk ++ t.partitionCols).foreach(c => require(
          df.columns.exists(_.equalsIgnoreCase(c)),
          s"REPLACE TABLE '$name' AS SELECT must carry layout column '$c' " +
            s"(pk=[${t.pk.mkString(",")}], partition=[${t.partitionCols.mkString(",")}])"))
        t.overwrite(df, None, replacePropLines)
      case None if t.exists =>
        // plain REPLACE: Delta replaces the table with its new (empty)
        // definition — an overwrite to zero rows under the declared schema
        require(columns.nonEmpty,
          s"REPLACE TABLE '$name' needs declared columns or AS SELECT")
        // the empty frame carries the declared schema VERBATIM (including
        // any identity column, preserving declared column order) — zero
        // rows allocate nothing and supply nothing, so the ALWAYS
        // explicit-write refusal must not fire on it
        t.overwrite(spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          declaredSchema), None, replacePropLines, identityApplied = true,
          skipDefaults = true)
      case None =>
        // declared-only (no commits): record the new declared schema
        if (columns.nonEmpty) {
          val schema = declaredSchema
          declared(key(spark, name)) = schema
          if (viewable(name)) spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            schema).createOrReplaceTempView(name)
        }
    }
    // the new property map already landed WITH the replace commit above
    // (replacePropLines); the buffer was cleared in the Some branch (and
    // the OR-CREATE dispatch skipped it), so nothing stale can flush
    // afterwards. A declared-only table (no commits) has no commit to
    // carry the lines yet — buffer, flushed at the first data commit.
    if (t.exists)
      pendingProps.remove(key(spark, name))
    else if (extraProps.nonEmpty)
      pendingProps(key(spark, name)) = extraProps
    else pendingProps.remove(key(spark, name))
    refreshView(spark, name)
    dmlResult(spark, "replace table", name, t.currentVersion)
  }

  /** Alias a MERGE side was given in the statement (`MERGE INTO t AS x`),
    * defaulting to the relation name — clause expressions qualify their
    * references with it, so the builder must join under the same name.
    */
  private def aliasOf(p: LogicalPlan, dflt: String): String = p match {
    case a: SubqueryAlias => a.alias
    case _ => dflt
  }

  /** Map a conditional-clause MERGE statement onto [[MergeIntoBuilder]]:
    * every Catalyst merge action has a direct builder equivalent, so the
    * full Delta SQL surface (conditional clauses, column-level SET/INSERT,
    * WHEN NOT MATCHED BY SOURCE) dispatches — nothing is approximated.
    */
  private def dispatchClauses(spark: SparkSession, t: VersionedTable,
                              m: MergeIntoTable, src: DataFrame,
                              evolve: Boolean): Unit = {
    val tA = aliasOf(m.targetTable,
      m.targetTable.collectFirst {
        case r: UnresolvedRelation => r.multipartIdentifier.last
      }.getOrElse("t"))
    val sA = aliasOf(m.sourceTable,
      m.sourceTable.collectFirst {
        case r: UnresolvedRelation => r.multipartIdentifier.last
      }.getOrElse("s"))
    def sets(as: Seq[Assignment]): Map[String, Column] =
      as.map(a => nameOf(a.key) -> c(a.value)).toMap
    val b0 = t.mergeInto(src, tA, sA)
    val b = if (evolve) b0.withSchemaEvolution() else b0
    m.matchedActions.foreach {
      case UpdateStarAction(cond) => b.whenMatched(cond.map(c).orNull).updateAll()
      case UpdateAction(cond, as, _) => b.whenMatched(cond.map(c).orNull).update(sets(as))
      case DeleteAction(cond) => b.whenMatched(cond.map(c).orNull).delete()
      case other => sys.error(s"unsupported WHEN MATCHED action: $other")
    }
    m.notMatchedActions.foreach {
      case InsertStarAction(cond) => b.whenNotMatched(cond.map(c).orNull).insertAll()
      case InsertAction(cond, as) => b.whenNotMatched(cond.map(c).orNull).insert(sets(as))
      case other => sys.error(s"unsupported WHEN NOT MATCHED action: $other")
    }
    m.notMatchedBySourceActions.foreach {
      case UpdateAction(cond, as, _) =>
        b.whenNotMatchedBySource(cond.map(c).orNull).update(sets(as))
      case DeleteAction(cond) =>
        b.whenNotMatchedBySource(cond.map(c).orNull).delete()
      case other => sys.error(s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
    }
    b.execute()
  }
}
