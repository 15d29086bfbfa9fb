package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.ops.Phases

import TableLog.{dec, enc, partOf}

/** Versioned lake table: Delta-style time travel re-expressed as a
  * directory-granular commit log over plain Parquet.
  *
  * Layout:
  * {{{
  *   path/_log/v00001.log    one entry per commit: action + the RELATIVE
  *                           data dirs it adds/removes
  *   path/data/v00001/...    every commit writes its files under its OWN
  *                           version root; nothing is rewritten in place,
  *                           so every historical version stays readable
  *                           until vacuumed
  * }}}
  *
  * The atomic create of the next log file IS the commit — the protocol the
  * reference gets from Delta's transaction log
  * (/root/reference/scripts/glue/script.py:31-32): data dirs are staged
  * first, the log create claims the version number, and a writer that
  * loses the race fails fast and deletes its staging (readers never see
  * it). Time travel = replaying adds/removes up to version v.
  *
  * Versioned reads and an auditable [[history]] cost storage, and
  * [[vacuum]] bounds that cost.
  *
  * Scale posture: a merge stages ONLY the touched partitions (static
  * partition predicates prune the current-version scan), the log holds
  * directory names (bounded by commits × partitions, never rows), and
  * version replay is driver-side string work.
  */
/** A write batch (or the existing table, at ADD CONSTRAINT time) broke a
  * CHECK constraint; the commit was refused and nothing changed.
  */
final class ConstraintViolationException(
    val name: String, val expression: String, val nViolations: Long)
  extends RuntimeException(
    s"CHECK constraint '$name' ($expression) is violated by $nViolations row(s)")

final case class VersionedTable(
    spark: SparkSession,
    path: String,
    pk: Seq[String],
    partitionCols: Seq[String] = Nil,
    checkpointInterval: Int = 10,
    statsCols: Seq[String] = Nil,
    recordCdf: Boolean = false) {

  private def fs: FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True when `fs` is the local filesystem — the branch that may use NIO
    * link/move primitives. `getScheme`'s FileSystem base-class default
    * THROWS UnsupportedOperationException, so an exotic filesystem must
    * fall back to the rename-based paths, not fail every commit.
    */
  private def isLocalFs: Boolean =
    scala.util.Try(fs.getScheme).toOption.contains("file")

  private def logDir = new Path(s"$path/_log")
  private def dataDir = s"$path/data"
  private def vname(v: Int) = f"v$v%05d"

  /** Log dir entries are normally RELATIVE to this table's `data/`; a
    * shallow [[cloneTo]] commit instead references the SOURCE table's dirs
    * as `ext=<url-encoded absolute root>/<partition path>` — the encoded
    * root is one path component, so every split("/")-based consumer
    * (grouping, [[partOf]], checkpoint replay) works unchanged.
    */
  private val ExtPrefix = "ext="

  /** Absolute location of a dir entry's version-root component. */
  private def resolveRoot(rootComp: String): String =
    if (rootComp.startsWith(ExtPrefix))
      dec(rootComp.stripPrefix(ExtPrefix))
    else s"$dataDir/$rootComp"

  /** Absolute location of a full dir entry (root + partition path). */
  private def resolvedPath(d: String): Path = {
    val parts = d.split("/", 2)
    new Path(resolveRoot(parts(0)) + parts.lift(1).map("/" + _).getOrElse(""))
  }

  /** Log files opened by this instance — test instrumentation for the
    * checkpointing contract (reads after many commits stay O(interval)).
    */
  private[graft] var logReads: Int = 0

  /** Test seam: runs at the top of every commit attempt (lets a spec
    * deterministically interleave a competing writer). No-op in production.
    */
  private[graft] var beforeCommitHook: () => Unit = () => ()

  def exists: Boolean = fs.exists(logDir) && fs.listStatus(logDir).nonEmpty

  /** Latest committed version; 0 = nothing committed yet. */
  def currentVersion: Int =
    if (!fs.exists(logDir)) 0
    else fs.listStatus(logDir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".log"))
      .map(_.stripPrefix("v").stripSuffix(".log").toInt)
      .foldLeft(0)(math.max)

  private def slurp(p: Path): Seq[String] = {
    val bytes = {
      val in = fs.open(p)
      try { val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        Iterator.continually(in.read(buf)).takeWhile(_ > 0).foreach(out.write(buf, 0, _))
        out.toByteArray
      } finally in.close()
    }
    new String(bytes, "UTF-8").split("\n").toSeq
  }

  // Committed log entries and replayed snapshots are IMMUTABLE (a
  // version, once claimed, is never rewritten), so both memoize safely for
  // the instance's lifetime. This alone fixes the merge-replays-the-log-3×
  // pattern (its read, its commit and its version check need the same state).
  private val logCache = scala.collection.mutable.HashMap.empty[Int, LogEntry]
  private val snapshots = scala.collection.mutable.HashMap.empty[Int, Snapshot]

  private def readLog(v: Int): LogEntry = logCache.getOrElseUpdate(v, {
    logReads += 1
    LogEntry.parse(slurp(new Path(logDir, s"${vname(v)}.log")))
  })

  /** Largest checkpoint version ≤ `atOrBefore`, from one directory listing. */
  private def latestCheckpoint(atOrBefore: Int): Option[Int] =
    if (!fs.exists(logDir)) None
    else fs.listStatus(logDir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".checkpoint"))
      .map(_.stripPrefix("v").stripSuffix(".checkpoint").toInt)
      .filter(_ <= atOrBefore)
      .maxOption

  private var checkpointWarned = false

  /** Table state at version `v`: the latest checkpoint's parse folded
    * forward through the tail's log entries (Delta's `_last_checkpoint` +
    * tail replay), memoized per version, so a read opens
    * O(checkpointInterval) log files however long the history. A
    * checkpoint that fails to open — e.g. the HDFS delete+rename gap of a
    * concurrent rewrite — is skipped with one warning per handle: the log
    * alone is always a complete record, replay just costs more.
    */
  private[graft] def snapshotAt(v: Int): Snapshot = {
    if (v <= 0) return Snapshot.empty
    snapshots.get(v) match {
      case Some(s) => s
      case None =>
        latestCheckpoint(v).filterNot(snapshots.contains).foreach { cv =>
          val file = new Path(logDir, s"${vname(cv)}.checkpoint")
          scala.util.Try(slurp(file)) match {
            case scala.util.Success(lines) => snapshots(cv) = Snapshot.fromCheckpoint(lines)
            case scala.util.Failure(e) =>
              if (!checkpointWarned) {
                checkpointWarned = true
                org.slf4j.LoggerFactory.getLogger(getClass).warn(
                  s"checkpoint $file is unreadable (${e.getMessage}); " +
                    "replaying the log without it")
              }
          }
        }
        val start = snapshots.keys.filter(_ <= v).maxOption.getOrElse(0)
        var s = snapshots.getOrElse(start, Snapshot.empty)
        for (i <- start + 1 to v) {
          s = s.step(readLog(i))
          snapshots(i) = s
        }
        s
    }
  }

  /** Anti-join `df` against version `v`'s live tombstones on
    * (partition cols + PK). The tombstone side is broadcast — the
    * merge-on-read contract is SPARSE deletes; [[compact]] materializes
    * and clears tombstones when they accumulate.
    *
    * Partition columns compare NULL-SAFELY: a tombstoned row living in a
    * null partition (written as the Hive default partition and read back
    * as NULL) must still match, where a plain equi-join's NULL != NULL
    * would let it survive every read. PK columns are non-null by contract,
    * where <=> is plain equality. Overlapping pk/partitionCols dedupe to
    * one comparison.
    */
  private def withTombstones(df: DataFrame, v: Int): DataFrame = {
    val dvs = snapshotAt(v).dvDirs
    if (dvs.isEmpty) return df
    val keys = (partitionCols ++ pk).distinct
    // a tombstone dir holds exactly (partition cols + PK)
    val dvFrame = frameFor(v, dvs, n => keys.exists(_.equalsIgnoreCase(n)))
    val l = df.as("__dvl")
    val r = dvFrame.as("__dvr")
    val cond = keys.map(k => col(s"__dvl.$k") <=> col(s"__dvr.$k")).reduce(_ && _)
    l.join(broadcast(r), cond, "left_anti")
  }

  /** True when `txn` (app, version) is already committed at or below the
    * current table version — the caller's write is a replay and must
    * no-op. None never skips.
    */
  private def txnAlreadyApplied(txn: Option[(String, Long)]): Boolean =
    txn.exists { case (app, ver) =>
      snapshotAt(currentVersion).txnWatermarks.get(app).exists(_ >= ver)
    }

  private def txnLines(txn: Option[(String, Long)]): Seq[String] =
    txn.toSeq.map { case (app, ver) => s"txn=${enc(app)}\t$ver" }

  /** Active CHECK constraints at the current version. */
  def constraints: Map[String, String] = snapshotAt(currentVersion).constraints

  /** Add a CHECK constraint (Delta's ALTER TABLE ADD CONSTRAINT): verifies
    * every EXISTING row first (one scan, the Delta trade), then records the
    * constraint as a metadata-only commit — every later [[overwrite]],
    * [[merge]] and [[update]] batch is verified against it before staging.
    * SQL CHECK semantics: a row violates only when the expression is
    * definitely FALSE; NULL (unknown) passes.
    */
  def addConstraint(name: String, exprSql: String): Unit = {
    require(exists, "addConstraint on a table with no commits")
    // pin the version BEFORE validating: existing rows are checked at
    // exactly `v`, and the commit claims exactly `v + 1` — a concurrent
    // data commit landing between validation and the claim makes the claim
    // FAIL (the fail-fast pattern every other mutator uses) instead of
    // recording a constraint the unvalidated winner's rows may violate
    val v = currentVersion
    require(!snapshotAt(v).constraints.contains(name), s"constraint '$name' already exists")
    val cur = readVersion(v)
    val bad = cur.filter(expr(exprSql) <=> false).count()
    if (bad > 0) throw new ConstraintViolationException(name, exprSql, bad)
    commitMetadataOnly("constraint", v + 1, recordedSchemaJson(v),
      Seq(s"constraint=${enc(name)}\t${enc(exprSql)}"),
      s"addConstraint($name)")
  }

  /** Remove a CHECK constraint as a metadata-only commit. */
  def dropConstraint(name: String): Unit = {
    val v = currentVersion
    require(snapshotAt(v).constraints.contains(name), s"constraint '$name' does not exist")
    commitMetadataOnly("dropconstraint", v + 1, recordedSchemaJson(v),
      Seq(s"dropconstraint=${enc(name)}"),
      s"dropConstraint($name)")
  }

  /** Table properties at the current version. ENGINE-internal keys (the
    * `graft.` namespace — identity-column specs and watermarks ride the
    * property replay) are carved out of the USER surface here: SHOW
    * TBLPROPERTIES never lists them, and REPLACE TABLE's
    * declared-map-supersedes semantics never unsets them (replacing a
    * table must not silently reset its identity high watermark — id
    * reuse would corrupt downstream joins; Delta's replace resets it,
    * a divergence documented in SURVEY §8). These are USER metadata
    * (comments, pipeline tags, retention hints); the layout keys CREATE
    * consumes ('pk', 'partition', …) live in the layout sidecar instead.
    */
  def properties: Map[String, String] = propertiesAsOfVersion(currentVersion)

  /** Table properties as of version `v` (time-travel read of metadata). */
  def propertiesAsOfVersion(v: Int): Map[String, String] =
    snapshotAt(v).properties
      // case-INSENSITIVE, matching the set/unset guards: a key like
      // 'GRAFT.x' must be internal everywhere or nowhere — visible here
      // but refused by unsetProperties would be a permanently stuck key
      .filterNot(_._1.toLowerCase.startsWith(VersionedTable.InternalPropPrefix))

  /** Set (upsert) table properties as one metadata-only commit — Delta's
    * ALTER TABLE … SET TBLPROPERTIES. Re-setting a key to its current
    * value still commits (the history line is the audit trail).
    */
  def setProperties(kvs: Map[String, String]): Unit = {
    require(exists, "setProperties on a table with no commits")
    require(kvs.nonEmpty, "setProperties with no properties")
    require(kvs.keys.forall(_.nonEmpty), "property keys must be non-empty")
    // the layout keys CREATE/CONVERT consume are immutable — guarded HERE
    // so the API and the SQL surface agree (a user property named 'pk'
    // would also collide with SHOW CREATE TABLE's layout rendering)
    val reservedHit = kvs.keys.filter(k =>
      VersionedTable.reservedPropertyKeys(k.toLowerCase))
    require(reservedHit.isEmpty,
      s"TBLPROPERTIES ${reservedHit.mkString(",")} fix the table layout at " +
        "CREATE time and cannot be changed — create a new table " +
        "(or CONVERT) with the desired layout")
    // the graft.* namespace carries ENGINE state (identity specs and
    // watermarks) — a user write there could forge a watermark and cause
    // id reuse
    val internalHit = kvs.keys.filter(
      _.toLowerCase.startsWith(VersionedTable.InternalPropPrefix))
    require(internalHit.isEmpty,
      s"TBLPROPERTIES ${internalHit.mkString(",")}: the 'graft.' namespace " +
        "is reserved for engine state and cannot be set directly")
    val v = currentVersion
    commitMetadataOnly("setproperties", v + 1, recordedSchemaJson(v),
      kvs.toSeq.sortBy(_._1).map { case (k, x) => s"setprop=${enc(k)}\t${enc(x)}" },
      s"setProperties(${kvs.keys.toSeq.sorted.mkString(",")})")
  }

  /** The COPY INTO ledger at the current version. */
  def copiedFiles: Set[String] = snapshotAt(currentVersion).copiedFiles

  /** Remove table properties as one metadata-only commit — Delta's ALTER
    * TABLE … UNSET TBLPROPERTIES. Unknown keys are refused unless
    * `ifExists` (then the known subset is unset; all-unknown no-ops
    * without a commit).
    */
  def unsetProperties(keys: Seq[String], ifExists: Boolean = false): Unit = {
    require(exists, "unsetProperties on a table with no commits")
    require(keys.nonEmpty, "unsetProperties with no keys")
    // the graft.* namespace is engine state — deleting an identity
    // watermark through here would cause id reuse, the exact corruption
    // the setProperties guard exists to prevent
    val internalHit = keys.filter(
      _.toLowerCase.startsWith(VersionedTable.InternalPropPrefix))
    require(internalHit.isEmpty,
      s"TBLPROPERTIES ${internalHit.mkString(",")}: the 'graft.' namespace " +
        "is reserved for engine state and cannot be unset directly")
    val v = currentVersion
    // user-facing existence semantics see the USER property map — an
    // engine key must read as nonexistent here (case-insensitive, same
    // comparison as the guards and the `properties` view)
    val have = snapshotAt(v).properties.keySet
      .filterNot(_.toLowerCase.startsWith(VersionedTable.InternalPropPrefix))
    val missing = keys.filterNot(have)
    if (!ifExists) require(missing.isEmpty,
      s"table property key(s) do not exist: ${missing.mkString(",")}")
    val drop = keys.filter(have)
    if (drop.isEmpty) return
    commitMetadataOnly("unsetproperties", v + 1, recordedSchemaJson(v),
      drop.sorted.map(k => s"unsetprop=${enc(k)}"),
      s"unsetProperties(${drop.sorted.mkString(",")})")
  }

  /** Generated-column definitions at the current version (plus any
    * CREATE-declared definitions still buffered before the first commit).
    */
  def generatedCols: Map[String, String] =
    (if (exists) snapshotAt(currentVersion).generatedCols
     else Map.empty[String, String]) ++ pendingGeneratedCols

  /** Register `name` as a generated column defined by `exprSql` (Delta's
    * GENERATED ALWAYS AS): a metadata-only commit. Existing rows are
    * verified against the expression first, like [[addConstraint]].
    */
  def addGeneratedColumn(name: String, exprSql: String): Unit = {
    require(exists, "addGeneratedColumn on a table with no commits")
    // pinned-version validate-then-claim, exactly as [[addConstraint]]
    val v = currentVersion
    require(!snapshotAt(v).generatedCols.contains(name), s"generated column '$name' already defined")
    val cur = readVersion(v)
    require(cur.columns.contains(name),
      s"generated column '$name' must exist in the table schema")
    val bad = cur.filter(!(col(name) <=> expr(exprSql))).count()
    if (bad > 0) throw new ConstraintViolationException(
      s"generated:$name", exprSql, bad)
    commitMetadataOnly("gencol", v + 1, recordedSchemaJson(v),
      Seq(s"gencol=${enc(name)}\t${enc(exprSql)}"),
      s"addGeneratedColumn($name)")
  }

  /** CREATE-declared generated columns (Delta's `GENERATED ALWAYS AS
    * (expr)` column spec, Spark 4's parsed generationExpression): on a
    * table with no commits the definitions BUFFER here and ride the
    * first commit (the first batch must already derive them — notably
    * when the generated column is a PARTITION key); on a committed table
    * this is [[addGeneratedColumn]] per column (existing rows verified).
    */
  def declareGenerated(gs: Map[String, String]): Unit = {
    require(gs.nonEmpty, "declareGenerated with no columns")
    if (!exists) { pendingGeneratedCols ++= gs; return }
    gs.toSeq.sortBy(_._1).foreach { case (n, e) => addGeneratedColumn(n, e) }
  }

  private var pendingGeneratedCols: Map[String, String] = Map.empty

  private def pendingGeneratedLines: Seq[String] = {
    pendingGeneratedCols.toSeq.sortBy(_._1).map { case (n, e) =>
      s"gencol=${enc(n)}\t${enc(e)}"
    }
  }

  // ---- column DEFAULT values (Delta's allowColumnDefaults) ------------
  //
  // A column declared `DEFAULT <expr>` at CREATE time fills with the
  // expression — not NULL — on insert-shaped writes that OMIT it (append
  // / overwrite / replaceWhere / COPY INTO / SQL INSERT with an explicit
  // column list). MERGE is deliberately excluded: its batch REPLACES
  // matched rows wholesale, so a default would overwrite matched rows'
  // existing values — Delta scopes defaults to inserts for the same
  // reason. State rides the property map (`graft.default.col.<lc>` =
  // "<catalog type>\t<sql>"), buffered pre-first-commit like identity
  // and generated declarations.

  private var pendingDefaults: Map[String, (String, String)] = Map.empty
  private var pendingNotNull: Set[String] = Set.empty

  private def defaultsAt(v: Int): Map[String, (String, String)] =
    snapshotAt(v).properties.collect {
      case (k, enc) if k.startsWith("graft.default.col.") =>
        val Array(dt, sql) = enc.split("\t", 2)
        k.stripPrefix("graft.default.col.") -> ((dt, sql))
    }

  /** Column defaults (lc name → (catalog type, default SQL)), committed
    * plus any pre-first-commit pending.
    */
  def columnDefaults: Map[String, (String, String)] =
    (if (exists) defaultsAt(currentVersion)
     else Map.empty[String, (String, String)]) ++ pendingDefaults

  /** Declare column defaults: buffered and riding the first commit on a
    * table with no commits; one metadata commit otherwise.
    */
  def declareDefaults(ds: Map[String, (String, String)]): Unit = {
    require(ds.nonEmpty, "declareDefaults with no columns")
    val lcs = ds.map { case (n, v) => n.toLowerCase -> v }
    if (!exists) { pendingDefaults ++= lcs; return }
    val v = currentVersion
    val sch = tableSchema
    lcs.keys.foreach(n => require(sch.fieldNames.exists(_.equalsIgnoreCase(n)),
      s"default column '$n' must exist in the table schema"))
    commitMetadataOnly("defaults", v + 1, recordedSchemaJson(v),
      lcs.toSeq.sortBy(_._1).map { case (n, (dt, sql)) =>
        s"setprop=${enc(s"graft.default.col.$n")}\t${enc(s"$dt\t$sql")}" },
      s"declareDefaults(${lcs.keys.toSeq.sorted.mkString(",")})")
  }

  private def pendingDefaultLines: Seq[String] = {
    pendingDefaults.toSeq.sortBy(_._1).map { case (n, (dt, sql)) =>
      s"setprop=${enc(s"graft.default.col.$n")}\t${enc(s"$dt\t$sql")}"
    }
  }

  /** Fill columns the batch OMITS with their declared defaults
    * (idempotent: a present column — user-supplied or filled by an
    * earlier pass — is left alone).
    */
  private def applyDefaults(df: DataFrame): DataFrame = {
    val ds = columnDefaults
    if (ds.isEmpty) return df
    ds.toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, (dt, sql))) =>
      if (d.columns.exists(_.equalsIgnoreCase(n))) d
      else d.withColumn(n, expr(sql).cast(dt))
    }
  }

  /** Exists-defaults (Delta's EXISTS_DEFAULT): a column added via ALTER
    * TABLE ADD COLUMN … DEFAULT makes rows in files that PREDATE the
    * column read the default (frozen at ALTER time to a literal), not
    * NULL. lc logical name → (catalog type, frozen literal as string).
    */
  private def existDefaultsAt(v: Int): Map[String, (String, String)] =
    snapshotAt(v).properties.collect {
      case (k, enc) if k.startsWith("graft.existdefault.col.") =>
        val Array(dt, value) = enc.split("\t", 2)
        k.stripPrefix("graft.existdefault.col.") -> ((dt, value))
    }

  /** Committed exists-defaults (lc name → (catalog type, frozen literal))
    * — exposed for REPLACE TABLE reconciliation, which must retire them
    * all (a replace writes all-new files, so no file predates any column).
    */
  def existsDefaults: Map[String, (String, String)] =
    if (exists) existDefaultsAt(currentVersion)
    else Map.empty[String, (String, String)]

  /** Drop the FORWARD default on `name` (Delta's ALTER COLUMN … DROP
    * DEFAULT): future inserts null-fill again; rows already reading an
    * exists-default keep doing so (that state describes committed files).
    */
  def dropDefault(name: String): Unit = {
    require(exists, "dropDefault on a table with no commits")
    val v = currentVersion
    val lc = name.toLowerCase
    require(defaultsAt(v).contains(lc), s"column '$name' has no DEFAULT")
    commitMetadataOnly("dropdefault", v + 1, recordedSchemaJson(v),
      Seq(s"unsetprop=${enc(s"graft.default.col.$lc")}"),
      s"dropDefault($name)")
  }

  // ---- identity columns (Delta's GENERATED … AS IDENTITY) -------------
  //
  // State rides the versioned PROPERTY map under reserved `graft.` keys
  // (spec: graft.identity.col.<lc> = "start\tstep\tallow"; watermark:
  // graft.identity.wm.<lc> = last value handed out in step direction), so
  // replay, checkpointing, time travel, restore and clone all come free
  // from the `tprop=` machinery. Specs declared at CREATE time on a table
  // with no commits buffer here and ride the FIRST commit (same pattern as
  // GraftSql's pre-commit property buffer, but engine-side: the first
  // batch's ids must be assigned before any commit exists to carry a
  // metadata-only declaration).
  private var pendingIdentitySpecs: Map[String, VersionedTable.IdentitySpec] =
    Map.empty

  /** Identity specs as of version `v`, keyed by LOWER-CASED logical
    * column name.
    */
  private def identitySpecsAt(v: Int): Map[String, VersionedTable.IdentitySpec] =
    snapshotAt(v).properties.collect {
      case (k, enc) if k.startsWith("graft.identity.col.") =>
        k.stripPrefix("graft.identity.col.") ->
          VersionedTable.decodeIdentitySpec(enc)
    }

  /** Active identity specs (committed + any pre-first-commit pending),
    * keyed by lower-cased column name.
    */
  def identityCols: Map[String, VersionedTable.IdentitySpec] =
    (if (exists) identitySpecsAt(currentVersion) else
      Map.empty[String, VersionedTable.IdentitySpec]) ++ pendingIdentitySpecs

  /** Lower-cased names of identity columns (committed + pending). */
  def identityColNames: Set[String] = identityCols.keySet

  /** The high watermark for identity column `name` — the most extreme
    * value (in step direction) any commit has handed out or observed —
    * or None before the first allocation.
    */
  def identityWatermark(name: String): Option[Long] =
    if (!exists) None
    else snapshotAt(currentVersion).properties
      .get(VersionedTable.identityWmKey(name)).map(_.toLong)

  /** Declare identity columns. On a table with no commits the specs
    * BUFFER and ride the first commit (CREATE-time declaration); on a
    * committed table they land as one metadata-only commit. The column
    * must be BIGINT — shard-local allocation (partition-id ⊕ row-index)
    * needs the 64-bit space; a 32-bit cast would silently wrap and break
    * uniqueness — and must not be a partition column (the touched-set
    * pruning merge relies on derives partition values from the batch
    * BEFORE ids are assigned).
    */
  def declareIdentity(
      specs: Map[String, VersionedTable.IdentitySpec]): Unit = {
    require(specs.nonEmpty, "declareIdentity with no columns")
    specs.keys.foreach { n =>
      require(!partitionCols.exists(_.equalsIgnoreCase(n)),
        s"identity column '$n' cannot be a partition column")
    }
    if (!exists) {
      pendingIdentitySpecs ++= specs.map { case (n, s) => n.toLowerCase -> s }
      return
    }
    val v = currentVersion
    val sch = tableSchema
    specs.keys.foreach { n =>
      val f = sch.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
        sys.error(s"identity column '$n' must exist in the table schema"))
      require(f.dataType == LongType,
        s"identity column '$n' must be BIGINT; got ${f.dataType.simpleString}")
    }
    val existing = identitySpecsAt(v)
    specs.foreach { case (n, s) =>
      existing.get(n.toLowerCase).foreach(old => require(old == s,
        s"identity column '$n' is already declared with a different spec"))
    }
    // Seed the watermark from values the column ALREADY holds (one
    // syncIdentity-style aggregate per declared column, riding the same
    // commit): declaring BY DEFAULT identity on a populated BIGINT column
    // with no seed would leave identityWatermark None, and the first
    // insert that omits the column would allocate from START — silently
    // colliding with existing ids, the exact duplication the watermark
    // exists to prevent. (Delta sidesteps this by allowing identity only
    // at table creation; seeding keeps late declaration safe instead.)
    val seedLines = if (specs.exists { case (n, _) =>
        !existing.contains(n.toLowerCase) }) {
      val declared = specs.toSeq.sortBy(_._1)
        .filterNot { case (n, _) => existing.contains(n.toLowerCase) }
      val cur = readVersion(v)
      val aggs = declared.map { case (n, sp) =>
        (if (sp.step > 0) max(col(n)) else min(col(n))).cast(LongType).as(s"__wm_$n")
      }
      val row = cur.agg(aggs.head, aggs.tail: _*).head()
      declared.zipWithIndex.flatMap { case ((n, sp), i) =>
        // an all-NULL/empty column has handed out nothing — allocation
        // from START is correct and no seed line is written
        if (row.isNullAt(i)) None
        else {
          // syncIdentity's clamp: existing values entirely before START
          // still allocate from START, never behind it
          val wm = if (sp.step > 0) math.max(row.getLong(i), sp.start - sp.step)
                   else math.min(row.getLong(i), sp.start - sp.step)
          Some(s"setprop=${enc(VersionedTable.identityWmKey(n.toLowerCase))}" +
            s"\t${enc(wm.toString)}")
        }
      }
    } else Nil
    commitMetadataOnly("identity", v + 1, recordedSchemaJson(v),
      specs.toSeq.sortBy(_._1).map { case (n, s) =>
        s"setprop=${enc(VersionedTable.identitySpecKey(n))}\t${enc(s.encode)}" } ++
        seedLines,
      s"declareIdentity(${specs.keys.toSeq.sorted.mkString(",")})")
  }

  /** Pending-spec declaration lines for the commit that will carry them
    * (consumed by [[commit]]; cleared once a commit lands).
    */
  private def pendingIdentityLines: Seq[String] = {
    pendingIdentitySpecs.toSeq.sortBy(_._1).map { case (n, s) =>
      s"setprop=${enc(VersionedTable.identitySpecKey(n))}\t${enc(s.encode)}"
    }
  }

  /** Assign identity values onto an insert-shaped batch. A batch that
    * OMITS the column gets `wm + step·(shard-local ordinal)` — built on
    * `monotonically_increasing_id()` (partition-id in the high 31 bits,
    * per-partition row index below), so allocation is embarrassingly
    * parallel: no shuffle, no global row_number, no driver round-trip,
    * which is the only shape that survives a 1000-executor insert.
    * Uniqueness holds; contiguity does NOT (Delta identity makes the
    * same trade — ids can have gaps). A batch that SUPPLIES the column
    * is refused for ALWAYS specs and passed through for BY DEFAULT (the
    * post-stage watermark scan still observes the explicit values, so
    * later assignments never collide with them).
    */
  private def applyIdentity(df: DataFrame): DataFrame = {
    val specs = identityCols
    if (specs.isEmpty) return df
    var assigned = false
    val out = specs.foldLeft(df) { case (d, (lc, sp)) =>
      if (d.columns.exists(_.equalsIgnoreCase(lc))) {
        require(sp.allowExplicit,
          s"column '$lc' is GENERATED ALWAYS AS IDENTITY — its values are " +
            "system-assigned; declare it GENERATED BY DEFAULT AS IDENTITY " +
            "to allow explicit writes")
        d
      } else {
        assigned = true
        val base = identityWatermark(lc).getOrElse(sp.start - sp.step)
        d.withColumn(lc,
          (lit(base) + lit(sp.step) * (monotonically_increasing_id() + lit(1L))).cast(LongType))
      }
    }
    // PIN the assigned values: monotonically_increasing_id depends on the
    // runtime partition layout, so without materialization every ACTION
    // over this frame (validation scans, the staged write, the CDF image,
    // retry checks) could re-evaluate to DIFFERENT ids. The lazy local
    // checkpoint materializes once at the first action and every later
    // action reuses those partitions; blocks are reclaimed by the context
    // cleaner when the plan is garbage-collected.
    if (assigned) out.localCheckpoint(false) else out
  }

  /** Identity assignment for MERGE-shaped writes, where the batch
    * replaces matched target rows wholesale: a source that omits the
    * column takes the TARGET row's id when the pk matches (one extra
    * equi-join against `targetScope` — the same touched-partition scan
    * the merge itself joins, so the cost is bounded by the merge's own
    * shape) and a fresh allocation otherwise. Supplied columns follow
    * the same ALWAYS/BY DEFAULT rule as [[applyIdentity]].
    */
  private def applyIdentityMerge(src: DataFrame,
                                 targetScope: DataFrame): DataFrame = {
    val specs = identityCols
    if (specs.isEmpty) return src
    val (present, absent) = specs.partition { case (lc, _) =>
      src.columns.exists(_.equalsIgnoreCase(lc)) }
    present.foreach { case (lc, sp) =>
      require(sp.allowExplicit,
        s"column '$lc' is GENERATED ALWAYS AS IDENTITY — its values are " +
          "system-assigned; declare it GENERATED BY DEFAULT AS IDENTITY " +
          "to allow explicit writes")
    }
    if (absent.isEmpty) return src
    val names = absent.keys.toSeq.sorted
    val existCols = names.map(n => col(n).cast(LongType).as(s"__graft_ident_$n"))
    val existing = targetScope.select(pk.map(col) ++ existCols: _*)
    val joined = src.join(existing, pk, "left")
    names.foldLeft(joined) { (d, n) =>
      val sp = absent(n)
      val base = identityWatermark(n).getOrElse(sp.start - sp.step)
      d.withColumn(n, coalesce(col(s"__graft_ident_$n"),
          (lit(base) + lit(sp.step) * (monotonically_increasing_id() + lit(1L))).cast(LongType)))
        .drop(s"__graft_ident_$n")
    }.select(
      (src.columns.toSeq ++ names.filterNot(n =>
        src.columns.exists(_.equalsIgnoreCase(n)))).map(col): _*)
      // pinned for the same cross-action determinism as [[applyIdentity]]
      .localCheckpoint(false)
  }

  /** Watermark-advance lines for a staged write: one narrow columnar
    * scan of the staged parquet (identity columns only — parquet footer
    * stats make this near-free relative to the write it follows) finds
    * the most extreme value per identity column; columns whose extreme
    * moves past the recorded watermark get a `setprop=` line riding the
    * SAME commit, so allocation state and data are atomic. Explicit
    * BY DEFAULT values advance the watermark too — later assignments
    * must never collide with them.
    */
  private def identityWmLines(root: Path): Seq[String] = {
    val specs = identityCols
    if (specs.isEmpty) return Nil
    // an empty staging (TRUNCATE / zero-row overwrite) allocated nothing —
    // there is no watermark to advance and nothing to lose
    if (!hasParquetFiles(root)) return Nil
    try {
      val staged = spark.read.parquet(root.toString)
      val present = specs.toSeq.flatMap { case (lc, sp) =>
        staged.columns.find(_.equalsIgnoreCase(physicalOf(lc)))
          .map(c => (lc, c, sp))
      }
      if (present.isEmpty) return Nil
      val aggs = present.map { case (lc, c, sp) =>
        (if (sp.step > 0) max(col(c)) else min(col(c))).cast(LongType).as(s"__wm_$lc")
      }
      val row = Interpreted(staged.agg(aggs.head, aggs.tail: _*))(_.head())
      present.zipWithIndex.flatMap { case ((lc, _, sp), i) =>
        if (row.isNullAt(i)) None
        else {
          val seen = row.getLong(i)
          val wm = identityWatermark(lc)
          val advanced = wm.forall(w =>
            if (sp.step > 0) seen > w else seen < w)
          if (advanced)
            Some(s"setprop=${enc(VersionedTable.identityWmKey(lc))}\t${enc(seen.toString)}")
          else None
        }
      }
    } catch { case e: Exception =>
      // a failed watermark scan must not lose allocated ids: without the
      // advance line a later assignment would REUSE them — refuse the
      // write instead
      sys.error(s"identity watermark scan failed over staged data: ${e.getMessage}")
    }
  }

  /** Recompute the high watermark for identity column `name` from the
    * live data (Databricks' `ALTER TABLE … ALTER COLUMN … SYNC
    * IDENTITY`): one metadata commit. Used after explicit BY DEFAULT
    * writes or a RESTORE to realign allocation with what the table
    * actually holds. Returns the new watermark.
    */
  def syncIdentity(name: String): Long = {
    require(exists, "syncIdentity on a table with no commits")
    val lc = name.toLowerCase
    val sp = identitySpecsAt(currentVersion).getOrElse(lc,
      sys.error(s"'$name' is not an identity column"))
    val v = currentVersion
    val row = readVersion(v).agg(
      (if (sp.step > 0) max(col(name)) else min(col(name))).cast(LongType)).head()
    val seen = if (row.isNullAt(0)) sp.start - sp.step else row.getLong(0)
    // never sync BELOW the declared start: an empty table resets to the
    // pre-first-allocation base, not past it
    val wm = if (sp.step > 0) math.max(seen, sp.start - sp.step)
             else math.min(seen, sp.start - sp.step)
    commitMetadataOnly("syncidentity", v + 1, recordedSchemaJson(v),
      Seq(s"setprop=${enc(VersionedTable.identityWmKey(lc))}\t${enc(wm.toString)}"),
      s"syncIdentity($name)")
    wm
  }

  // ---- bloom-filter data skipping (Databricks' BLOOMFILTER INDEX) -----
  //
  // Min/max stats cannot prune a point lookup on a high-cardinality
  // unsorted column (every dir's [min,max] straddles every key) — the
  // 100 TB needle-in-haystack shape. A declared bloom index writes ONE
  // immutable sidecar file per (data dir, column) — `_bloom_<phys>`,
  // invisible to the parquet scan, dying with its dir at VACUUM — built
  // from the SAME xxhash64 → BloomFilterAggregate pipeline the runtime
  // bloom join uses, so probe and build can never disagree. readWhere
  // tests equality/IN literals against a dir's sidecar and drops dirs
  // that provably lack every key; a missing sidecar (pre-index dirs,
  // clone-referenced storage) conservatively keeps the dir — pruning is
  // an optimization, never a correctness input. Index declarations ride
  // the versioned property map (`graft.bloom.col.<phys-lc>`) keyed by
  // PHYSICAL name, so renames never detach an index.

  /** Does `p` contain at least one parquet data file (directly or in a
    * partition subtree)? Guards the staged-read passes against empty
    * stagings, whose schema inference would fail.
    */
  private def hasParquetFiles(p: Path): Boolean =
    fs.exists(p) && {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val n = it.next().getPath.getName
        found = n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      found
    }

  private val bloomCache = scala.collection.mutable.HashMap
    .empty[(String, String), Option[org.apache.spark.util.sketch.BloomFilter]]

  /** Bloom-indexed columns as of version `v`: physical-lc name →
    * (fpp, declared numItems override).
    */
  private def bloomIndexAt(v: Int): Map[String, (Double, Option[Long])] =
    snapshotAt(v).properties.collect {
      case (k, enc) if k.startsWith("graft.bloom.col.") =>
        val parts = enc.split("\t", 2)
        k.stripPrefix("graft.bloom.col.") ->
          ((parts(0).toDouble, parts.lift(1).filter(_.nonEmpty).map(_.toLong)))
    }

  /** Currently bloom-indexed columns (physical-lc → fpp). */
  def bloomIndexedCols: Map[String, Double] =
    if (!exists) Map.empty
    else bloomIndexAt(currentVersion).map { case (c, (f, _)) => c -> f }

  /** Sidecar names carry the column's LOGICAL type as a tag
    * (`_bloom_<phys>_<type>`): xxhash64 hashes ints and longs
    * differently, so a sidecar built before an ALTER COLUMN … TYPE widen
    * would produce FALSE NEGATIVES if probed with post-widen literals.
    * The tag makes stale-era sidecars invisible (conservative keep) and
    * a re-run of createBloomIndex rebuilds them under the new type —
    * build casts to the same logical type the probe sees.
    */
  private def bloomTag(dt: DataType): String = dt.simpleString.replaceAll("[^A-Za-z0-9]", "")

  /** The current logical type of the bloom-index key `physLc`, if the
    * column still exists.
    */
  private def bloomTypeOf(physLc: String): Option[DataType] =
    tableSchema.fields.find(f => physicalOf(f.name).toLowerCase == physLc).map(_.dataType)

  private def bloomSidecarPath(d: String, phys: String, tag: String): Path =
    new Path(resolvedPath(d), s"_bloom_${phys}_$tag")

  private def bloomFor(d: String, phys: String, tag: String)
      : Option[org.apache.spark.util.sketch.BloomFilter] =
    bloomCache.getOrElseUpdate((d, s"${phys}_$tag"), {
      val p = bloomSidecarPath(d, phys, tag)
      if (!fs.exists(p)) None
      else scala.util.Try {
        val in = fs.open(p)
        try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
        finally in.close()
      }.toOption
    })

  /** Build `_bloom_<phys>` sidecars for `targets` (relative dirs whose
    * files are reachable — staged pre-commit or live), reading them as
    * one frame and aggregating per dir: one narrow extra scan, the same
    * cost class as the stats pass. Sizing: the declared numItems
    * override, else 1.2× the largest per-dir row count (one cheap count
    * pass), clamped to Spark's aggregate cap. Clone-referenced (ext=)
    * dirs are skipped — their storage belongs to the SOURCE table.
    */
  /** One sizing-clamp event from a sidecar build: the declared fpp could
    * not be honored within the 4M-item aggregate cap, so the realized fpp
    * is degraded. Machine-readable companion to the stderr warning —
    * threaded through [[createBloomIndexDetailed]]'s return value into the
    * SQL result frame (NOT stashed on the handle: concurrent builds
    * through one handle must not see each other's clamps).
    */
  final case class BloomClamp(
      column: String, wantedItems: Long, grantedItems: Long,
      declaredFpp: Double, realizedFpp: Double)

  private def writeBloomSidecars(targets: Seq[String],
      idx: Map[String, (Double, Option[Long])],
      schema: StructType): (Int, Seq[BloomClamp]) = {
    val clamps = scala.collection.mutable.ArrayBuffer.empty[BloomClamp]
    val own = targets.filterNot(_.startsWith(ExtPrefix))
      // an empty leaf (TRUNCATE / zero-row partition) holds no rows to
      // index
      .filter(d => dataFiles(d).nonEmpty)
    if (own.isEmpty || idx.isEmpty) return (0, Nil)
    graft.expr.GraftFunctions.register(spark)
    val byAbs = own
      .map(d => fs.makeQualified(resolvedPath(d)).toUri.getPath -> d).toMap
    // leaf dirs are read WITHOUT basePath (no partition columns) under
    // the known physical schema — no footer-inference job
    val raw = spark.read.schema(StructType(schema.fields
        .filterNot(f => partitionCols.exists(_.equalsIgnoreCase(f.name)))))
      .parquet(own.map(d => resolvedPath(d).toString): _*)
    val present = idx.toSeq.sortBy(_._1).flatMap { case (lc, (fpp, ni)) =>
      for {
        c <- raw.columns.find(_.equalsIgnoreCase(lc))
        dt <- bloomTypeOf(lc)
      } yield (lc, c, dt, ni)
    }
    if (present.isEmpty) return (0, Nil)
    val dirCol = regexp_replace(input_file_name(), "/[^/]*$", "").as("__dir")
    // sizing pass only when some column lacks a declared numItems — the
    // count is parquet-footer-cheap but still a job on the hot write path
    val maxRows =
      if (present.forall(_._4.isDefined)) 1L
      else Interpreted(raw.groupBy(dirCol).agg(count(lit(1)).as("__n")))(
        _.collect()) // bounded: one row per target leaf dir
        .map(_.getLong(1)).foldLeft(1L)(math.max)
    // BloomFilterAggregate sizes numBits = items × 8 (fixed ~2% fpp), so
    // the declared fpp maps to an EFFECTIVE item count: bits-per-item for
    // target fpp is -ln(fpp)/ln²2, scaled onto the ×8 contract. The
    // 4M-item cap (32 Mbit per sidecar) is SURFACED when it engages:
    // beyond it the realized fpp silently degrades past the declared
    // OPTIONS fpp — correctness holds (bloom misses only keep dirs), but
    // a degraded index must be visible, not silent (no-silent-caps).
    def items(lc: String, fpp: Double, ni: Option[Long]): Long = {
      val n = ni.getOrElse(maxRows * 12 / 10)
      val bitsPerItem = -math.log(fpp) / (math.log(2) * math.log(2))
      val want = math.max(1024L, math.ceil(n * bitsPerItem / 8.0).toLong)
      if (want > 4000000L) {
        // realized fpp from the bits actually granted: fpp = exp(-b·ln²2)
        // with b = (cap × 8) bits over n items
        val realized = math.exp(-(4000000L * 8.0 / n) *
          math.log(2) * math.log(2))
        System.err.println(f"[graft] bloom sidecar '$lc': sizing clamped " +
          f"to 4000000 items (wanted $want%d for ~$n%d rows/dir) — " +
          f"realized fpp ≈ $realized%.4f vs declared $fpp%.4f; split the " +
          "dir (repartition/OPTIMIZE) or declare a larger fpp")
        clamps += BloomClamp(lc, want, 4000000L, fpp, realized)
        4000000L
      } else want
    }
    val aggs = present.map { case (lc, c, dt, ni) =>
      // cast to the CURRENT logical type before hashing: the probe's
      // literal carries that type, and xxhash64 is type-sensitive
      call_function(graft.expr.GraftFunctions.BloomAggName,
        xxhash64(col(c).cast(dt)), lit(items(lc, idx(lc)._1, ni)))
        .as(s"__bloom_$lc")
    }
    val rows = Interpreted(raw.groupBy(dirCol).agg(aggs.head, aggs.tail: _*))(
      _.collect()) // bounded: one row per target leaf dir × index columns
    var written = 0
    rows.foreach { r =>
      byAbs.get(new Path(r.getString(0)).toUri.getPath).foreach { d =>
        present.zipWithIndex.foreach { case ((lc, _, dt, _), i) =>
          val bytes = r.getAs[Array[Byte]](1 + i)
          if (bytes != null) {
            val tmp = new Path(resolvedPath(d),
              s"._bloomtmp_${java.util.UUID.randomUUID().toString.take(8)}")
            val out = fs.create(tmp, true)
            try out.write(bytes) finally out.close()
            val dest = bloomSidecarPath(d, lc, bloomTag(dt))
            if (!fs.rename(tmp, dest)) fs.delete(tmp, false)
            bloomCache.remove((d, s"${lc}_${bloomTag(dt)}"))
            written += 1
          }
        }
      }
    }
    (written, clamps.toSeq)
  }

  /** Declare a bloom index (Databricks' CREATE BLOOMFILTER INDEX … FOR
    * COLUMNS): per column an optional fpp (default 0.1) and numItems
    * override. One metadata commit declares the spec (re-declaring with
    * the SAME spec is allowed and acts as a backfill run); sidecars are
    * then built for every live dir lacking one — dirs are immutable, so
    * a sidecar can never go stale, and re-running after new concurrent
    * writes backfills exactly the delta. Later writes maintain the index
    * at stage time. Returns the number of sidecar files written.
    */
  def createBloomIndex(
      cols: Map[String, (Double, Option[Long])]): Int =
    createBloomIndexDetailed(cols)._1

  /** [[createBloomIndex]] plus the build's sizing-clamp events, threaded
    * through the return value so concurrent builds through one handle
    * each see exactly their own clamps.
    */
  def createBloomIndexDetailed(
      cols: Map[String, (Double, Option[Long])]): (Int, Seq[BloomClamp]) = {
    require(exists, "createBloomIndex on a table with no commits")
    require(cols.nonEmpty, "createBloomIndex needs at least one column")
    val v = currentVersion
    val sch = tableSchema
    val specs = cols.map { case (n, (fpp, ni)) =>
      require(sch.fieldNames.exists(_.equalsIgnoreCase(n)),
        s"bloom index column '$n' must exist in the table schema")
      require(fpp > 0 && fpp < 1, s"bloom fpp must be in (0,1); got $fpp")
      ni.foreach(x => require(x > 0, s"bloom numItems must be positive; got $x"))
      physicalOf(sch.fieldNames.find(_.equalsIgnoreCase(n)).get).toLowerCase ->
        ((fpp, ni))
    }
    val existing = bloomIndexAt(v)
    val clash = specs.filter { case (c, s) =>
      existing.get(c).exists(_ != s) }
    require(clash.isEmpty,
      s"bloom index already declared with different options on: ${
        clash.keys.mkString(",")} — DROP BLOOMFILTER INDEX first")
    val fresh = specs.filterNot { case (c, s) => existing.get(c).contains(s) }
    if (fresh.nonEmpty) {
      commitMetadataOnly("bloomindex", v + 1, recordedSchemaJson(v),
        fresh.toSeq.sortBy(_._1).map { case (c, (fpp, ni)) =>
          s"setprop=${enc(s"graft.bloom.col.$c")}\t${
            enc(s"$fpp\t${ni.map(_.toString).getOrElse("")}")}" },
        s"createBloomIndex(${fresh.keys.toSeq.sorted.mkString(",")})")
    }
    // backfill: live dirs lacking a sidecar for any indexed column
    val all = specs ++ (existing -- specs.keySet)
    val missing = snapshotAt(currentVersion).liveDirs.filter(d =>
      !d.startsWith(ExtPrefix) &&
        all.keys.exists(c => bloomTypeOf(c).exists(dt =>
          !fs.exists(bloomSidecarPath(d, c, bloomTag(dt))))))
    writeBloomSidecars(missing, all, physicalSchemaAt(currentVersion)._2)
  }

  /** Drop the bloom index on `cols` (empty = every indexed column): one
    * metadata commit unsetting the declarations. Existing sidecar files
    * stay on disk (harmless — nothing reads an undeclared index) and are
    * reclaimed with their dirs by VACUUM.
    */
  def dropBloomIndex(cols: Seq[String] = Nil): Unit = {
    require(exists, "dropBloomIndex on a table with no commits")
    val v = currentVersion
    val existing = bloomIndexAt(v)
    val targets =
      if (cols.isEmpty) existing.keys.toSeq
      else cols.map { n =>
        val c = physicalOf(tableSchema.fieldNames
          .find(_.equalsIgnoreCase(n)).getOrElse(n)).toLowerCase
        require(existing.contains(c), s"no bloom index declared on '$n'")
        c
      }
    require(targets.nonEmpty, "no bloom index to drop")
    commitMetadataOnly("dropbloomindex", v + 1, recordedSchemaJson(v),
      targets.sorted.map(c => s"unsetprop=${enc(s"graft.bloom.col.$c")}"),
      s"dropBloomIndex(${targets.sorted.mkString(",")})")
  }

  /** Can any row in dir `d` satisfy `e`, judged by the bloom sidecars?
    * Mirrors [[canMatch]]'s conservative shape: only equality/IN against
    * an indexed column with a readable sidecar can prune; everything
    * else keeps the dir. The resolved predicate carries PHYSICAL
    * attribute names (see [[frameFor]]), matching the index keying.
    */
  private def bloomCanMatch(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      d: String, idx: Map[String, (Double, Option[Long])]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    def hashOf(l: Literal): Long =
      new XxHash64(Seq(l)).eval(null).asInstanceOf[Long]
    // any of `lits` possibly present in the dir's column? (null literals
    // never equality-match a row — skip them)
    def probe(a: AttributeReference, lits: Seq[Literal]): Boolean =
      bloomFor(d, a.name.toLowerCase, bloomTag(a.dataType)) match {
        case None => true
        case Some(bf) =>
          lits.exists(l => l.value != null && bf.mightContainLong(hashOf(l)))
      }
    def indexed(a: AttributeReference): Boolean =
      idx.contains(a.name.toLowerCase)
    e match {
      case And(l, r) => bloomCanMatch(l, d, idx) && bloomCanMatch(r, d, idx)
      case Or(l, r) => bloomCanMatch(l, d, idx) || bloomCanMatch(r, d, idx)
      case EqualTo(a: AttributeReference, l: Literal) if indexed(a) =>
        probe(a, Seq(l))
      case EqualTo(l: Literal, a: AttributeReference) if indexed(a) =>
        probe(a, Seq(l))
      case In(a: AttributeReference, list) if indexed(a) &&
          list.forall(_.isInstanceOf[Literal]) =>
        probe(a, list.map(_.asInstanceOf[Literal]))
      case InSet(a: AttributeReference, hset) if indexed(a) =>
        probe(a, hset.toSeq.map(v => Literal(v, a.dataType)))
      case _ => true
    }
  }

  /** Physical (on-disk) name of logical column `c` at the current version. */
  private def physicalOf(c: String): String = {
    val cm = snapshotAt(currentVersion).colMap
    cm.collectFirst { case (l, p) if l.equalsIgnoreCase(c) => p }.getOrElse(c)
  }

  /** Rename a frame's columns logical-at-`v` → physical (no guards — the
    * read-side translation step between eras).
    */
  private def physicalAt(df: DataFrame, v: Int): DataFrame = {
    val cm = snapshotAt(v).colMap
    if (cm.isEmpty) return df
    df.select(df.columns.map(c => col(c).as(
      cm.collectFirst { case (l, p) if l.equalsIgnoreCase(c) => p }.getOrElse(c))).toSeq: _*)
  }

  /** Rename a frame's columns logical → physical for staging. Also the
    * collision gate for schema evolution: a NEW logical column must not
    * shadow a RETIRED physical name (two eras' files would then disagree
    * on what that physical column means — Delta prevents this with
    * uuid physical names; graft refuses the collision instead).
    */
  private def toPhysical(df: DataFrame): DataFrame = {
    val cm = snapshotAt(currentVersion).colMap
    val dropped = snapshotAt(currentVersion).dropped
    if (cm.isEmpty && dropped.isEmpty) return df
    val retired = cm.collect {
      case (l, p) if !l.equalsIgnoreCase(p) => p.toLowerCase
    }.toSet ++ dropped.map(_.toLowerCase)
    val clash = df.columns.filter(c =>
      retired.contains(c.toLowerCase) &&
        !cm.keys.exists(_.equalsIgnoreCase(c)))
    require(clash.isEmpty,
      s"column name(s) ${clash.mkString(",")} were retired by a rename or " +
        "drop and still name the old data on disk — pick a different name")
    physicalAt(df, currentVersion)
  }

  /** Rename a frame's columns physical → logical AS OF version `v` —
    * time travel reads under the names that version knew, exactly like
    * the rest of its schema. One all-at-once select, so even swap-chains
    * of renames resolve without intermediate collisions.
    */
  private def toLogical(df: DataFrame, v: Int): DataFrame = {
    val cm = snapshotAt(v).colMap
    if (cm.isEmpty) return df
    val inv = cm.map(_.swap)
    df.select(df.columns.map(c => col(c).as(
      inv.collectFirst { case (p, l) if p.equalsIgnoreCase(c) => l }.getOrElse(c))).toSeq: _*)
  }

  /** Logical column names a stored SQL expression references. */
  private def exprRefs(sqlText: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(sqlText).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.last
    }

  /** Rename a column as a metadata-only commit (Delta's ALTER TABLE …
    * RENAME COLUMN under column mapping): no data file is touched — the
    * mapping binds the new logical name to the column's original physical
    * name, and every read era translates. Refused for primary-key and
    * partition columns (they are this handle's identity), for columns a
    * CHECK constraint or generated-column expression references (the
    * stored text would dangle — Delta refuses the same), and for target
    * names still naming retired on-disk data.
    */
  def renameColumn(oldName: String, newName: String): Unit = {
    require(exists, "renameColumn on a table with no commits")
    val v = currentVersion
    val snap = snapshotAt(v)
    val sch = schemaAt(v)
      .getOrElse(sys.error(s"version $v has no recorded schema"))
    require(sch.fieldNames.exists(_.equalsIgnoreCase(oldName)),
      s"column '$oldName' does not exist")
    require(!sch.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"column '$newName' already exists")
    require(!(pk ++ partitionCols).exists(_.equalsIgnoreCase(oldName)),
      s"cannot rename '$oldName': primary-key and partition columns are " +
        "this table handle's identity")
    require(!identityCols.contains(oldName.toLowerCase),
      s"cannot rename '$oldName': identity columns keep their name (their " +
        "spec and watermark are keyed by it)")
    val referencedBy = (snap.constraints ++ snap.generatedCols).collect {
      case (n, e) if exprRefs(e).exists(_.equalsIgnoreCase(oldName)) => n
    }
    require(referencedBy.isEmpty,
      s"cannot rename '$oldName': referenced by ${referencedBy.mkString(",")}")
    val cm = snap.colMap
    val physOld = cm.collectFirst {
      case (l, p) if l.equalsIgnoreCase(oldName) => p }.getOrElse(oldName)
    val retired = cm.collect { case (l, p) if !l.equalsIgnoreCase(p) => p }
    require(!retired.exists(p => p.equalsIgnoreCase(newName) && !p.equalsIgnoreCase(physOld)),
      s"'$newName' still names retired on-disk data — pick a different name")
    require(!snap.dropped.exists(_.equalsIgnoreCase(newName)),
      s"'$newName' was dropped and still names old data on disk — " +
        "pick a different name")
    val newSchema = StructType(sch.fields.map(f =>
      if (f.name.equalsIgnoreCase(oldName)) f.copy(name = newName) else f))
    // default/comment declarations are keyed by LOGICAL name — move them
    // with the rename, atomically (set/unset keys are disjoint, so the
    // replay fold is order-safe)
    val props = snap.properties
    val moveDefaults = Seq("graft.default.col.", "graft.existdefault.col.",
        "graft.comment.col.", "graft.notnull.col.")
      .flatMap { pre =>
        props.get(pre + oldName.toLowerCase).toSeq.flatMap(value => Seq(
          s"unsetprop=${enc(pre + oldName.toLowerCase)}",
          s"setprop=${enc(pre + newName.toLowerCase)}\t${enc(value)}"))
      }
    commitMetadataOnly("rename", v + 1, newSchema.json,
      s"rename=${enc(sch.fieldNames.find(_.equalsIgnoreCase(oldName)).get)}\t${enc(newName)}" +:
        moveDefaults,
      s"renameColumn($oldName -> $newName)")
  }

  /** Add a nullable column as a metadata-only commit (Delta's ALTER
    * TABLE … ADD COLUMN): no file is touched — the recorded schema
    * widens, existing rows read the new column as NULL ([[frameFor]]
    * null-fills schema columns the files lack), and subsequent writes
    * carry it. Refused for names already in the schema and for retired
    * physical names (a rename's old name or a dropped column — the new
    * column would silently surface the OLD on-disk data for old rows).
    */
  def addColumn(name: String, dataType: DataType,
                default: Option[String] = None,
                position: Option[VersionedTable.ColumnPlacement] = None): Unit = {
    require(exists, "addColumn on a table with no commits")
    val v = currentVersion
    val sch = schemaAt(v)
      .getOrElse(sys.error(s"version $v has no recorded schema"))
    require(!sch.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"column '$name' already exists")
    val cm = snapshotAt(v).colMap
    val retired = cm.collect {
      case (l, p) if !l.equalsIgnoreCase(p) => p } ++ snapshotAt(v).dropped
    require(!retired.exists(_.equalsIgnoreCase(name)),
      s"'$name' still names retired on-disk data — pick a different name")
    val newField = StructField(
      name, dataType, nullable = true)
    // FIRST/AFTER is pure schema ORDER — the read projection follows the
    // recorded field order, so placement is metadata like the add itself
    val newFields = position match {
      case None => sch.fields :+ newField
      case Some(VersionedTable.ColFirst) => newField +: sch.fields
      case Some(VersionedTable.ColAfter(a)) =>
        val j = sch.fields.indexWhere(_.name.equalsIgnoreCase(a))
        require(j >= 0, s"AFTER column '$a' does not exist")
        (sch.fields.take(j + 1) :+ newField) ++ sch.fields.drop(j + 1)
    }
    val newSchema = StructType(newFields)
    // DEFAULT: freeze the expression NOW to a literal (Delta's
    // EXISTS_DEFAULT contract — `current_date()` in the default must not
    // drift per read) — existing rows read it, and the same commit also
    // installs the FORWARD default for future inserts. Atomic: schema,
    // exists-default and forward default land in one version.
    val defLines = default.toSeq.flatMap { sql =>
      val dtCat = dataType.catalogString
      // TIMESTAMP freezes to EPOCH MICROS, not a rendered string: a
      // zoneless string would re-parse under each READER's session time
      // zone, shifting the instant per session
      val frozenExpr =
        if (dataType == org.apache.spark.sql.types.TimestampType)
          unix_micros(expr(sql).cast(dtCat)).cast("string")
        else expr(sql).cast(dtCat).cast("string")
      val frozenRow = spark.range(1).select(frozenExpr).head()
      require(!frozenRow.isNullAt(0),
        s"ADD COLUMN DEFAULT expression '$sql' evaluates to NULL — " +
          "declare the column without a default instead")
      val frozen = frozenRow.getString(0)
      val lc = name.toLowerCase
      Seq(
        s"setprop=${enc(s"graft.default.col.$lc")}\t${enc(s"$dtCat\t$sql")}",
        s"setprop=${enc(s"graft.existdefault.col.$lc")}\t${enc(s"$dtCat\t$frozen")}")
    }
    commitMetadataOnly("add_column", v + 1, newSchema.json, defLines,
      s"addColumn($name)")
  }

  /** Add a nullable field INSIDE an existing struct column (Delta's
    * nested ADD COLUMN, e.g. `ADD COLUMN s.newf INT`): metadata-only —
    * the recorded struct type widens, files written before the add lack
    * the field and read it as NULL (every file reads under the version's
    * struct type, [[frameFor]]), files written after carry it. `parent` is
    * the field path to the enclosing struct (arbitrary depth).
    */
  def addNestedColumn(parent: Seq[String], name: String, dataType: DataType): Unit = {
    require(exists, "addNestedColumn on a table with no commits")
    require(parent.nonEmpty, "addNestedColumn needs a parent struct path")
    val v = currentVersion
    val sch = schemaAt(v)
      .getOrElse(sys.error(s"version $v has no recorded schema"))
    def insert(st: StructType, path: Seq[String]): StructType = path match {
      case Seq() =>
        require(!st.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"field '$name' already exists in struct")
        StructType(st.fields :+ StructField(name, dataType, nullable = true))
      case head +: rest =>
        val i = st.fields.indexWhere(_.name.equalsIgnoreCase(head))
        require(i >= 0, s"unknown column '$head'")
        st.fields(i).dataType match {
          case inner: StructType =>
            StructType(st.fields.updated(i, st.fields(i).copy(dataType = insert(inner, rest))))
          case dt => sys.error(s"'$head' is ${dt.simpleString}, not a " +
            "struct — nested ADD COLUMN needs a struct parent")
        }
    }
    commitMetadataOnly("add_column", v + 1, insert(sch, parent).json, Nil,
      s"addNestedColumn(${(parent :+ name).mkString(".")})")
  }

  /** Reorder a column as a metadata-only commit (Delta's ALTER COLUMN …
    * FIRST / AFTER under column mapping): only the recorded schema's
    * field ORDER changes — no file is touched, reads project in recorded
    * order, and time travel shows each version under its own order.
    * `after` None moves the column FIRST.
    */
  def moveColumn(name: String, after: Option[String]): Unit = {
    require(exists, "moveColumn on a table with no commits")
    val v = currentVersion
    val sch = schemaAt(v)
      .getOrElse(sys.error(s"version $v has no recorded schema"))
    val i = sch.fields.indexWhere(_.name.equalsIgnoreCase(name))
    require(i >= 0, s"column '$name' does not exist")
    val f = sch.fields(i)
    val without = sch.fields.patch(i, Nil, 1)
    val newFields = after match {
      case None => f +: without
      case Some(a) =>
        require(!a.equalsIgnoreCase(name), s"cannot move '$name' after itself")
        val j = without.indexWhere(_.name.equalsIgnoreCase(a))
        require(j >= 0, s"AFTER column '$a' does not exist")
        (without.take(j + 1) :+ f) ++ without.drop(j + 1)
    }
    commitMetadataOnly("reorder_column", v + 1,
      StructType(newFields).json, Nil,
      s"moveColumn($name ${after.map("AFTER " + _).getOrElse("FIRST")})")
  }

  /** Column comments (lc logical name → text), committed metadata. They
    * ride the property replay under the engine namespace (the user
    * property surface never lists them) and surface as field metadata on
    * the registered view, so `DESCRIBE TABLE` shows them — Delta's
    * ALTER COLUMN … COMMENT.
    */
  def columnComments: Map[String, String] =
    if (!exists) Map.empty[String, String]
    else snapshotAt(currentVersion).properties.collect {
      case (k, text) if k.startsWith("graft.comment.col.") =>
        k.stripPrefix("graft.comment.col.") -> text
    }

  /** Set (or clear, with None) a column's comment — one metadata commit.
    * Comments follow renames and retire with drops like default
    * declarations do (same logical-name keying).
    */
  def setColumnComment(name: String, comment: Option[String]): Unit = {
    require(exists, "setColumnComment on a table with no commits")
    val v = currentVersion
    require(tableSchema.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"column '$name' does not exist")
    val key = s"graft.comment.col.${name.toLowerCase}"
    val line = comment match {
      case Some(text) => s"setprop=${enc(key)}\t${enc(text)}"
      case None => s"unsetprop=${enc(key)}"
    }
    commitMetadataOnly("comment_column", v + 1, recordedSchemaJson(v),
      Seq(line), s"setColumnComment($name)")
  }

  /** Columns under a NOT NULL constraint (lc names), committed plus any
    * pre-first-commit pending (CREATE-time declaration). Primary-key
    * columns are structurally non-null already (append/merge refuse null
    * keys) and are NOT listed here.
    */
  def notNullCols: Set[String] =
    (if (!exists) Set.empty[String]
     else snapshotAt(currentVersion).properties.collect {
       case (k, _) if k.startsWith("graft.notnull.col.") =>
         k.stripPrefix("graft.notnull.col.")
     }.toSet) ++ pendingNotNull

  /** Declare NOT NULL columns: buffered and riding the first commit on a
    * table with no commits (CREATE-time `col T NOT NULL` — the FIRST
    * batch already verifies, since [[enforceConstraints]] reads the
    * pending set); one verifying metadata commit per column otherwise.
    */
  def declareNotNull(cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "declareNotNull with no columns")
    if (!exists) { pendingNotNull ++= cols.map(_.toLowerCase); return }
    cols.foreach(setNotNull)
  }

  private def pendingNotNullLines: Seq[String] = {
    pendingNotNull.toSeq.sorted.map(n =>
      s"setprop=${enc(s"graft.notnull.col.$n")}\t1")
  }

  /** Delta's ALTER COLUMN … SET NOT NULL: verify the column holds no
    * NULL today (one aggregate over the current version — the same
    * existing-rows check ADD CONSTRAINT runs), then commit the
    * constraint; every later batch verifies in [[enforceConstraints]]'
    * single pass. Metadata rides the engine property namespace like
    * defaults/comments, so rename moves it and drop retires it.
    */
  def setNotNull(name: String): Unit = {
    require(exists, "setNotNull on a table with no commits")
    // mirror dropNotNull's refusal: a pk's non-null contract is structural
    // and excluded from notNullCols, so SET NOT NULL here would record a
    // graft.notnull.col.<pk> property that could never be dropped and add
    // a redundant per-batch check forever
    require(!pk.exists(_.equalsIgnoreCase(name)),
      s"'$name' is a primary-key column — its non-null contract is " +
        "structural and already enforced")
    val v = currentVersion
    require(tableSchema.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"column '$name' does not exist")
    val nulls = readVersion(v).filter(col(name).isNull).limit(1).count()
    if (nulls > 0)
      throw new ConstraintViolationException(
        s"notnull:${name.toLowerCase}", s"$name IS NOT NULL", nulls)
    commitMetadataOnly("set_not_null", v + 1, recordedSchemaJson(v),
      Seq(s"setprop=${enc(s"graft.notnull.col.${name.toLowerCase}")}\t1"),
      s"setNotNull($name)")
  }

  /** Delta's ALTER COLUMN … DROP NOT NULL — one metadata commit; future
    * batches may carry NULL again. Refused on primary-key columns (their
    * non-null contract is structural, not a droppable constraint).
    */
  def dropNotNull(name: String): Unit = {
    require(exists, "dropNotNull on a table with no commits")
    require(!pk.exists(_.equalsIgnoreCase(name)),
      s"'$name' is a primary-key column — its non-null contract is " +
        "structural and cannot be dropped")
    val v = currentVersion
    val key = s"graft.notnull.col.${name.toLowerCase}"
    require(snapshotAt(v).properties.contains(key),
      s"column '$name' has no NOT NULL constraint")
    commitMetadataOnly("drop_not_null", v + 1, recordedSchemaJson(v),
      Seq(s"unsetprop=${enc(key)}"), s"dropNotNull($name)")
  }

  /** Drop a column as a metadata-only commit (Delta's ALTER TABLE … DROP
    * COLUMN under column mapping): no data file is touched — the column
    * leaves the recorded schema, reads project it away, and the physical
    * name is retired forever ([[toPhysical]] refuses a new column
    * re-using it; [[restore]] to a pre-drop version resurrects it). Time
    * travel to earlier versions still reads the column — era-correct,
    * like renames. Refused for primary-key/partition columns, for
    * columns a CHECK constraint or generated-column expression
    * references, for generated columns themselves (drop the rule first),
    * and for the table's last column.
    */
  def dropColumn(name: String): Unit = {
    require(exists, "dropColumn on a table with no commits")
    val v = currentVersion
    val snap = snapshotAt(v)
    val sch = schemaAt(v)
      .getOrElse(sys.error(s"version $v has no recorded schema"))
    require(sch.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"column '$name' does not exist")
    require(sch.fields.length > 1, "cannot drop the table's only column")
    require(!(pk ++ partitionCols).exists(_.equalsIgnoreCase(name)),
      s"cannot drop '$name': primary-key and partition columns are this " +
        "table handle's identity")
    require(!snap.generatedCols.keys.exists(_.equalsIgnoreCase(name)),
      s"'$name' is a generated column — dropGeneratedColumn first")
    require(!identityCols.contains(name.toLowerCase),
      s"cannot drop '$name': it is an identity column")
    val referencedBy = (snap.constraints ++ snap.generatedCols).collect {
      case (n, e) if exprRefs(e).exists(_.equalsIgnoreCase(name)) => n
    }
    require(referencedBy.isEmpty,
      s"cannot drop '$name': referenced by ${referencedBy.mkString(",")}")
    val binding = snap.colMap.find(_._1.equalsIgnoreCase(name))
    val phys = binding.map(_._2).getOrElse(name)
    val newSchema = StructType(sch.fields.filterNot(_.name.equalsIgnoreCase(name)))
    // a renamed column leaves a logical→physical binding behind; clear it
    // (rename L→P resolves to identity and drops out of the map), or a
    // FUTURE column re-using the logical name would silently write onto
    // the retired physical data. The physical name itself is retired by
    // the dropcol line.
    val clearBinding = binding.toSeq.map { case (l, p) =>
      s"rename=${enc(l)}\t${enc(p)}"
    }
    // a dropped column's default/comment/not-null declarations retire
    // with it
    val clearDefaults = Seq("graft.default.col.", "graft.existdefault.col.",
        "graft.comment.col.", "graft.notnull.col.")
      .flatMap(pre => snap.properties.get(pre + name.toLowerCase)
        .map(_ => s"unsetprop=${enc(pre + name.toLowerCase)}"))
    commitMetadataOnly("drop_column", v + 1, newSchema.json,
      (s"dropcol=${enc(phys)}" +: clearBinding) ++ clearDefaults,
      s"dropColumn($name)")
  }

  /** Lossless numeric widenings ALTER COLUMN … TYPE accepts — Delta's
    * type-widening set restricted to upcasts every engine reads exactly
    * (no value change, no precision loss).
    */
  private def widensTo(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** Widen a column's type as a metadata-only commit (Delta's ALTER
    * TABLE … ALTER COLUMN … TYPE under type widening): no data file is
    * touched — the recorded schema changes, pre-widen files keep the
    * narrow physical type and the parquet reader upcasts them under the
    * recorded type ([[frameFor]]), writes after the widen carry the wide
    * type. Era-correct: time travel to pre-widen versions reads the
    * narrow type, and [[restore]] to one resurrects it (the restore
    * commit re-records that version's schema). Only lossless numeric
    * upcasts are accepted ([[widensTo]]); the 100 TB shape is an int key
    * about to overflow — rewriting the table to relabel a type is a
    * non-starter. Primary-key columns may widen (they are exactly the
    * overflow candidates — merge joins still resolve, batches cast);
    * partition columns are refused: their values are directory-name
    * strings whose parse type must stay stable for pruning.
    */
  def alterColumnType(name: String, to: DataType): Unit = {
    require(exists, "alterColumnType on a table with no commits")
    val v = currentVersion
    val sch = schemaAt(v)
      .getOrElse(sys.error(s"version $v has no recorded schema"))
    val f = sch.fields.find(_.name.equalsIgnoreCase(name))
      .getOrElse(sys.error(s"column '$name' does not exist"))
    require(!partitionCols.exists(_.equalsIgnoreCase(name)),
      s"cannot change the type of partition column '$name' — partition " +
        "values are directory names; their parse type is the layout")
    if (f.dataType == to) return // idempotent no-op, as Delta
    require(widensTo(f.dataType, to),
      s"ALTER COLUMN TYPE only widens losslessly (byte→short→int→long, " +
        s"float→double); ${f.dataType.simpleString} → ${to.simpleString} " +
        "is not a supported widening — narrowing or relabeling needs a " +
        "rewrite (CREATE TABLE … AS SELECT with casts)")
    val newSchema = StructType(sch.fields.map(x =>
      if (x.name.equalsIgnoreCase(name)) x.copy(dataType = to) else x))
    commitMetadataOnly("widen", v + 1, newSchema.json, Nil,
      s"alterColumnType($name -> ${to.simpleString})")
  }

  /** Schema JSON recorded by the latest commit ≤ `v` that carried one —
    * the single definition of the log schema walk.
    */
  private def schemaJsonAt(v: Int): Option[String] =
    (v to 1 by -1).iterator.flatMap(readLog(_).schemaJson).nextOption()

  /** The schema JSON version `v` recorded, verbatim — what a commit that
    * keeps v's schema (every metadata-only commit, restore, clone, fsck)
    * records again, so nullability and field metadata carry over byte for
    * byte and no read frame is built to re-derive it.
    */
  private def recordedSchemaJson(v: Int): String =
    schemaJsonAt(v).getOrElse(sys.error(s"version $v has no recorded schema"))

  private val schemaAtCache = scala.collection.mutable.HashMap.empty[Int, Option[StructType]]

  /** Parsed [[schemaJsonAt]], memoized per version — [[frameFor]] consults
    * it on every read, and a committed version's schema never changes.
    */
  private def schemaAt(v: Int): Option[StructType] =
    schemaAtCache.getOrElseUpdate(v,
      schemaJsonAt(v).map(DataType.fromJson(_).asInstanceOf[StructType]))

  /** The table schema at the current version — a metadata read. */
  private def recordedSchema: Option[StructType] = schemaAt(currentVersion)

  /** Null-fill table columns the batch omits — merge's
    * allowMissingColumns semantics, so constraint/generated-column
    * expressions over an omitted column see NULL (exactly what the stored
    * rows will hold), not an analysis error. The presence test is
    * case-INSENSITIVE, matching analysis: with the default resolver,
    * withColumn("note", …) would silently REPLACE a batch's "NOTE" column
    * with null — turning a violating batch into a bypassed check.
    */
  private def widenToTable(df: DataFrame): DataFrame =
    recordedSchema.fold(df)(sch =>
      sch.fields.filterNot(f => df.columns.exists(_.equalsIgnoreCase(f.name)))
        .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType))))

  /** Derive omitted generated columns onto `df`; verify supplied ones
    * match their expression in ONE aggregate pass (null-safe compare —
    * Delta's write-side rule).
    */
  private def applyGenerated(df: DataFrame): DataFrame = {
    val gs = snapshotAt(currentVersion).generatedCols ++ pendingGeneratedCols
    if (gs.isEmpty) return df
    // present/absent partitions case-INSENSITIVELY, matching analysis and
    // widenToTable: a batch supplying the column under different casing is
    // SUPPLIED (and must be verified), not silently overwritten with the
    // derived value — col(n) below resolves against the batch casing via
    // the default case-insensitive resolver
    val (present, absent) = gs.partition { case (n, _) =>
      df.columns.exists(_.equalsIgnoreCase(n))
    }
    val wide = widenToTable(df)
    if (present.nonEmpty) {
      val names = present.keys.toSeq.sorted
      val aggs = names.map(n =>
        sum(when(!(col(n) <=> expr(gs(n))), 1L).otherwise(0L)).as(n))
      val row = Interpreted(wide.agg(aggs.head, aggs.tail: _*))(_.head())
      names.zipWithIndex.foreach { case (n, i) =>
        val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
        if (bad > 0) throw new ConstraintViolationException(s"generated:$n", gs(n), bad)
      }
    }
    if (absent.isEmpty) df
    else {
      val derivedNames = absent.keys.toSeq.sorted
      derivedNames.foldLeft(wide)((d, n) => d.withColumn(n, expr(gs(n))))
        .select((df.columns.toSeq ++ derivedNames).map(col): _*)
    }
  }

  /** Commit a version that changes only table metadata (no dirs added or
    * removed) at exactly version `next` — the caller pins `next` to the
    * version it validated against, so a concurrent commit landing in
    * between fails the claim. Fails fast on the lost race.
    */
  private def commitMetadataOnly(action: String, next: Int, schemaJson: String,
                                 extraLines: Seq[String], what: String): Unit =
    // metadata commits change no rows: mark them change-transparent so a
    // feed spanning them can still take the recorded-changes path
    commitStaged(action, next, Nil, Nil, None, schemaJson,
      extraLines :+ "cdf=none", what)

  /** Verify a write batch against the active constraints in ONE aggregate
    * pass; throws [[ConstraintViolationException]] naming the first
    * (alphabetically) violated constraint. Constraint-bearing tables pay
    * one extra scan of each batch — bounded by the batch, never the table.
    */
  private def enforceConstraints(df: DataFrame,
                                 commitLines: Seq[String] = Nil): Unit = {
    val cs = snapshotAt(currentVersion).constraints
    // NOT NULL columns verify in the SAME single aggregate pass as CHECK
    // constraints — a batch that OMITS a NOT NULL column widens to NULL
    // and is correctly refused (unlike CHECK, where NULL passes). Runs
    // AFTER default/identity/generated fill, so a declared DEFAULT
    // satisfies the constraint for omitted columns. Constraints the
    // CURRENT commit retires (REPLACE TABLE's unsetprop ledger lines,
    // riding this very write) do not judge the batch — the commit is
    // atomic, so the batch lands under the post-replace rule set.
    val dropped = commitLines.collect {
      case l if l.startsWith("unsetprop=") =>
        dec(l.stripPrefix("unsetprop="))
    }.filter(_.startsWith("graft.notnull.col."))
      .map(_.stripPrefix("graft.notnull.col.")).toSet
    val nn = notNullCols.diff(dropped).toSeq.sorted
      .map(c => s"notnull:$c" -> s"$c IS NOT NULL")
    val all = cs ++ nn
    if (all.isEmpty) return
    val names = all.keys.toSeq.sorted
    val aggs = names.map(n =>
      sum(when(expr(all(n)) <=> false, 1L).otherwise(0L)).as(n))
    // widened: a batch omitting a column stores NULL there, and NULL
    // passes CHECK — the expression must see that, not fail analysis
    val row = Interpreted(widenToTable(df).agg(aggs.head, aggs.tail: _*))(_.head())
    names.zipWithIndex.foreach { case (n, i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i) // empty batch → null sums
      if (bad > 0) throw new ConstraintViolationException(n, all(n), bad)
    }
  }

  /** (version, action, dirs added, dirs removed) per commit. */
  def history: Seq[(Int, String, Int, Int)] =
    (1 to currentVersion).map { v =>
      val e = readLog(v)
      (v, e.action, e.adds.length, e.removes.length)
    }

  /** [[history]] as a DataFrame with the in-commit timestamp and the
    * commit-time operation metrics (Delta's operationMetrics numFiles /
    * numOutputRows) — what DESCRIBE HISTORY surfaces through [[GraftSql]].
    * Metrics are NULL for metadata-only commits and for entries written
    * before the field existed; they come straight from the log, so
    * DESCRIBE HISTORY stays a metadata read however large the table.
    */
  def historyFrame: DataFrame = {
    val sp = spark
    import sp.implicits._
    (1 to currentVersion).map { v =>
      val e = readLog(v)
      (v, e.action, e.adds.length, e.removes.length, e.ts.getOrElse(0L),
        e.metrics.map(_._1), e.metrics.map(_._2))
    }.toDF("version", "action", "n_added", "n_removed", "commit_ts",
      "num_files", "num_output_rows")
  }

  /** Distinct live partition paths ("p=v" strings, Spark's SHOW PARTITIONS
    * rendering) straight from the commit log — zero data scan, O(log
    * replay) metadata; empty for a table with no commits yet.
    */
  def partitionPaths: Seq[String] = {
    require(partitionCols.nonEmpty, "partitionPaths on an unpartitioned table")
    if (!exists) Seq.empty
    else snapshotAt(currentVersion).liveDirs.map(partOf).distinct.sorted
  }

  /** [[partitionPaths]] as of version `v` — commit-log metadata only, no
    * data scan. A staged partition dir exists iff the commit landed at
    * least one row under it, so this is exactly "the partitions with rows
    * at v" (pre-tombstone, like every dir-granular view).
    */
  def partitionPathsAt(v: Int): Seq[String] = {
    require(partitionCols.nonEmpty, "partitionPathsAt on an unpartitioned table")
    snapshotAt(v).liveDirs.map(partOf).distinct.sorted
  }

  /** One-row table-detail frame (Delta's DESCRIBE DETAIL): identity,
    * partitioning, live file/byte/row counts, and the rule surface — all
    * from commit-log metadata plus one file listing and the parquet
    * FOOTERS (record counts are footer metadata; no data scan). `num_rows`
    * counts physical rows — live tombstones still suppress some at read.
    */
  def detailFrame: DataFrame = {
    val sp = spark
    import sp.implicits._
    val v = currentVersion
    val dirs = snapshotAt(v).liveDirs
    val files = dirs.flatMap(dataFiles)
    Seq((path, v, pk.mkString(","), partitionCols.mkString(","),
      dirs.size.toLong, files.size.toLong, files.map(_.getLen).sum,
      sumFooterRows(files.map(_.getPath)),
      recordCdf, constraints.size.toLong, generatedCols.size.toLong))
      .toDF("location", "version", "pk", "partition_columns",
        "num_live_dirs", "num_files", "size_bytes", "num_rows",
        "record_cdf", "num_constraints", "num_generated_columns")
  }

  /** Parquet record count straight from the file footer — O(1) metadata
    * IO per file, never a data scan. None for an unreadable footer.
    */
  private def footerRows(p: Path): Option[Long] =
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(p, spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try Some(r.getRecordCount) finally r.close()
    } catch { case _: Exception => None }

  /** Footer opens are ~10 ms each of independent local IO — read them
    * concurrently, or a many-file sum pays the serial total on the driver.
    */
  private def footerRowsAll(ps: Seq[Path]): Seq[Option[Long]] = {
    import scala.jdk.CollectionConverters._
    ps.asJava.parallelStream().map[Option[Long]](footerRows)
      .collect(java.util.stream.Collectors.toList[Option[Long]]).asScala.toSeq
  }

  /** Total footer row count, or None when any footer is unreadable — a
    * corrupt file must surface as "unknown", never fold into the sum as
    * zero (DESCRIBE DETAIL is exactly what an operator runs to
    * investigate such a file).
    */
  private def sumFooterRows(ps: Seq[Path]): Option[Long] = {
    val counts = footerRowsAll(ps)
    if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
  }

  /** SELECT COUNT(*) answered from METADATA alone (Delta's metadata-only
    * count optimization): live-dir parquet footer record counts minus
    * live tombstone footer counts — tombstones are written 1:1 with the
    * rows they suppress and die whenever their partition restages, so the
    * difference IS the logical row count. Zero data scan: cost is one
    * listing per live dir plus O(1) footer IO per file, however many rows
    * the table holds. None when any footer is unreadable (a corrupt file
    * must surface as "unknown", never fold into a wrong count) — callers
    * fall back to the scan path.
    */
  def fastCount: Option[Long] = {
    val v = currentVersion
    if (v == 0) return Some(0L)
    def rowsOf(dirs: Seq[String]): Option[Long] =
      sumFooterRows(dirs.flatMap(dataFiles).map(_.getPath))
    for {
      data <- rowsOf(snapshotAt(v).liveDirs)
      dv <- rowsOf(snapshotAt(v).dvDirs)
    } yield data - dv
  }

  /** Table-wide per-column min/max ([[detailFrame]]'s column-grained
    * sibling, `DESCRIBE DETAIL … COLUMNS` in SQL): folded from the
    * per-dir skipping stats ALREADY in the commit log — zero data scan,
    * zero extra IO, so "what's the value range of this column" is
    * answerable on a 100 TB table in metadata time. Values are the
    * recorded string renderings, compared numerically when both parse as
    * numbers (the skipping rules' BigDecimal order), lexically otherwise;
    * `num_dirs_with_stats` < `num_live_dirs` flags partial coverage
    * (dirs written before the column joined statsCols), where the true
    * range may exceed the reported one. Physical rows: live tombstones
    * still suppress some values at read.
    */
  def columnStatsFrame: DataFrame = {
    val sp = spark
    import sp.implicits._
    val v = currentVersion
    val dirs = snapshotAt(v).liveDirs
    val rows = statsCols.map { c =>
      // statsFor maps are keyed by PHYSICAL, file-cased names (exactly
      // what statsLines/analyzeColumns record) — translate and match
      // case-insensitively, as the prune path does
      val have = dirs.flatMap(d => statsFor(d, v)
        .find(_._1.equalsIgnoreCase(physicalOf(c))).map(_._2))
      def fold(vals: Seq[String], takeMin: Boolean): Option[String] =
        vals.reduceOption { (a, b) =>
          val cmp = (scala.util.Try(BigDecimal(a)).toOption,
              scala.util.Try(BigDecimal(b)).toOption) match {
            case (Some(x), Some(y)) => x.compare(y)
            case _ => a.compareTo(b)
          }
          if ((cmp <= 0) == takeMin) a else b
        }
      (c, fold(have.map(_._1), takeMin = true),
        fold(have.map(_._2), takeMin = false),
        have.size.toLong, dirs.size.toLong)
    }
    rows.toDF("column", "min", "max", "num_dirs_with_stats", "num_live_dirs")
  }

  /** Per-partition storage detail ([[detailFrame]]'s partition-grained
    * sibling, `DESCRIBE DETAIL … PARTITIONS` in SQL): live dir/file/byte/
    * row counts per partition path, from the commit log + one file
    * listing + parquet footers — zero data scan, so it stays cheap on a
    * 100 TB table. Row counts are physical (pre-tombstone).
    */
  def partitionDetailFrame: DataFrame = {
    require(partitionCols.nonEmpty,
      "partitionDetailFrame on an unpartitioned table — use detailFrame")
    val sp = spark
    import sp.implicits._
    val v = currentVersion
    val dirs = snapshotAt(v).liveDirs
    dirs.groupBy(partOf).toSeq.sortBy(_._1).map { case (p, ds) =>
      val files = ds.flatMap(dataFiles)
      (p, ds.size.toLong, files.size.toLong, files.map(_.getLen).sum,
        sumFooterRows(files.map(_.getPath)))
    }.toDF("partition", "num_dirs", "num_files", "size_bytes", "num_rows")
  }

  def read: DataFrame = readVersion(currentVersion)

  /** Latest version committed at or before epoch-millis `ts` — Delta's
    * timestampAsOf. A commit's time is the explicit `ts=` line its entry
    * records (monotonic per table — see [[commit]]'s in-commit timestamp),
    * so two commits landing in the same filesystem-mtime tick still
    * resolve in commit order; entries written before the ts line existed
    * fall back to the log file's modification time.
    */
  def versionAsOf(tsMillis: Long): Int = {
    val cur = currentVersion
    require(cur >= 1, "versionAsOf on a table with no commits")
    // one directory listing supplies every mtime fallback (entries written
    // before the ts= line existed) — never a getFileStatus RPC per commit
    lazy val mtimes: Map[Int, Long] = fs.listStatus(logDir).toSeq
      .filter(st => st.getPath.getName.startsWith("v") &&
        st.getPath.getName.endsWith(".log"))
      .map(st => st.getPath.getName.stripPrefix("v").stripSuffix(".log").toInt ->
        st.getModificationTime)
      .toMap
    def timeOf(v: Int): Long =
      readLog(v).ts.getOrElse(mtimes.getOrElse(v, Long.MaxValue))
    // in-commit timestamps are monotone by construction, so binary search
    // opens O(log N) log files instead of all N (mtime-fallback entries
    // predate ICT; their clock skew degrades resolution, not correctness
    // of ICT-era lookups, since ts-bearing entries dominate the order)
    if (timeOf(1) > tsMillis)
      sys.error(s"no commit at or before timestamp $tsMillis")
    var lo = 1
    var hi = cur
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (timeOf(mid) <= tsMillis) lo = mid else hi = mid - 1
    }
    lo
  }

  /** The table as of wall-clock time `tsMillis` (see [[versionAsOf]]). */
  def readAsOf(tsMillis: Long): DataFrame = readVersion(versionAsOf(tsMillis))

  /** The table exactly as of commit `v`: one parquet relation over v's
    * live dirs under the schema v recorded ([[frameFor]]), minus v's
    * tombstones. Building it opens no file and starts no Spark job; the
    * dirs are listed, and pruned by the query's filters, when a query over
    * the frame is planned.
    */
  def readVersion(v: Int): DataFrame = {
    require(v >= 1 && v <= currentVersion, s"version $v out of range 1..$currentVersion")
    withTombstones(frameFor(v, snapshotAt(v).liveDirs, tracked = true), v)
  }

  // version root → version of the log entry that added it; a root is
  // immutable once committed, so a found entry never changes
  private val addedAtCache = scala.collection.mutable.HashMap.empty[String, Int]

  /** Version of the log entry that added version root `root` (as data
    * dirs, `add=`, or as tombstone dirs, `dvadd=`). The version in the
    * root's name is only a HINT: a merge that loses a commit race
    * re-commits the SAME staging root (named for the version it first
    * attempted) at a later version, so the search walks forward through
    * the (memoized) log from the hint. A clone-referenced (`ext=`) root
    * carries no version in its name — it rides the clone/convert commit
    * itself, so the walk starts at 1. Found versions are memoized per
    * root.
    */
  private def addedAt(root: String): Option[Int] =
    addedAtCache.get(root).orElse {
      val hint =
        if (root.startsWith(ExtPrefix)) Some(1)
        else scala.util.Try(root.split("_")(0).stripPrefix("v").toInt).toOption
      val found = hint.flatMap(h => (h to currentVersion).find { i =>
        val e = readLog(i)
        (e.adds ++ e.dvAdds).exists(_.split("/")(0) == root)
      })
      found.foreach(addedAtCache(root) = _)
      found
    }

  /** Version `v`'s recorded fields that `keep` names, and the schema the
    * files carry them under: physical names (`colMap` at v), nullable,
    * and `EXISTS_DEFAULT` metadata on each column added with a default,
    * which the parquet reader returns for files that predate the column.
    */
  private def physicalSchemaAt(v: Int, keep: String => Boolean = _ => true)
      : (Seq[StructField], StructType) = {
    import org.apache.spark.sql.types.{Metadata, MetadataBuilder}
    val fields = schemaAt(v).getOrElse(sys.error(s"version $v records no schema"))
      .fields.toSeq.filter(f => keep(f.name))
    val cm = snapshotAt(v).colMap
    val eds = existDefaultsAt(v)
    (fields, StructType(fields.map { f =>
      val md = eds.get(f.name.toLowerCase).fold(Metadata.empty) { case (dt, x) =>
        new MetadataBuilder().putString("EXISTS_DEFAULT",
          // a timestamp default is frozen as epoch micros (zone-independent)
          if (dt == "timestamp") s"TIMESTAMP_MICROS($x)"
          else s"CAST(${org.apache.spark.sql.catalyst.expressions.Literal(x).sql} AS $dt)")
          .build()
      }
      f.copy(name = cm.collectFirst { case (l, p) if l.equalsIgnoreCase(f.name) => p }
        .getOrElse(f.name), nullable = true, metadata = md)
    }))
  }

  /** One parquet relation over `dirs` (a subset of version `v`'s live or
    * tombstone dirs, `ext=` roots included) under v's recorded schema,
    * restricted to the fields `keep` names, with v's column names. Every
    * file reads under that one schema ([[physicalSchemaAt]]): a renamed
    * column under its physical name, a column or nested struct field the
    * file lacks as its exists-default or NULL, a narrower numeric type
    * (ALTER COLUMN … TYPE) widened by the reader, a dropped column not at
    * all. Its [[LogFileIndex]] prunes the dirs when a query is planned, by
    * partition value, recorded min/max stats ([[canMatch]]) and bloom
    * sidecars ([[bloomCanMatch]]); a `tracked` relation reports the dirs
    * it kept in [[lastScanDirs]].
    */
  private def frameFor(v: Int, dirs: Seq[String], keep: String => Boolean = _ => true,
      tracked: Boolean = false): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val (fields, dataSchema) = physicalSchemaAt(v, keep)
    val partSchema = StructType(
      partitionCols.flatMap(c => dataSchema.find(_.name.equalsIgnoreCase(c))))
    val bloomIdx = bloomIndexAt(v)
    val index = new LogFileIndex(dirs.map(d => d -> resolvedPath(d)), partSchema,
      spark.sessionState.conf.sessionLocalTimeZone, dataFiles,
      (e, d) => canMatch(e, statsFor(d, v)) &&
        (bloomIdx.isEmpty || bloomCanMatch(e, d, bloomIdx)),
      n => if (tracked) lastScanDirs = n)
    val rel = HadoopFsRelation(index, partSchema, dataSchema, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      Map.empty)(spark)
    // the relation's columns are the data schema's, in order (a partition
    // column keeps its recorded position)
    val df = org.apache.spark.sql.GraftSqlBridge.ofRows(spark, LogicalRelation(rel))
    df.select(df.columns.toSeq.zip(fields).map { case (c, f) =>
      col(s"`${c.replace("`", "``")}`").as(f.name, f.metadata)
    }: _*)
  }

  /** The data files directly under dir entry `d` — THE single definition
    * of "a dir's data files", shared by reads, DESCRIBE DETAIL, fastCount,
    * manifests and commit metrics, so they never disagree on what counts
    * as data: `_`/`.`-prefixed names (bloom sidecars, committer markers,
    * checksums) are not. An `ext=` root that is gone fails with the
    * external-source contract named.
    */
  private def dataFiles(d: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val all = try fs.listStatus(resolvedPath(d)).toSeq catch {
      case e: java.io.FileNotFoundException if d.startsWith(ExtPrefix) =>
        // an ext= root (CONVERT TO GRAFT / shallow clone) references the
        // SOURCE's absolute location and never copies the files
        throw new IllegalStateException(
          s"external source '${resolveRoot(d.split("/")(0))}' referenced by table " +
            s"'$path' is missing or moved — CONVERT TO GRAFT and shallow " +
            "clones record the source location absolutely and do not copy " +
            "its files; restore the source, or re-CONVERT/clone from its " +
            "new location", e)
    }
    all.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Dirs kept by the last planned scan of a [[readVersion]] frame (and
    * so of [[read]] and [[readWhere]]) — test instrumentation for the
    * skipping contract. −1 until one is planned.
    */
  private[graft] var lastScanDirs: Int = -1

  /** Current-version read of the rows matching `cond`: `read.filter(cond)`,
    * planned at once so [[lastScanDirs]] describes it before any action:
    * the catalog's serving reads (`VectorOps`' modality probe) and the
    * skipping specs (`BloomSkipSpec`, `IdentityColumnSpec`, `ReadJobsSpec`)
    * check it straight after the call. An action on the frame itself
    * reuses that plan; a derived frame (`count`, a join) plans again, over
    * the dirs the relation has already listed. Pruning happens in
    * the relation at planning time ([[frameFor]]): live dirs whose
    * partition values, recorded min/max stats or bloom sidecars PROVE no
    * row can satisfy `cond` are not scanned — strictly an optimization, so
    * unknown predicates, missing stats or type mismatches keep the dir.
    * The predicate column need not be a partition column; it only needs
    * write-order correlation (the time-correlated layout 100 TB event
    * tables naturally have). Any query over a read frame (GraftSql views,
    * catalog scans) prunes the same way.
    */
  def readWhere(cond: Column): DataFrame = {
    require(currentVersion >= 1, "readWhere on a table with no commits")
    val df = read.filter(cond)
    df.queryExecution.sparkPlan.foreach {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.selectedPartitions
      case _ =>
    }
    df
  }

  // dir → stats lookup cache; a miss at the version the dir name suggests
  // triggers a bounded forward search (see statsFor) exactly once
  private val statsCache =
    scala.collection.mutable.HashMap.empty[String, Map[String, (String, String)]]

  /** Backfill per-dir min/max skipping stats for `colsIn` over the LIVE
    * dirs that lack them — ONE metadata-only commit, no data rewrite
    * (Delta's ANALYZE … FOR COLUMNS reshaped to graft's dir-granular
    * stats). The scan reads only the stats-less dirs; dirs already
    * covered for every requested column are skipped, so re-running after
    * new writes analyzes exactly the delta. This is what makes data
    * skipping work on CONVERT-adopted storage and on columns that joined
    * `statsCols` after early writes: at 100 TB the alternative —
    * rewriting every file to re-collect write-time stats — is a
    * non-starter. Returns the number of dirs analyzed.
    */
  def analyzeColumns(colsIn: Seq[String]): Int = {
    require(exists, "analyzeColumns on a table with no commits")
    require(colsIn.nonEmpty, "analyzeColumns needs at least one column")
    val sch = tableSchema
    val cols = colsIn.map(c =>
      sch.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(sys.error(
        s"analyzeColumns: unknown column '$c' (schema: ${sch.fieldNames.mkString(",")})")))
    // coverage marker for a (dir, col) whose every value was NULL: no
    // min/max claim exists, but the dir must not be re-scanned forever —
    // the NUL prefix can never collide with a real column name, so the
    // prune path and DESCRIBE DETAIL COLUMNS never see it
    def marker(c: String) = "\u0000analyzed:" + physicalOf(c)
    val v = currentVersion
    val missing = snapshotAt(v).liveDirs.filterNot { d =>
      val s = statsFor(d, v)
      cols.forall(c => s.contains(physicalOf(c)) || s.contains(marker(c)))
    }
    if (missing.isEmpty) return 0
    val byAbs = missing
      .map(d => fs.makeQualified(resolvedPath(d)).toUri.getPath -> d).toMap
    val raw = frameFor(v, missing).withColumn("__f", input_file_name())
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c")))
    val rows = raw
      .groupBy(regexp_replace(col("__f"), "/[^/]*$", "").as("__dir"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // bounded: one row per analyzed leaf dir
    val computed: Map[String, Map[String, (String, String)]] =
      rows.toSeq.flatMap { r =>
        byAbs.get(new Path(r.getString(0)).toUri.getPath).map { d =>
          d -> cols.zipWithIndex.flatMap { case (c, i) =>
            (Option(r.getString(1 + 2 * i)), Option(r.getString(2 + 2 * i))) match {
              case (Some(mn), Some(mx)) => Some(physicalOf(c) -> ((mn, mx)))
              case _ => None
            }
          }.toMap
        }
      }.toMap
    // every (dir, col) pair gets a line: real min/max when the dir holds
    // values, the coverage MARKER when it was all-null — so a re-run
    // never re-scans a dir it has already analyzed
    val lines = missing.flatMap { d =>
      val got = computed.getOrElse(d, Map.empty)
      cols.map { c =>
        got.get(physicalOf(c)) match {
          case Some((mn, mx)) =>
            s"stats=${enc(d)}\t${enc(physicalOf(c))}\t${enc(mn)}\t${enc(mx)}"
          case None =>
            s"stats=${enc(d)}\t${enc(marker(c))}\t\t"
        }
      }
    }
    commitMetadataOnly("analyze", v + 1, recordedSchemaJson(v), lines,
      s"analyzeColumns(${cols.mkString(",")})")
    // no cache invalidation needed: statsCache holds only the immutable
    // write-time stats — the backfill lands via the snapshot's `analyzed`
    // overlay, which every handle (this one AND concurrent ones) resolves
    // at call time against the version it reads
    missing.length
  }

  /** Stats for dir `d` as seen at version `v`: the write-time stats
    * recorded by whichever commit ADDED the dir, overlaid with any
    * ANALYZE backfill visible at `v`. Only the write-time part is cached
    * per dir (it is immutable — the dir's adding commit never changes);
    * the overlay resolves through the per-version [[snapshotAt]] memo
    * on every call, so a SECOND live handle to the same table sees a
    * concurrent handle's ANALYZE commit as soon as it reads a version
    * that includes it — no stale-cache window.
    */
  private def statsFor(d: String, v: Int): Map[String, (String, String)] =
    writeTimeStats(d) ++ snapshotAt(v).analyzed.getOrElse(d, Map.empty)

  /** Stats the entry that added `d` recorded for it ([[addedAt]]). Misses
    * are cached too — a stats-less table pays the lookup once per dir,
    * not per read.
    */
  private def writeTimeStats(d: String): Map[String, (String, String)] =
    statsCache.getOrElseUpdate(d,
      addedAt(d.split("/")(0)).flatMap(readLog(_).stats.get(d))
        .getOrElse(Map.empty))

  /** A literal's value as [[canMatch]] compares it with recorded stats:
    * the Scala value's `String.valueOf` (dates render `yyyy-MM-dd`); None
    * for NULL.
    */
  private def literalText(
      l: org.apache.spark.sql.catalyst.expressions.Literal): Option[String] =
    Option(org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(l.dataType)(l.value)).map(String.valueOf)

  /** The order [[canMatch]] compares a `ct` column's recorded stats strings
    * with a `lt` literal's [[literalText]] under; None when the pairing, or
    * any of `vals`, is not provably order-faithful. Numerics compare as
    * BigDecimal (which throws on a non-numeric string — callers wrap it),
    * ASCII strings and canonical dates lexicographically.
    */
  private def statsOrder(ct: DataType, lt: DataType,
      vals: Seq[String]): Option[(String, String) => Int] = {
    import org.apache.spark.sql.types._
    def ascii = vals.forall(_.forall(_ < 128))
    def iso = vals.forall(_.matches("""\d{4}-\d{2}-\d{2}"""))
    (ct, lt) match {
      case (_: NumericType, _: NumericType) =>
        Some((a, b) => BigDecimal(a).compare(BigDecimal(b)))
      case (StringType, StringType) if ascii => Some(_ compareTo _)
      case (DateType, DateType) if iso => Some(_ compareTo _)
      case _ => None
    }
  }

  /** Conservative three-valued stats check over a RESOLVED predicate:
    * false ONLY when the dir's min/max prove no row satisfies `e`. Handles
    * And/Or and binary comparisons between one attribute and one literal;
    * anything else — including a cast-wrapped attribute (a type-mismatched
    * comparison the analyzer made explicit) or a value pairing whose
    * string rendering is not provably order-faithful — returns true (keep
    * the dir). Supported: numerics (BigDecimal compare), ASCII strings
    * (Java compareTo is UTF-16 code-unit order, Spark collation is UTF-8
    * byte order — they disagree above the BMP, so non-ASCII never prunes),
    * dates in canonical `yyyy-MM-dd` (lexicographically order-correct for
    * 4-digit years). Timestamps deliberately never prune: fractional-
    * second rendering varies, and a wrong prune is a wrong ANSWER.
    */
  private def canMatch(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      dirStats: Map[String, (String, String)]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._

    def attrOf(x: Expression): Option[(String, DataType)] = x match {
      case a: AttributeReference => Some((a.name, a.dataType))
      case _ => None
    }
    def litOf(x: Expression): Option[(String, DataType)] = x match {
      case l: Literal => literalText(l).map(v => (v, l.dataType))
      case _ => None
    }
    // (lo, hi) where lo = cmp(min, lit), hi = cmp(max, lit); None when the
    // pairing is not provably order-faithful → no pruning
    def bounds(ct: DataType, c: String, v: String, lt: DataType): Option[(Int, Int)] =
      dirStats.get(c).flatMap { case (mn, mx) =>
        statsOrder(ct, lt, Seq(mn, mx, v))
          .flatMap(f => scala.util.Try((f(mn, v), f(mx, v))).toOption)
      }
    // decompose `a op b` into bounds + flipped (literal on the LEFT:
    // `lit op col` ≡ `col op⁻¹ lit`); None → conservative keep
    def check(a: Expression, b: Expression)(
        test: (Int, Int, Boolean) => Boolean): Boolean = {
      val decomposed = (attrOf(a), litOf(b), attrOf(b), litOf(a)) match {
        case (Some((c, ct)), Some((v, lt)), _, _) => Some((ct, c, v, lt, false))
        case (_, _, Some((c, ct)), Some((v, lt))) => Some((ct, c, v, lt, true))
        case _ => None
      }
      decomposed.flatMap { case (ct, c, v, lt, flipped) =>
        bounds(ct, c, v, lt).map { case (lo, hi) => test(lo, hi, flipped) }
      }.getOrElse(true)
    }

    e match {
      case And(l, r) => canMatch(l, dirStats) && canMatch(r, dirStats)
      case Or(l, r) => canMatch(l, dirStats) || canMatch(r, dirStats)
      case EqualTo(a, b) => check(a, b)((lo, hi, _) => lo <= 0 && hi >= 0)
      case GreaterThan(a, b) => // col > v needs max > v; v > col needs min < v
        check(a, b)((lo, hi, f) => if (f) lo < 0 else hi > 0)
      case GreaterThanOrEqual(a, b) =>
        check(a, b)((lo, hi, f) => if (f) lo <= 0 else hi >= 0)
      case LessThan(a, b) => // col < v needs min < v; v < col needs max > v
        check(a, b)((lo, hi, f) => if (f) hi > 0 else lo < 0)
      case LessThanOrEqual(a, b) =>
        check(a, b)((lo, hi, f) => if (f) hi >= 0 else lo <= 0)
      // IN-list pruning (the membership probe an isin() read compiles to):
      // keep the dir iff ANY listed value could fall inside [min, max].
      // Catalyst rewrites small lists to In and larger ones to InSet
      // (OptimizeIn), so both shapes must prune identically.
      case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
        list.exists(l => check(a, l)((lo, hi, _) => lo <= 0 && hi >= 0))
      case in: InSet =>
        attrOf(in.child) match {
          case Some((c, ct)) =>
            val toScala =
              org.apache.spark.sql.catalyst.CatalystTypeConverters
                .createToScalaConverter(ct)
            in.hset.exists { v =>
              Option(toScala(v)).map(String.valueOf) match {
                case Some(s) =>
                  bounds(ct, c, s, ct)
                    .map { case (lo, hi) => lo <= 0 && hi >= 0 }
                    .getOrElse(true)
                case None => true // a NULL member can never match, but
                                  // three-valued IN keeps us conservative
              }
            }
          case None => true
        }
      case _ => true
    }
  }

  /** Stage `df` under a UNIQUE version root (uuid suffix: two racing
    * writers must never share a staging dir — the log create, not the dir
    * name, decides the winner); returns its relative leaf dirs (partition
    * leaves, or the root itself when unpartitioned).
    */
  private def stage(df: DataFrame, next: Int,
      cluster: Boolean = true): (Path, Seq[String]) = {
    val rootName = s"${vname(next)}_${java.util.UUID.randomUUID().toString.take(8)}"
    val root = new Path(s"$dataDir/$rootName")
    // optimized write (Delta's optimizeWrite):
    // hash-cluster on the partition key BEFORE partitionBy so each
    // partition value lands in ONE task and writes ONE file — a raw
    // partitionBy over N shuffle partitions otherwise fans every dir into
    // up to N small files, paying parquet-writer init per (task × dir) at
    // stage time and listing + footer per file on EVERY later read of the
    // dir (the dominant fixed cost of the partitioned commit path — a
    // micro-batch maintenance flow pays it per commit). compact/OPTIMIZE
    // and Z-order pass cluster=false: their explicit repartition IS the
    // layout being committed.
    val clustered =
      if (cluster && partitionCols.nonEmpty)
        df.repartition(partitionCols.map(col): _*)
      else df
    // files carry PHYSICAL column names (stable across renames); partition
    // columns are pk/partition identity and never rename, but translate
    // uniformly for safety
    // Output-committer algorithm 2: task outputs move to the destination
    // at TASK commit instead of a serial per-file rename pass at job
    // commit. v1's job-commit rename is pure overhead here — the staging
    // dir is fresh and unique per attempt, readers only ever see it after
    // OUR commit-log entry publishes it (the table log, not the committer,
    // is the atomicity boundary — the Delta/Iceberg posture), and a failed
    // stage aborts the whole mutation with the orphaned dir ignored. At
    // ~1 s/commit × every maintenance micro-batch this was the single
    // largest fixed cost in the commit profile (the stage-write phase).
    // v2's task commits are not atomic: a speculative duplicate attempt
    // could leave a second copy of a task's part files in the staging dir,
    // and `adds`/stats list that dir wholesale — so refuse speculation
    require(!spark.sparkContext.getConf.getBoolean("spark.speculation", false),
      "VersionedTable stage writes need spark.speculation=false: output " +
        "committer v2 moves task output at task commit, so a speculative " +
        "attempt's part files would land in the staged commit")
    val physical = toPhysical(clustered)
    Phases.timed(s"stage-write $path") {
      Interpreted(physical) { p =>
        val w = p.write.mode("overwrite")
          .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
        (if (partitionCols.nonEmpty) w.partitionBy(partitionCols.map(physicalOf): _*) else w)
          .parquet(root.toString)
      }
    }
    def leaves(p: Path, depth: Int): Seq[Path] =
      if (depth == 0) Seq(p)
      else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
        .flatMap(leaves(_, depth - 1))
    val qualified = fs.makeQualified(root)
    val rel = leaves(root, partitionCols.length).map { leaf =>
      rootName + fs.makeQualified(leaf).toUri.getPath
        .stripPrefix(qualified.toUri.getPath)
    }
    // maintain any declared bloom index on the staged dirs, BEFORE the
    // commit makes them visible (dirs are immutable once live)
    if (exists) {
      val idx = bloomIndexAt(currentVersion)
      // stage-time clamps still warn on stderr inside the build; the
      // machine-readable report belongs to explicit index builds
      if (idx.nonEmpty) { val _ = writeBloomSidecars(rel, idx, physical.schema) }
    }
    (root, rel)
  }

  /** Partition path of a relative data dir ("root/p=v/…" → "p=v/…");
    * empty for unpartitioned dirs, which therefore always collide. Shared
    * by every mutator's conflict/supersede logic — one definition, so a
    * future fix (e.g. partition-value escaping) lands everywhere at once.
    */

  /** Static one-predicate-per-touched-tuple filter (p1=v1 AND p2=v2 …) —
    * literal comparisons so the current-version scan partition-prunes.
    */
  private def partitionPredicate(touched: Array[Row]): Column =
    touched.map { r =>
      partitionCols.zipWithIndex
        .map { case (c, i) => col(c) <=> lit(r.get(i)) }
        .reduce(_ && _)
    }.reduceOption(_ || _).getOrElse(lit(false))

  /** The batch's distinct partition tuples, each followed by its rows'
    * (min, max) per pk column — the bounds [[migratedPartitions]] prunes
    * by, from the same single aggregation (the same Spark jobs) a plain
    * distinct over the partition columns takes.
    */
  private def touchedGroups(batch: DataFrame): Array[Row] = {
    val bounds = pk.flatMap(c => Seq(min(col(c)), max(col(c))))
    Interpreted(batch.groupBy(partitionCols.map(col): _*).agg(bounds.head, bounds.tail: _*))(
      _.collect())
  }

  /** The partition tuple of a [[touchedGroups]] row. */
  private def partitionTuple(g: Row): Row = Row.fromSeq(g.toSeq.take(partitionCols.length))

  /** Partitions outside the batch's touched set holding a row visible at
    * `v` whose pk the batch re-delivers — partition MIGRATION (a
    * re-embedded vector changing cells, a doc changing lang), shared by
    * [[merge]] and [[executeMergeInto]]. Such a row would survive the
    * restage, which reads only touched partitions, and duplicate its key,
    * so callers pull these partitions into the touched set. `groups` are
    * [[touchedGroups]] of `batch`. The probe is one column-pruned (pk +
    * partition) semi-join over only the live dirs that can hold such a
    * row, by two exact rules:
    *  - a dir provably in a touched partition holds none: its unescaped
    *    path values equal a touched tuple (string, integral and date
    *    columns only; any other type keeps the dir);
    *  - a migrating key lies inside its dir's recorded pk [min, max] and
    *    inside its batch group's bounds, so a dir whose pk range meets no
    *    group's bounds ([[canMatch]]) holds none. A dir without pk stats
    *    is kept.
    * Each pk column's group bounds merge once into sorted disjoint
    * intervals, and each dir binary-searches the one interval that can
    * meet its range, so the driver-side check stays
    * O((dirs + groups) · log groups). No Spark job runs when no dir
    * qualifies, nor when every partition column is part of the pk (equal
    * pk ⇒ equal partition values ⇒ migration impossible).
    */
  private def migratedPartitions(v: Int, batch: DataFrame, groups: Array[Row]): Array[Row] = {
    import org.apache.spark.sql.catalyst.expressions.{
      And => CAnd, AttributeReference, GreaterThanOrEqual, LessThanOrEqual,
      Literal => CLit}
    import org.apache.spark.sql.types._
    val n = partitionCols.length
    val touched = groups.map(partitionTuple)
    val live = snapshotAt(v).liveDirs
    // (batch group's non-null bounds) — a group whose keys are all NULL
    // joins nothing
    val keyed = groups.filter(g => (n until g.length).forall(!g.isNullAt(_)))
    val cand =
      if (partitionCols.forall(pc => pk.exists(_.equalsIgnoreCase(pc))) ||
          keyed.isEmpty) Nil
      else {
        val sch = schemaAt(v).getOrElse(sys.error(s"version $v records no schema"))
        def fieldOf(st: StructType, c: String) = st.fields.find(_.name.equalsIgnoreCase(c))
        def comparable(t: DataType, b: DataType): Boolean = (t, b) match {
          case (StringType, StringType) | (DateType, DateType) => true
          case (ByteType | ShortType | IntegerType | LongType,
                ByteType | ShortType | IntegerType | LongType) => true
          case _ => false
        }
        val inTouched: String => Boolean =
          if (!partitionCols.forall(c => (fieldOf(sch, c), fieldOf(batch.schema, c)) match {
              case (Some(t), Some(b)) => comparable(t.dataType, b.dataType)
              case _ => false
            })) _ => false
          else {
            val paths: Set[Seq[String]] = touched.map(r => (0 until n).map(i =>
              if (r.isNullAt(i)) "__HIVE_DEFAULT_PARTITION__" else r.get(i).toString)
              .toSeq).toSet
            d => paths.contains(partOf(d).split("/").toSeq.map(seg =>
              unescapePathName(seg.split("=", 2).last)))
          }
        // per pk column: its attribute, and the groups' bounds merged into
        // sorted disjoint intervals (None: not order-faithful, no pruning)
        case class Iv(lo: CLit, hi: CLit, loText: String, hiText: String)
        val byCol = pk.zipWithIndex.flatMap { case (c, i) =>
          for {
            f <- fieldOf(sch, c)
            b <- fieldOf(batch.schema, c)
            ivs = keyed.toSeq.map { g =>
              val (lo, hi) = (CLit.create(g.get(n + 2 * i), b.dataType),
                CLit.create(g.get(n + 2 * i + 1), b.dataType))
              Iv(lo, hi, literalText(lo).get, literalText(hi).get)
            }
            ord <- statsOrder(f.dataType, b.dataType, ivs.flatMap(x => Seq(x.loText, x.hiText)))
            merged <- scala.util.Try(ivs.sortWith((x, y) => ord(x.loText, y.loText) < 0)
              .foldLeft(Vector.empty[Iv]) { (acc, x) =>
                acc.lastOption match {
                  case Some(last) if ord(x.loText, last.hiText) <= 0 =>
                    if (ord(x.hiText, last.hiText) > 0) acc.init :+ last.copy(hi = x.hi, hiText = x.hiText)
                    else acc
                  case _ => acc :+ x
                }
              }).toOption
          } yield (AttributeReference(physicalOf(f.name), f.dataType)(), ord, merged)
        }
        def mayHoldKey(d: String): Boolean = {
          val st = statsFor(d, v)
          byCol.forall { case (attr, ord, ivs) =>
            st.get(attr.name).forall { case (mn, _) =>
              // the first interval ending at or above the dir's min is the
              // only one that can meet [min, max]; canMatch decides
              var (lo, hi) = (0, ivs.size - 1)
              scala.util.Try {
                while (lo < hi) {
                  val mid = (lo + hi) >>> 1
                  if (ord(ivs(mid).hiText, mn) >= 0) hi = mid else lo = mid + 1
                }
              }
              canMatch(CAnd(GreaterThanOrEqual(attr, ivs(lo).lo),
                LessThanOrEqual(attr, ivs(lo).hi)), st)
            }
          }
        }
        live.filterNot(inTouched).filter(mayHoldKey)
      }
    Phases.timed(s"migrate-probe $path dirs=${cand.size}/${live.size}") {
      if (cand.isEmpty) Array.empty[Row]
      else Interpreted(withTombstones(frameFor(v, cand), v).filter(!partitionPredicate(touched))
        .join(batch.select(pk.map(col): _*).distinct(), pk, "left_semi")
        .select(partitionCols.map(col): _*).distinct())(_.collect())
    }
  }

  /** Live dirs holding at least one row matching `cond` — file-accurate
    * (via input_file_name on the matching scan), so the removes list never
    * depends on rendering partition values back into paths.
    */
  private def matchingDirs(cond: Column): Set[String] = {
    // map each live entry's RESOLVED absolute path back to its log string,
    // so clone-referenced (ext=) dirs — which live outside this table's
    // data/ — round-trip exactly like local ones
    val v = currentVersion
    val byAbs = snapshotAt(v).liveDirs
      .map(d => fs.makeQualified(resolvedPath(d)).toUri.getPath -> d).toMap
    // input_file_name() needs a single source, so it materializes as a
    // column DIRECTLY above the scan; the tombstone anti-join sits above
    // that. The match must be DV-AWARE: a dir whose only cond-matching
    // rows are tombstoned has no visible match, and treating it as doomed
    // would remove it while the restage (built from the DV-aware read,
    // whose `touched` set excludes the partition) stages NO replacement —
    // silently dropping its surviving rows.
    val raw = frameFor(v, snapshotAt(v).liveDirs).withColumn("__f", input_file_name())
    Interpreted(withTombstones(raw, v).filter(cond).select(col("__f")).distinct())(_.collect())
      .flatMap(r => byAbs.get(new Path(r.getString(0)).getParent.toUri.getPath))
      .toSet
  }

  /** The commit's ONE pass over the parquet FOOTERS of the dirs it staged
    * (`rel`: leaf dirs under the staging root `root`; `ext=` dirs are not
    * the commit's own and are skipped). It returns the entry's operation
    * metrics line, `metrics=<numFiles>\t<numOutputRows>` (Delta's
    * numFiles/numOutputRows), and its per-leaf-dir min/max skipping stats,
    * one line per (dir, column): `stats=<dir>\t<col>\t<min>\t<max>`,
    * fields URL-encoded. Stats cover the declared `statsCols` and every pk
    * column ([[statsPkExtra]]). Each staged file's footer is opened once —
    * metadata the write already produced, so the cost is bounded by the
    * staged batch, never the table, and no Spark job runs (Delta's
    * collect-stats-at-write-time pattern). Values render like Spark's
    * string cast ([[footerStatsLines]]); an all-null column in a dir emits
    * no line (no pruning claim). Best-effort, the commit never depends on
    * it: an unreadable footer drops the metrics line (never a wrong
    * count), declared columns the footers cannot render faithfully fall
    * back to one [[scanStatsLines]] pass, and pk columns without faithful
    * footer stats are skipped per dir.
    */
  private def statsLines(root: Path, rel: Seq[String]): Seq[String] = {
    val own = rel.filterNot(_.startsWith(ExtPrefix))
    if (own.isEmpty) return Nil
    Phases.timed(s"commit-footers $path") {
      val footers = try Some(stagedFooters(own)) catch { case _: Exception => None }
      val metrics = footers.filterNot(_.exists(_._2.contains(None))).map { fs =>
        val files = fs.flatMap(_._2.flatten)
        s"metrics=${files.size}\t${files.map(_._1).sum}"
      }
      metrics.toSeq ++ footers.flatMap(footerStatsLines).getOrElse(
        if (statsCols.isEmpty) Nil else scanStatsLines(root, own))
    }
  }

  /** Primary-key columns recorded in the write-time stats IN ADDITION to
    * the declared `statsCols` (which alone feed DESCRIBE DETAIL COLUMNS),
    * on every table. Per-dir pk min/max is what prunes [[append]]'s
    * collision scan and [[merge]]'s migration probe
    * ([[migratedPartitions]]) to the dirs whose key range can overlap the
    * batch. Min/max pruning is EXACT for membership — a colliding or
    * migrating key lies inside some dir's [min, max] — and fresh keys
    * (monotone ids, per-drop reject ids) prune both probes to zero dirs,
    * so neither starts a Spark job. [[statsLines]] opens every staged
    * footer for the metrics line anyway, so a pk column costs only its
    * chunk statistics; a pk column that is a partition column derives
    * from the dir path. Unsupported or absent pk footer stats are skipped
    * per dir (an optimization, unlike the declared columns whose absence
    * forces the scan fallback).
    */
  private lazy val statsPkExtra: Seq[String] =
    pk.map(physicalOf).filterNot(p =>
      statsCols.exists(c => physicalOf(c).equalsIgnoreCase(p)))

  /** A staged file's footer as [[statsLines]] needs it: the row count and
    * the top-level column chunks (file-cased name, row-group rows, chunk)
    * of the stats columns that are not partition columns.
    */
  private type Footer =
    (Long, Seq[(String, Long, org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)])

  /** The [[Footer]] of every parquet file under each of `dirs`, grouped per
    * dir in `dirs` order; None for a file whose footer cannot be read.
    * Footer opens are ~10 ms of independent local IO each, so every file
    * of the commit reads concurrently (the [[footerRowsAll]] discipline).
    */
  private def stagedFooters(dirs: Seq[String]): Seq[(String, Seq[Option[Footer]])] = {
    import scala.jdk.CollectionConverters._
    val dataCols = (statsCols.map(physicalOf) ++ statsPkExtra).filterNot(c =>
      partitionCols.exists(p => physicalOf(p).equalsIgnoreCase(c)))
    val files = dirs.map(d => d -> dataFiles(d).map(_.getPath))
    val read = files.flatMap(_._2).asJava.parallelStream()
      .map[Option[Footer]] { f =>
        try {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(f, spark.sparkContext.hadoopConfiguration))
          try Some((r.getRecordCount, r.getFooter.getBlocks.asScala.toSeq.flatMap { b =>
            b.getColumns.asScala.toSeq.collect {
              case cc if cc.getPath.toArray.length == 1 &&
                  dataCols.exists(_.equalsIgnoreCase(cc.getPath.toArray.apply(0))) =>
                (cc.getPath.toArray.apply(0), b.getRowCount, cc)
            }
          }))
          finally r.close()
        } catch { case _: Exception => None }
      }
      .collect(java.util.stream.Collectors.toList[Option[Footer]])
      .asScala.iterator
    files.map { case (d, ps) => d -> ps.map(_ => read.next()) }
  }

  /** [[statsLines]]' stats from the staged files' [[Footer]]s instead of a
    * second Spark scan of the staged data (an extra job per commit,
    * measured 0.1–0.6 s each on the maintenance flows; at scale a second
    * full read of the batch). Returns None whenever a DECLARED column
    * cannot be derived faithfully — an unreadable footer, absent/untrusted
    * chunk statistics, an unsupported physical/logical type — and the
    * caller falls back to the scan pass, so this is strictly an
    * optimization. A pk column ([[statsPkExtra]]) in that state makes no
    * claim for the dir instead.
    *
    * Rendering parity with the scan path is LOAD-BEARING (the strings are
    * surfaced verbatim by DESCRIBE DETAIL COLUMNS and compared by the
    * prune rules): INT32/INT64 render via Int/Long.toString, DATE via
    * proleptic LocalDate.toString (Spark 4's date cast), STRING as the
    * exact value bytes (parquet's unsigned-lexicographic footer order is
    * UTF8String's order), DECIMAL via java BigDecimal(unscaled,
    * scale).toString (the same java toString Spark's Decimal renders
    * through), DOUBLE/FLOAT via j.l.Double/Float.toString (parquet drops
    * double stats when NaN is present — that lands in the fallback).
    * Partition columns never appear in the files: a staged leaf dir holds
    * exactly ONE value per partition column, so min = max = the dir's
    * unescaped path value, the identical string the scan path records
    * after its partition-discovery round-trip. All-null chunks (stats
    * present, no non-null value) emit no line, like the scan path.
    */
  private def footerStatsLines(
      footers: Seq[(String, Seq[Option[Footer]])]): Option[Seq[String]] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val hiveDefault = "__HIVE_DEFAULT_PARTITION__"
    // (orderable key, rendered string); orderable key mirrors the footer
    // comparator so cross-file folding picks the true bounds
    sealed trait V { def render: String }
    case class LV(v: Long, render: String) extends V
    case class DV(v: Double, render: String) extends V
    case class BV(v: Array[Byte]) extends V {
      def render = new String(v, "UTF-8")
    }
    def lower(a: V, b: V): V = (a, b) match {
      case (x: LV, y: LV) => if (x.v <= y.v) x else y
      case (x: DV, y: DV) => if (x.v <= y.v) x else y
      case (x: BV, y: BV) =>
        // unsigned lexicographic — parquet's and UTF8String's order
        val n = math.min(x.v.length, y.v.length)
        var i = 0
        while (i < n && x.v(i) == y.v(i)) i += 1
        val c =
          if (i < n) (x.v(i) & 0xff) - (y.v(i) & 0xff)
          else x.v.length - y.v.length
        if (c <= 0) x else y
      case _ => sys.error("mixed stats kinds for one column")
    }
    def upper(a: V, b: V): V = if (lower(a, b) eq a) b else a
    // one (min,max) per trusted chunk, typed + rendered; None = unsupported
    def chunkStats(c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
        rows: Long): Option[Option[(V, V)]] = {
      val st = c.getStatistics
      if (st == null || st.isEmpty) return None // absent/untrusted → fallback
      if (!st.hasNonNullValue)
        return if (st.getNumNulls == rows) Some(None) // genuinely all-null
        else None
      val pt = c.getPrimitiveType
      val ann = pt.getLogicalTypeAnnotation
      def decimalText(scale: Int, unscaled: Long): String =
        new java.math.BigDecimal(
          java.math.BigInteger.valueOf(unscaled), scale).toString
      (pt.getPrimitiveTypeName, ann) match {
        case (INT64, null) =>
          val (mn, mx) = (st.genericGetMin.asInstanceOf[Long],
            st.genericGetMax.asInstanceOf[Long])
          Some(Some((LV(mn, mn.toString), LV(mx, mx.toString))))
        case (INT64, d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =>
          val (mn, mx) = (st.genericGetMin.asInstanceOf[Long],
            st.genericGetMax.asInstanceOf[Long])
          Some(Some((LV(mn, decimalText(d.getScale, mn)), LV(mx, decimalText(d.getScale, mx)))))
        case (INT64, i: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
            if i.isSigned =>
          val (mn, mx) = (st.genericGetMin.asInstanceOf[Long],
            st.genericGetMax.asInstanceOf[Long])
          Some(Some((LV(mn, mn.toString), LV(mx, mx.toString))))
        case (INT32, null) =>
          val (mn, mx) = (st.genericGetMin.asInstanceOf[Int],
            st.genericGetMax.asInstanceOf[Int])
          Some(Some((LV(mn, mn.toString), LV(mx, mx.toString))))
        case (INT32, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
          val (mn, mx) = (st.genericGetMin.asInstanceOf[Int],
            st.genericGetMax.asInstanceOf[Int])
          def d(x: Int) = java.time.LocalDate.ofEpochDay(x.toLong).toString
          Some(Some((LV(mn, d(mn)), LV(mx, d(mx)))))
        case (INT32, d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =>
          val (mn, mx) = (st.genericGetMin.asInstanceOf[Int],
            st.genericGetMax.asInstanceOf[Int])
          Some(Some((LV(mn, decimalText(d.getScale, mn)), LV(mx, decimalText(d.getScale, mx)))))
        case (INT32, i: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
            if i.isSigned =>
          val (mn, mx) = (st.genericGetMin.asInstanceOf[Int],
            st.genericGetMax.asInstanceOf[Int])
          Some(Some((LV(mn, mn.toString), LV(mx, mx.toString))))
        case (DOUBLE, null) =>
          val (mn, mx) = (st.genericGetMin.asInstanceOf[Double],
            st.genericGetMax.asInstanceOf[Double])
          Some(Some((DV(mn, mn.toString), DV(mx, mx.toString))))
        case (FLOAT, null) =>
          val (mn, mx) = (st.genericGetMin.asInstanceOf[Float],
            st.genericGetMax.asInstanceOf[Float])
          Some(Some((DV(mn.toDouble, mn.toString), DV(mx.toDouble, mx.toString))))
        case (BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
          val mn = st.genericGetMin
            .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
          val mx = st.genericGetMax
            .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
          Some(Some((BV(mn), BV(mx))))
        case _ => None
      }
    }
    try {
      val strict = statsCols.map(physicalOf)
      val wanted = strict ++ statsPkExtra
      val lines = footers.map { case (d, files) =>
        // per dir: a column skipped in one dir still gets stats in another
        val poisoned = scala.collection.mutable.HashSet.empty[String]
        // partition columns: one value per leaf dir, straight from the path
        val segs = d.split("/").drop(1).flatMap(_.split("=", 2) match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        })
        val partLines = wanted.flatMap { c =>
          segs.find(_._1.equalsIgnoreCase(c)).flatMap { case (k, raw) =>
            val v = unescapePathName(raw)
            if (v == hiveDefault) None else Some((k, v, v))
          }
        }
        val partKeys = segs.map(_._1.toLowerCase).toSet
        // fold (column → bounds) across every file and row group of the dir
        val acc = scala.collection.mutable.HashMap
          .empty[String, Option[(V, V)]] // fileCasedName → running bounds
        if (files.contains(None)) {
          // an unreadable footer hides its file's bounds: a declared data
          // column falls back to the scan, a pk column claims nothing here
          if (strict.exists(c => !partKeys(c.toLowerCase))) return None
        } else files.flatten.flatMap(_._2).foreach { case (name, rows, cc) =>
          chunkStats(cc, rows) match {
            case None =>
              // absent/unsupported stats: fatal for DECLARED columns
              // (fall back to the scan pass), a silent skip for the
              // pk-extra ones
              if (strict.exists(_.equalsIgnoreCase(name))) return None
              poisoned += name
              acc.remove(name)
            case _ if poisoned(name) => ()
            case Some(None) =>
              if (!acc.contains(name)) acc(name) = None
            case Some(Some((mn, mx))) =>
              acc(name) = acc.get(name).flatten match {
                case Some((m0, x0)) => Some((lower(m0, mn), upper(x0, mx)))
                case None => Some((mn, mx))
              }
          }
        }
        // a requested data column missing from a file's schema is fine
        // (schema evolution: no claim); nested columns are top-level-only
        val dataLines = acc.toSeq.collect {
          case (name, Some((mn, mx))) => (name, mn.render, mx.render)
        }
        d -> (partLines ++ dataLines)
      }
      Some(lines.flatMap { case (d, cols) =>
        cols.sortBy(_._1).map { case (c, mn, mx) =>
          s"stats=${enc(d)}\t${enc(c)}\t${enc(mn)}\t${enc(mx)}"
        }
      })
    } catch { case e: Exception =>
      // loud, not silent: the fallback costs a full scan of the staged data
      System.err.println(s"[stats-footer] fallback to a stats scan for $path: $e")
      None
    }
  }

  /** The original scan-based stats pass — the fallback when
    * [[footerStatsLines]] cannot derive a faithful line set.
    */
  private def scanStatsLines(root: Path, rel: Seq[String]): Seq[String] = {
    try {
      val staged = spark.read.option("basePath", root.toString).parquet(root.toString)
      // resolve configured names case-insensitively (as analysis does) and
      // record under the SCHEMA's casing — readWhere's resolved attribute
      // names carry the schema case, and the two must agree to prune.
      // Staged files carry PHYSICAL names — translate the configured
      // logical names before matching (stats are therefore keyed physical,
      // and readWhere translates back at prune time)
      val present = (statsCols.map(physicalOf) ++ statsPkExtra).flatMap(c =>
        staged.columns.find(_.equalsIgnoreCase(c)))
      if (present.isEmpty) return Nil
      val aggs = present.flatMap(c => Seq(
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c")))
      val rows = Interpreted(staged
        .groupBy(regexp_replace(input_file_name(), "/[^/]*$", "").as("__dir"))
        .agg(aggs.head, aggs.tail: _*))(_.collect()) // bounded: one row per staged leaf dir
      val rootName = root.getName
      val qualifiedRoot = fs.makeQualified(root).toUri.getPath
      rows.toSeq.flatMap { r =>
        val dir = rootName +
          new Path(r.getString(0)).toUri.getPath.stripPrefix(qualifiedRoot)
        present.zipWithIndex.flatMap { case (c, i) =>
          (Option(r.getString(1 + 2 * i)), Option(r.getString(2 + 2 * i))) match {
            case (Some(mn), Some(mx)) =>
              Some(s"stats=${enc(dir)}\t${enc(c)}\t${enc(mn)}\t${enc(mx)}")
            case _ => None
          }
        }
      }
    } catch { case e: Exception =>
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"stats collection failed (commit proceeds without skipping stats): ${e.getMessage}")
      Nil
    }
  }

  /** Write `content` to a hidden temp file in `_log`, then atomically
    * LINK/RENAME it onto `dest`: the claim and the content become visible
    * TOGETHER, so no reader can ever observe a claimed-but-empty log entry
    * — the loser of a merge race reads the winner's entry immediately
    * after losing, and a half-written entry there would misclassify the
    * conflict (and poison the instance's log cache). Local filesystems
    * claim via hard link (atomic, EEXIST on contention); HDFS-likes via
    * rename, whose no-overwrite contract is an atomic claim there. Returns
    * false when the race was lost; the temp file is always removed.
    */
  private def atomicClaim(dest: Path, content: String): Boolean = {
    fs.mkdirs(logDir)
    val tmp = new Path(logDir, s".tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    val o = fs.create(tmp, true)
    try o.write(content.getBytes("UTF-8")) finally o.close()
    try {
      if (isLocalFs) {
        val destNio = java.nio.file.Paths.get(fs.makeQualified(dest).toUri.getPath)
        val tmpNio = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath)
        try { java.nio.file.Files.createLink(destNio, tmpNio); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        try {
          // HDFS rename: false/throws when dest exists. A false WITHOUT the
          // dest existing is a real fault, not contention — surface it.
          fs.rename(tmp, dest) ||
            (if (fs.exists(dest)) false
             else sys.error(s"log commit failed: cannot rename into $dest"))
        } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
      }
    } finally fs.delete(tmp, false)
  }

  /** The claim step of [[commitStaged]], its only caller: linking the
    * fully-written log file into place claims version `next` (see
    * [[atomicClaim]]). Returns true on success, false when the race was
    * lost; the caller owns the staging either way.
    */
  private def commit(action: String, next: Int, adds: Seq[String],
                     removes: Seq[String], schemaJson: String,
                     extraLines: Seq[String]): Boolean = {
    beforeCommitHook()
    // in-commit timestamp (Delta's ICT): monotonic per table via
    // max(prev + 1, now), recorded IN the entry — [[versionAsOf]] must
    // never trust log-file mtimes, whose coarse granularity (or two
    // commits in one millisecond) can resolve a between-commits timestamp
    // to the later version
    val ts = math.max(
      if (next > 1) readLog(next - 1).ts.getOrElse(0L) + 1 else 0L,
      System.currentTimeMillis())
    // operation metrics (the `metrics=` line) ride `extraLines`: the
    // caller's [[statsLines]] reads them from the staged footers in the
    // same pass as the skipping stats
    val content =
      (Seq(s"action=$action", s"schema=$schemaJson", s"ts=$ts") ++
        adds.map("add=" + _) ++ removes.map("remove=" + _) ++ extraLines ++
        // CREATE-declared identity/generated specs buffered before any
        // commit existed ride the first commit that lands (atomic with
        // the data they govern)
        pendingIdentityLines ++ pendingGeneratedLines ++
        pendingDefaultLines ++ pendingNotNullLines).mkString("\n")
    val claimed = atomicClaim(new Path(logDir, s"${vname(next)}.log"), content)
    if (claimed) { pendingIdentitySpecs = Map.empty
      pendingGeneratedCols = Map.empty
      pendingDefaults = Map.empty
      pendingNotNull = Set.empty }
    if (claimed && checkpointInterval > 0 && next % checkpointInterval == 0)
      writeCheckpoint(next)
    if (claimed) writeTableMetaIfMissing()
    claimed
  }

  private def metaFile = new Path(logDir, "_table_meta")

  /** Record the table's declared layout (pk + partition columns) beside
    * the log, once, at the first commit that finds it missing — so a
    * later handle attaching to this storage can VERIFY its declared
    * layout instead of trusting it (a typo'd pk would silently dispatch
    * merges on wrong join keys over good data). Best-effort: a failed
    * sidecar write must never fail the commit that already landed.
    */
  private def writeTableMetaIfMissing(): Unit =
    try {
      if (!fs.exists(metaFile)) {
        val tmp = new Path(logDir,
          s".tmpmeta_${java.util.UUID.randomUUID().toString.take(8)}")
        val o = fs.create(tmp, true)
        try o.write(
          s"pk=${pk.mkString(",")}\npartition=${partitionCols.mkString(",")}"
            .getBytes("UTF-8"))
        finally o.close()
        if (!fs.rename(tmp, metaFile)) fs.delete(tmp, false)
      }
    } catch { case _: Exception => () }

  /** The (pk, partitionCols) this table's storage was committed with, if
    * the layout sidecar exists (tables written before it was introduced
    * have none). The verification hook for attach-time declarations.
    */
  def recordedLayout: Option[(Seq[String], Seq[String])] =
    if (!fs.exists(metaFile)) None
    else {
      val in = fs.open(metaFile)
      val txt = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
      val m = txt.linesIterator.map(_.split("=", 2)).collect {
        case Array(k, v) => k -> v.split(",").toSeq.filter(_.nonEmpty)
      }.toMap
      Some((m.getOrElse("pk", Seq.empty), m.getOrElse("partition", Seq.empty)))
    }

  /** Write the replayed [[Snapshot]] at `v` to `vNNNNN.checkpoint` so
    * later replays open O(interval) log files. Written temp-then-rename so
    * a concurrent reader never sees a torn checkpoint (local rename is an
    * atomic replace; on HDFS the delete+rename gap just means the reader
    * falls back to pure log replay — see [[snapshotAt]]). A failed
    * checkpoint write must NOT fail the commit that already landed — the
    * log alone is still a complete record.
    */
  private def writeCheckpoint(v: Int): Unit =
    try {
      val content = snapshotAt(v).checkpointLines.mkString("\n")
      val dest = new Path(logDir, s"${vname(v)}.checkpoint")
      val tmp = new Path(logDir, s".tmpcp_${java.util.UUID.randomUUID().toString.take(8)}")
      val o = fs.create(tmp, true)
      try o.write(content.getBytes("UTF-8")) finally o.close()
      if (isLocalFs) {
        java.nio.file.Files.move(
          java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath),
          java.nio.file.Paths.get(fs.makeQualified(dest).toUri.getPath),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        // the NIO move bypasses Hadoop's ChecksumFileSystem, which created
        // a .<name>.crc sidecar alongside tmp at fs.create time — with the
        // raw file moved away, fs.delete(tmp) would no-op on the missing
        // data file and leave the sidecar, so delete it by name (one
        // orphan accumulated per checkpoint otherwise)
        fs.delete(new Path(tmp.getParent, s".${tmp.getName}.crc"), false)
      } else {
        fs.delete(dest, false)
        if (!fs.rename(tmp, dest)) {
          fs.delete(tmp, false)
          sys.error(s"cannot rename checkpoint into $dest")
        }
      }
    } catch { case e: Exception =>
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"checkpoint write for version $v failed (commit is unaffected): ${e.getMessage}")
    }

  /** Full replace as a new version (old versions stay readable). An
    * overwrite removes EVERY live dir, so it conflicts with every
    * concurrent commit — a lost race fails fast (no safe auto-retry).
    * `txn` = (appId, version) makes the write idempotent: a replay of an
    * already-committed transaction no-ops (Delta's txnAppId/txnVersion).
    */
  def overwrite(dfIn: DataFrame, txn: Option[(String, Long)] = None): Unit =
    overwrite(dfIn, txn, Nil)

  private[lake] def overwrite(dfIn: DataFrame, txn: Option[(String, Long)],
                              ledger: Seq[String]): Unit =
    overwrite(dfIn, txn, ledger, identityApplied = false,
      skipDefaults = false)

  private[lake] def overwrite(dfIn: DataFrame, txn: Option[(String, Long)],
                              ledger: Seq[String],
                              identityApplied: Boolean,
                              // REPLACE TABLE: its batch is the declared
                              // schema VERBATIM — filling committed
                              // defaults would re-inject columns the
                              // replace just dropped (the retire lines
                              // ride this very commit, invisible to the
                              // pre-commit fill)
                              skipDefaults: Boolean): Unit = {
    if (txnAlreadyApplied(txn)) return
    // identity BEFORE generated: a generated expression may reference the
    // identity column (e.g. a derived bucket), so derivation must see the
    // assigned ids
    val prepared0 = if (identityApplied) dfIn else applyIdentity(dfIn)
    val df = applyGenerated(
      if (skipDefaults) prepared0 else applyDefaults(prepared0))
    enforceConstraints(df, ledger)
    val next = currentVersion + 1
    val (root, adds) = stage(df, next)
    commitStaged("overwrite", next, adds, snapshotAt(next - 1).liveDirs, Some(root),
      df.schema.json, statsLines(root, adds) ++ identityWmLines(root) ++
        txnLines(txn) ++ ledger, txn = txn)
  }

  /** `incoming` conformed to the recorded schema `sch` for a writer that
    * cannot evolve it: a column outside `sch` is refused, a present one is
    * cast to its recorded type, an omitted one is null-filled, in `sch`'s
    * column order.
    */
  private def conformed(incoming: DataFrame, sch: StructType, op: String): DataFrame = {
    val extraCols = incoming.columns
      .filterNot(c => sch.fieldNames.exists(_.equalsIgnoreCase(c)))
    require(extraCols.isEmpty,
      s"$op columns not in the table schema: ${extraCols.mkString(",")}")
    incoming.select(sch.fields.toSeq.map { f =>
      if (incoming.columns.exists(_.equalsIgnoreCase(f.name)))
        col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Partition-scoped overwrite (Spark's dynamic partition-overwrite,
    * Delta's partition replaceWhere): atomically replace EXACTLY the
    * partitions present in `dfIn`, leaving every other partition's dirs
    * live — `INSERT OVERWRITE t PARTITION (p='v')`'s contract, where a
    * full [[overwrite]] would silently wipe the rest of the table. The
    * removes list is derived from the staged leaves' partition paths (the
    * same newParts trick as [[merge]]), so no partition value is ever
    * rendered back into a path by hand. Replaced partitions drop their
    * tombstones in replay (full replacement — the suppressed rows die
    * with the superseded dirs). Columns align to the table schema as in
    * [[append]]. Concurrency: optimistic retry when every winner touched
    * only OTHER partitions; overlapping, metadata-changing, or
    * schema-changing winners fail fast ([[commitStaged]]).
    */
  def overwritePartitions(dfIn: DataFrame, txn: Option[(String, Long)] = None): Unit =
    overwritePartitions(dfIn, txn, Seq.empty)

  /** As [[overwritePartitions]], but with an explicit static partition
    * spec (`INSERT OVERWRITE t PARTITION (p='v')`): every live partition
    * matching the spec PREFIX is replaced even when the batch stages no
    * rows under it — an empty source CLEARS the spec'd partition, and a
    * partial prefix spec (p1='v' with p2 dynamic) clears everything under
    * that prefix, Spark's static partition-overwrite contract. Seeding
    * the replaced set from the staged data alone would silently retain a
    * partition the statement named for replacement.
    */
  def overwritePartitions(dfIn: DataFrame, txn: Option[(String, Long)],
                          staticSpec: Seq[(String, String)]): Unit = {
    if (txnAlreadyApplied(txn)) return
    require(partitionCols.nonEmpty,
      "overwritePartitions needs a partitioned table — use overwrite")
    staticSpec.zip(partitionCols).foreach { case ((k, _), pc) =>
      require(k.equalsIgnoreCase(pc),
        s"static partition spec must be a prefix of the partition columns " +
          s"(${partitionCols.mkString(",")}); got '$k' where '$pc' expected")
    }
    require(staticSpec.length <= partitionCols.length,
      s"static partition spec names ${staticSpec.length} column(s) but the " +
        s"table partitions by only ${partitionCols.length}")
    if (!exists) { overwrite(dfIn, txn); return }
    val sch = tableSchema
    val df = conformed(applyGenerated(applyDefaults(applyIdentity(dfIn))), sch,
      "overwritePartitions")
    enforceConstraints(df)
    val next = currentVersion + 1
    // the DV-aware read frame is only needed for the CDF pre-image; its
    // construction is a per-dir footer/listing pass on the driver — don't
    // pay it on recordCdf=false tables (the committed schema is `sch`
    // verbatim: the batch was aligned to it and this op never evolves it)
    lazy val current = read
    val (root, adds) = stage(df, next)
    val newParts = adds.map(partOf).toSet
    // a dir whose partition-path PREFIX renders the spec's values is
    // doomed by the spec itself, staged replacement or not
    def specMatches(dir: String): Boolean = staticSpec.nonEmpty && {
      val segs = partOf(dir).split("/")
      staticSpec.length <= segs.length && staticSpec.zip(segs).forall {
        case ((k, v), seg) => seg.split("=", 2) match {
          case Array(dk, dv) =>
            dk.equalsIgnoreCase(physicalOf(k)) && unescapePathName(dv) == v
          case _ => false
        }
      }
    }
    val removes = snapshotAt(next - 1).liveDirs
      .filter(d => newParts.contains(partOf(d)) || specMatches(d))
    val cdfStaged: Option[Path] =
      if (recordCdf) {
        assertCdfNamesFree(df.columns.toSeq)
        val touched = Interpreted(df.select(partitionCols.map(col): _*).distinct())(_.collect())
        // the delete pre-image covers spec-cleared partitions too, even
        // when the batch stages nothing under them
        val specPred = staticSpec.map { case (k, v) =>
          col(k) <=> lit(v).cast(tableSchema(
            tableSchema.fieldNames.find(_.equalsIgnoreCase(k)).getOrElse(k)
          ).dataType)
        }.reduceOption(_ && _).getOrElse(lit(false))
        val pre = current.filter(partitionPredicate(touched) || specPred)
          .withColumn("change_type", lit("delete"))
        Some(stageChanges(
          pre.unionByName(df.withColumn("change_type", lit("insert"))), next))
      } else None
    // action "replace": the tombstone replay's generic case then clears
    // EXACTLY the replaced partitions' tombstones (an "overwrite" action
    // would reset every partition's; "insert" would preserve them).
    // Optimistic retry on disjoint-partition winners, as merge/append.
    commitStaged("replace", next, adds, removes, Some(root), sch.json,
      statsLines(root, adds) ++ identityWmLines(root) ++ txnLines(txn),
      txn = txn, cdfStaged = cdfStaged, maxAttempts = 5,
      ourParts = (adds ++ removes).map(partOf).toSet)
  }

  /** Predicate-scoped atomic overwrite (Delta's GENERAL replaceWhere —
    * the backfill primitive): delete every row matching `cond` AND
    * insert `dfIn`, as ONE commit. Every batch row must satisfy `cond`
    * (Delta's contract — a backfill cannot smuggle rows outside its
    * declared range), and a batch key equal to a key that SURVIVES the
    * predicate is refused (it would silently duplicate; that shape is a
    * merge). Partitioned tables restage ONLY the partitions that lose
    * matching rows or gain batch rows — at 100 TB a date-range backfill
    * touches that range's partitions, never the table; unpartitioned
    * tables restage the survivor set, as [[delete]]. Like delete, a lost
    * commit race fails fast: a concurrent commit may have added matching
    * rows, so no retry is sound without re-scanning.
    *
    * `txn` is the idempotency gate merge/append carry (Delta's
    * txnAppId/txnVersion): a replayed batch — a restarted stream
    * re-running foreachBatch — no-ops instead of double-applying.
    */
  def replaceWhere(cond: Column, dfIn: DataFrame,
                   txn: Option[(String, Long)] = None): Unit = {
    if (txnAlreadyApplied(txn)) return
    require(exists, "replaceWhere on a table with no commits — use overwrite")
    require(pk.nonEmpty, "replaceWhere needs primary-key columns")
    val next = currentVersion + 1
    val current = read
    val updates = conformed(applyGenerated(applyDefaults(applyIdentity(dfIn))),
      tableSchema, "replaceWhere")
    enforceConstraints(updates)
    // predicate-containment, null-PK, and duplicate-PK checks folded into
    // ONE aggregate job over the batch (they were three separate actions —
    // part of the per-commit constant): group by PK once, then net the
    // three violation counts in a single second-level agg
    val pkNull = pk.map(col(_).isNull).reduce(_ || _)
    val chk = Interpreted(updates.groupBy(pk.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        sum(when(!coalesce(cond, lit(false)), 1L).otherwise(0L)).as("__outside"))
      .agg(
        coalesce(sum(col("__outside")), lit(0L)),
        coalesce(sum(when(pkNull, col("__n"))), lit(0L)),
        coalesce(sum(when(!pkNull && col("__n") > 1, col("__n"))), lit(0L))))(_.head())
    require(chk.getLong(0) == 0,
      "replaceWhere batch rows must ALL satisfy the replace predicate — " +
        "rows outside it belong in an append or merge")
    require(chk.getLong(1) == 0,
      "replaceWhere rows must carry non-null primary keys")
    require(chk.getLong(2) == 0,
      "replaceWhere batch repeats a primary key — keys must stay unique")
    val survives = !coalesce(cond, lit(false))
    require(Interpreted(current.filter(survives)
        .join(updates.select(pk.map(col): _*), pk, "left_semi"))(_.isEmpty),
      "replaceWhere would duplicate a primary key that survives the " +
        "predicate — use merge to upsert")
    val live = snapshotAt(next - 1).liveDirs
    val (root, adds, removes) =
      if (partitionCols.isEmpty) {
        val (r, a) = stage(current.filter(survives)
          .unionByName(updates, allowMissingColumns = true), next)
        (r, a, live)
      } else {
        val doomedVals = Interpreted(current.filter(cond)
          .select(partitionCols.map(col): _*).distinct())(_.collect())
        val batchVals = Interpreted(updates
          .select(partitionCols.map(col): _*).distinct())(_.collect())
        val touchedVals = (doomedVals ++ batchVals).distinct
        val staged = current.filter(partitionPredicate(touchedVals))
          .filter(survives)
          .unionByName(updates, allowMissingColumns = true)
        val (r, a) = stage(staged, next)
        val newParts = a.map(partOf).toSet
        // removes = every live dir in a touched partition; deriving from
        // the staged leaves alone would miss a partition whose EVERY row
        // matched (nothing restaged under it — it must still die)
        val doomedDirs = matchingDirs(cond).map(partOf).toSet
        (r, a, live.filter(d =>
          newParts.contains(partOf(d)) || doomedDirs.contains(partOf(d))))
      }
    val cdfStaged: Option[Path] =
      if (recordCdf) {
        assertCdfNamesFree(updates.columns.toSeq)
        Some(stageChanges(
          deleteChanges(current.filter(cond))
            .unionByName(updates.withColumn("change_type", lit("insert"))),
          next))
      } else None
    // action "replace": tombstone replay clears exactly the restaged
    // partitions' tombstones, as overwritePartitions
    commitStaged("replace", next, adds, removes, Some(root), recordedSchemaJson(next - 1),
      statsLines(root, adds) ++ identityWmLines(root) ++ txnLines(txn),
      "replaceWhere", txn, cdfStaged)
  }

  /** INSERT-INTO semantics: append `dfIn` as a new version WITHOUT
    * touching existing rows — adds only, no removes, so untouched dirs
    * stay live and the commit is O(batch). Unlike Delta's blind append,
    * primary keys stay unique: the merge/changeFeed algebra assumes it,
    * so an incoming key that repeats (within the batch, or against live
    * rows) is refused; use [[merge]] to upsert. The collision scan is
    * partition-pruned only when the partition columns are a subset of
    * the PK (equal keys then imply equal partitions); otherwise the
    * whole table is scanned — pruning there would admit a duplicate key
    * under a different partition value. Omitted columns null-fill (as
    * merge's unionByName); extra columns are refused (append cannot
    * evolve the schema). Creates the table when absent. `txn` gives
    * replayed batches (a streaming sink's retried addBatch) idempotency,
    * as [[merge]]. Concurrency: optimistic retry when every winner
    * touched only OTHER partitions; on unaligned tables (partition not
    * determined by the PK) the retry first re-runs the collision check
    * against the winners' added dirs — a disjoint-partition winner could
    * have landed this key under another partition value. Overlapping,
    * metadata-changing, or schema-changing winners roll the staging back
    * and fail fast ([[commitStaged]]).
    */
  def append(dfIn: DataFrame, txn: Option[(String, Long)] = None): Unit =
    append(dfIn, txn, Nil)

  private[lake] def append(dfIn0: DataFrame, txn: Option[(String, Long)],
                           ledger: Seq[String]): Unit = {
    if (txnAlreadyApplied(txn)) return
    require(pk.nonEmpty, "append needs primary-key columns")
    // identity first: the pk checks below must see assigned ids when the
    // identity column IS the primary key
    val dfIn = applyIdentity(dfIn0)
    if (!exists) {
      // the uniqueness/non-null contract holds from the FIRST batch too —
      // validate before delegating to overwrite (which checks neither)
      pk.foreach(k => require(dfIn.columns.exists(_.equalsIgnoreCase(k)),
        s"append batch must carry primary-key column '$k'"))
      requireUniqueKeys(dfIn)
      overwrite(dfIn, txn, ledger, identityApplied = true,
        skipDefaults = false)
      return
    }
    val sch = tableSchema
    val updates = conformed(applyGenerated(applyDefaults(dfIn)), sch, "append")
    enforceConstraints(updates)
    Phases.timed(s"append-shape $path")(requireUniqueKeys(updates))
    val next = currentVersion + 1
    val (root, adds) = stage(updates, next)
    val lines = statsLines(root, adds)
    // the collision check is against the RAW frame, NOT the DV-aware
    // read: a key hidden by a live tombstone still occupies its dir, and
    // since append preserves tombstones (it never restages), the
    // (partition+pk)-keyed anti-join would suppress the new row too — the
    // append must be refused, not silently swallowed. merge restages and
    // clears the tombstone, so it remains the upsert path.
    //
    // Dir pruning by pk skipping stats (recorded at write time for every
    // pk column on every table — see statsPkExtra), the staged dirs' own
    // from the footer pass above: a colliding key lies inside both its
    // live dir's and its staged dir's [min, max] on every pk column, so
    // dropping live dirs whose ranges meet no staged dir's is EXACT, never
    // a missed collision. It also keeps only the batch's own partitions
    // when the partition columns are pk columns (their per-dir range is
    // the partition value). A dir without pk stats is kept, and every dir
    // is when a staged dir has none. Monotone-id ingest — the common
    // production append — then scans ZERO dirs here instead of the table.
    val liveAll = snapshotAt(next - 1).liveDirs
    val pkTypes = pk.map { c =>
      val f = sch.fields.find(_.name.equalsIgnoreCase(c)).get
      physicalOf(f.name) -> f.dataType
    }
    val footerStats = LogEntry.parse(lines).stats
    val stagedStats = adds.filterNot(_.startsWith(ExtPrefix))
      .map(footerStats.getOrElse(_, Map.empty[String, (String, String)]))
    def meets(a: Map[String, (String, String)], b: Map[String, (String, String)]): Boolean =
      pkTypes.forall { case (p, dt) =>
        (a.get(p), b.get(p)) match {
          case (Some((al, ah)), Some((bl, bh))) =>
            statsOrder(dt, dt, Seq(al, ah, bl, bh)).forall(ord =>
              scala.util.Try(ord(al, bh) <= 0 && ord(bl, ah) <= 0).getOrElse(true))
          case _ => true
        }
      }
    val liveForCollide =
      if (stagedStats.exists(st => pkTypes.exists(pt => !st.contains(pt._1)))) liveAll
      else liveAll.filter(d => stagedStats.exists(meets(statsFor(d, next - 1), _)))
    try Phases.timed(s"append-collide $path dirs=${liveForCollide.size}/${liveAll.size}") {
      if (liveForCollide.nonEmpty)
        require(Interpreted(frameFor(next - 1, liveForCollide)
            .join(updates.select(pk.map(col): _*), pk, "left_semi"))(_.isEmpty),
          "append would duplicate a primary key already present in the table " +
            "(possibly tombstoned) — use merge to upsert")
    } catch { case e: Throwable => fs.delete(root, true); throw e }
    val cdfStaged: Option[Path] =
      if (recordCdf) {
        assertCdfNamesFree(updates.columns.toSeq)
        Some(stageChanges(updates.withColumn("change_type", lit("insert")), next))
      } else None
    // optimistic retry on disjoint-partition winners (a concurrent sink
    // fleet appending to different partitions must not serialize). Under
    // PK→partition alignment the staging AND collision check stay valid
    // verbatim (a colliding key would share a partition and conflict);
    // when unaligned, a disjoint-partition winner COULD have inserted
    // this key under another partition value — so the retry re-runs the
    // collision check against the winners' ADDED dirs (bounded by their
    // batch, not a table scan) before re-committing.
    val pkAligned = partitionCols.nonEmpty &&
      partitionCols.forall(pc => pk.exists(_.equalsIgnoreCase(pc)))
    val batchKeys = updates.select(pk.map(col): _*)
    // the committed schema is the TABLE's schema verbatim — `updates` was
    // aligned to it above and append never evolves the schema, so it is
    // rendered from the log, not from a DV-aware `read` frame (whose
    // per-root file listing would only re-derive the same json)
    commitStaged("insert", next, adds, Seq.empty, Some(root), sch.json,
      lines ++ identityWmLines(root) ++ txnLines(txn) ++ ledger,
      txn = txn, cdfStaged = cdfStaged, maxAttempts = 5,
      ourParts = adds.map(partOf).toSet,
      retrySafe = (winTop, winnerAdds) =>
        pkAligned || partitionCols.isEmpty || winnerAdds.isEmpty ||
          Interpreted(frameFor(winTop, winnerAdds).join(batchKeys, pk, "left_semi"))(_.isEmpty))
  }

  /** Refuse `batch` for an append when a primary key is NULL or repeats:
    * one aggregation over the batch's keys, filtered to the offending
    * groups and cut to one — a single shuffle answers both verdicts.
    * groupBy treats NULL keys as one group, so a NULL-key group sorts
    * first: a doubled NULL key is a NULL-key error, not a duplicate.
    */
  private def requireUniqueKeys(batch: DataFrame): Unit = {
    val anyNullPk = pk.map(col(_).isNull).reduce(_ || _)
    val bad = Interpreted(batch.groupBy(pk.map(col): _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1 || anyNullPk).orderBy(anyNullPk.desc).limit(1))(_.collect())
      .headOption
    require(!bad.exists(r => pk.indices.exists(r.isNullAt)),
      "append rows must carry non-null primary keys")
    require(bad.isEmpty,
      "append batch repeats a primary key — keys must stay unique; use merge to upsert")
  }

  /** Idempotent file-level ingest (Databricks/Delta COPY INTO): list the
    * source files, subtract the ones a previous copy already loaded (the
    * replayed `copied=` ledger — names only, O(files ever copied)), read
    * ONLY the fresh ones, and [[append]] them with the ledger lines in
    * the SAME commit — a crash can never mark a file loaded without its
    * rows, or land rows without marking the file. Re-running the same
    * statement is a no-op; dropping new files in the directory loads
    * exactly the delta. Returns the number of files loaded.
    *
    * `pattern` is a Hadoop glob over file names (`*.parquet`,
    * `part-[0-9]*.csv`); `files` (Databricks `FILES = (…)`) is an
    * EXPLICIT list of names resolved against `sourceDir` instead — the
    * two are mutually exclusive, and a named file that does not exist
    * refuses (an explicit manifest with a gap is an operator error, not
    * a skip). Explicitly named files bypass the hidden-file (`_`/`.`)
    * filter the glob applies: naming one is deliberate. CSV reads with
    * the TABLE's schema (columns bind by position); `header` (Databricks
    * `FORMAT_OPTIONS('header'=…)`) says whether a header line is skipped
    * first — default FALSE, matching Databricks COPY INTO (a headerless
    * CSV ingested without FORMAT_OPTIONS keeps its first row). Parquet
    * carries its own schema and [[append]] aligns it. `schemaHint`
    * serves the first copy into a created-but-empty table, where no
    * committed schema exists yet.
    *
    * `force` (Databricks `COPY_OPTIONS('force'='true')`) bypasses the
    * ledger SUBTRACTION — every matching file loads regardless of copy
    * history — while still RECORDING the files, so a later un-forced copy
    * stays idempotent. The escape hatch after RESTORE to a pre-copy
    * version (the ledger deliberately survives restore): the restored-away
    * rows can be re-ingested. The PK-uniqueness check in [[append]] still
    * applies — force-loading files whose keys are PRESENT is refused, so
    * force cannot silently double rows.
    */
  def copyFrom(sourceDir: String, format: String = "parquet",
               pattern: Option[String] = None,
               schemaHint: Option[StructType] = None,
               header: Boolean = false, force: Boolean = false,
               files: Option[Seq[String]] = None): Int = {
    require(pk.nonEmpty, "copyFrom needs primary-key columns")
    require(pattern.isEmpty || files.isEmpty,
      "copyFrom takes PATTERN or FILES, not both")
    val fmt = format.toLowerCase
    require(fmt == "parquet" || fmt == "csv",
      s"copyFrom supports FILEFORMAT parquet|csv; got '$format'")
    val dir = new Path(sourceDir)
    require(fs.exists(dir) && fs.getFileStatus(dir).isDirectory,
      s"copyFrom source '$sourceDir' is not a directory")
    val all = files match {
      case Some(names) =>
        require(names.nonEmpty, "copyFrom FILES names no files")
        names.distinct.map { n =>
          val p = new Path(dir, n)
          require(fs.exists(p) && fs.getFileStatus(p).isFile,
            s"copyFrom FILES names a missing file: '$n' under '$sourceDir'")
          fs.makeQualified(p).toUri.getPath
        }.sorted
      case None =>
        val glob = new Path(dir, pattern.getOrElse("*"))
        fs.globStatus(glob).toSeq
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
          .map(st => fs.makeQualified(st.getPath).toUri.getPath)
          .sorted
    }
    val fresh =
      if (force) all else all.filterNot(snapshotAt(currentVersion).copiedFiles)
    if (fresh.isEmpty) return 0
    val df = fmt match {
      case "parquet" => spark.read.parquet(fresh: _*)
      case "csv" =>
        val sch = (if (exists) Some(tableSchema) else schemaHint).getOrElse(
          sys.error("copyFrom CSV into a table with no commits needs a schema " +
            "— write a first batch, or pass schemaHint"))
        spark.read.option("header", header.toString).schema(sch).csv(fresh: _*)
    }
    append(df, None, fresh.map(f => s"copied=${enc(f)}"))
    fresh.length
  }

  /** Upsert on PK equality (target anti-join updates, ∪ updates);
    * creates the table if absent. Only the partitions TOUCHED by the batch
    * are read (static partition predicates) and restaged; untouched dirs
    * stay live from their original version.
    *
    * Concurrency: Delta-style OPTIMISTIC retry. A lost commit race
    * re-reads the winning entries; when every winner touched only
    * partitions DISJOINT from this merge's, the staged data is still valid
    * verbatim (its inputs — the touched partitions — are untouched by the
    * winners), so the SAME staging re-commits at the next version: no
    * restage, no re-read. On true partition overlap (or any race on an
    * unpartitioned table, where every commit conflicts) it rolls back and
    * fails, exactly Delta's concurrent-modification semantics.
    */
  def merge(updatesIn: DataFrame, maxAttempts: Int = 5,
            txn: Option[(String, Long)] = None): Unit = {
    require(pk.nonEmpty,
      "merge needs primary-key columns (an empty-key anti-join would be a cross join)")
    // idempotency gate (Delta's txnAppId/txnVersion): a replayed batch —
    // a restarted stream re-running foreachBatch, a retried job — no-ops
    // instead of double-applying
    if (txnAlreadyApplied(txn)) return
    if (!exists) { overwrite(updatesIn, txn); return }
    // derive omitted generated columns FIRST: the partition-touched set and
    // the merge algebra both need them present on the batch. PERSIST the
    // derived batch: its plan (often an expensive upstream — a MinHash
    // banding, an IVF assignment crossJoin) otherwise re-executes for the
    // touched-set collect, the migration probe, the restage scan and the
    // change-image join — measured ~2 s/commit on q214's assignment-fed
    // merges at sf0.1. Bounded by the batch, never the table.
    // A caller may have persisted the batch itself — persisting the same
    // plan again is a no-op, but OUR finally-unpersist would then evict
    // the caller's cache out from under it, so ownership is checked first
    val updates0raw = mergeTyped(applyGenerated(updatesIn))
    val ownCache = updates0raw.storageLevel == StorageLevel.NONE
    val updates0 =
      if (ownCache) updates0raw.persist(StorageLevel.MEMORY_AND_DISK) else updates0raw
    try {
    val next = currentVersion + 1
    val current = read
    // the touched-partition set drives both the restage and (when change
    // recording is on) the change-image join (identity columns cannot be
    // partition columns, so deriving it BEFORE identity assignment is
    // sound)
    val groups = Phases.timed(s"touched-set $path") {
      if (partitionCols.isEmpty) Array.empty[Row]
      else touchedGroups(updates0)
    }
    val touched = groups.map(partitionTuple)
    // partition MIGRATION: a matched pk whose current row lives in a
    // partition the batch's new values don't name would survive the
    // anti-join and duplicate the key — pull those partitions in too
    val migrated = migratedPartitions(next - 1, updates0, groups)
    val touchedAll = touched ++ migrated
    val curT =
      if (partitionCols.isEmpty) current
      else current.filter(partitionPredicate(touchedAll))
    // a source omitting an identity column keeps the TARGET's id on
    // matched keys (merge replaces matched rows wholesale) and allocates
    // for genuinely-new keys; constraints then see the final ids
    val updates = applyIdentityMerge(updates0, curT)
    enforceConstraints(updates)
    val (root, adds, removes, schemaJson) = {
      val merged = curT.join(updates.select(pk.map(col): _*), pk, "left_anti")
        .unionByName(updates, allowMissingColumns = true)
      // the recorded schema stays, byte for byte, unless the batch brings a
      // new column or a wider type: then the merged frame's is the new one
      val schemaJson =
        if (schemaAt(next - 1).exists(DataTypeUtils.sameType(_, merged.schema)))
          recordedSchemaJson(next - 1)
        else merged.schema.json
      val (r, a) = stage(merged, next)
      if (partitionCols.isEmpty) (r, a, snapshotAt(next - 1).liveDirs, schemaJson)
      else {
        // a live dir is superseded iff its partition path matches a restaged
        // leaf's. Migration source partitions can restage EMPTY (their only
        // rows moved away) — no leaf names them, so their doomed dirs are
        // resolved file-accurately instead (matchingDirs, no path
        // re-rendering), bounded by the migrated partitions.
        val newParts = a.map(partOf).toSet
        val migratedDoomed =
          if (migrated.isEmpty) Set.empty[String]
          else matchingDirs(partitionPredicate(migrated))
        (r, a,
          (snapshotAt(next - 1).liveDirs.filter(d => newParts.contains(partOf(d))) ++
            migratedDoomed).distinct,
          schemaJson)
      }
    }
    val cdfStaged: Option[Path] = Phases.timed(s"cdf-stage $path") {
      if (recordCdf) Some(stageChanges(mergeChanges(curT, updates), next)) else None
    }
    commitStaged("merge", next, adds, removes, Some(root), schemaJson,
      statsLines(root, adds) ++ identityWmLines(root) ++ txnLines(txn),
      txn = txn, cdfStaged = cdfStaged, maxAttempts = maxAttempts,
      ourParts = (adds ++ removes).map(partOf).toSet)
    } finally if (ownCache) updates0.unpersist(false)
  }

  /** `batch` with each column the merge could not record under its
    * union type cast to its recorded type. Every version reads all its
    * files under one schema ([[frameFor]]), so the merge may only record a
    * type the table's files can be read under ([[readableAs]]): a widening
    * or added struct fields evolve the schema; int + string or decimal +
    * double would record a type the old files cannot be read as, so the
    * batch value is stored as the recorded type instead, and refused when
    * that type cannot hold it ([[assignCast]]).
    */
  private def mergeTyped(batch: DataFrame): DataFrame = {
    val rec = tableSchema
    val union = spark.createDataFrame(java.util.Collections.emptyList[Row](), rec)
      .unionByName(batch, allowMissingColumns = true).schema
    val recast = rec.fields.filterNot(f => readableAs(f.dataType, union(f.name).dataType))
      .map(f => f.name.toLowerCase -> f.dataType).toMap
    if (recast.isEmpty) batch
    else batch.select(batch.schema.fields.toSeq.map(b => recast.get(b.name.toLowerCase)
      .fold(col(b.name))(dt => assignCast(col(b.name), b.dataType, dt, b.name).as(b.name))): _*)
  }

  /** Can files written under `from` be read under `to`? The same type, a
    * [[widensTo]] upcast, or a struct whose fields are each readable and
    * that may add fields (a file lacking one reads it as NULL).
    */
  private def readableAs(from: DataType, to: DataType): Boolean = (from, to) match {
    case (f: StructType, t: StructType) => f.fields.forall(ff => t.fields.exists(tf =>
      tf.name.equalsIgnoreCase(ff.name) && readableAs(ff.dataType, tf.dataType)))
    case _ => DataTypeUtils.sameType(from, to) || widensTo(from, to)
  }

  /** The one commit path: every writer claims its version here, through
    * its claim step [[commit]]. `staged` is the writer's staging root (None
    * for metadata-only commits, restore, fsck, clone and convert) and
    * `cdfStaged` its recorded-change files; both are removed unless the
    * commit lands. On a lost race, a winner that already applied this
    * `txn` makes the write a durable replay: roll back, return quietly.
    * Otherwise the writer's retry policy decides:
    *
    *  - `maxAttempts = 1` fails fast: overwrite, replaceWhere, delete,
    *    deleteMor, update, compact, compactWhere, zorderBy, reorgPurge and
    *    every unstaged commit. What they read (the rows a predicate
    *    matched, the dirs a rewrite repacks, the state a metadata change
    *    validated) may be invalidated by any winner; only a re-read is sound.
    *  - [[merge]], [[append]], [[overwritePartitions]] and
    *    [[executeMergeInto]] retry up to `maxAttempts`: when every winner
    *    touched only partitions DISJOINT from `ourParts`, their inputs are
    *    untouched, so the SAME staging re-commits at the next version.
    *    Overlap, an unpartitioned table, a metadata, schema or restore
    *    winner, or a false `retrySafe(winners' top version, their added
    *    dirs)` (append's PK check across partitions) rolls back and fails —
    *    Delta's concurrent-modification semantics.
    *
    * Every Spark plan a writer starts for itself on the way here — its
    * stage and change writes, repack count, the touched-set, verdict,
    * collision, migration and matching-dir scans, and its constraint,
    * generated-column, identity, bloom and stats scans — runs interpreted
    * in the caller's session twin ([[Interpreted]]): those plans inline the
    * commit's literals and overflow Spark's 100-class codegen cache, so a
    * warm daily drop recompiled 124–140 classes and now compiles 12–34
    * (median drop 4.66 → 3.57 s, perfbench, 4 vCPUs). Frames returned to
    * callers, a persisted batch's upstream plan and the whole-table
    * validation scans of metadata-only commits stay compiled.
    */
  private def commitStaged(action: String, first: Int, adds: Seq[String],
      removes: Seq[String], staged: Option[Path], schemaJson: String,
      lines: Seq[String], what: String = "",
      txn: Option[(String, Long)] = None,
      cdfStaged: Option[Path] = None, maxAttempts: Int = 1,
      ourParts: Set[String] = Set.empty,
      retrySafe: (Int, Seq[String]) => Boolean = (_, _) => true): Unit = {
    val op = if (what.isEmpty) action else what
    var next = first
    var attempt = 1
    def rollback(): Unit = {
      staged.foreach(fs.delete(_, true))
      cdfStaged.foreach(fs.delete(_, true))
    }
    def fail(why: String): Nothing = {
      rollback()
      sys.error(s"concurrent writer: version $next was committed by another " +
        s"writer$why; " + staged.fold(s"$op changed nothing")(_ =>
          s"this $op's staging has been rolled back") + " — retry on the new state")
    }
    // an I/O failure before the claim (disk full writing the temp log)
    // removes the staging and rethrows — no phantom version, no stranded data
    def claim(): Boolean =
      try commit(action, next, adds, removes, schemaJson,
        lines ++ cdfStaged.map(p => s"cdf=${p.getName}"))
      catch { case e: Throwable => rollback(); throw e }
    Phases.timed(s"commit-log $path v=$next attempts=$attempt") {
      var done = claim()
      while (!done) {
        val nowCurrent = currentVersion
        // a WINNER may have been another worker applying this same batch —
        // then our write is already durable and this replay must vanish
        val replayed = txnAlreadyApplied(txn)
        if (replayed) rollback()
        else {
          if (attempt >= maxAttempts)
            fail(if (maxAttempts > 1) s" and $maxAttempts attempts were exhausted" else "")
          val winners = (next to nowCurrent).map(readLog)
          // tombstone commits (delete_mor) carry their footprint in dvAdds —
          // adds/removes alone would make them invisible here, and re-committing
          // our staging (built from the pre-delete read) over a same-partition
          // tombstone would RESURRECT the concurrently deleted rows when our
          // adds kill the tombstone in replay. Metadata winners (constraints /
          // generated columns) conflict with everything: this batch was never
          // validated against the new rules, so it must restage.
          val winnerDirs = winners.flatMap(e => e.adds ++ e.removes ++ e.dvAdds)
          // restore conflicts unconditionally: its replay RESETS the tombstone
          // set (possibly to fewer tombstones than our staging assumed), and
          // its dir footprint alone cannot express that
          val metaConflict = winners.exists(e =>
            e.constraintsAdded.nonEmpty || e.constraintsDropped.nonEmpty ||
              e.gencolsAdded.nonEmpty || e.gencolsDropped.nonEmpty ||
              e.renames.nonEmpty || e.drops.nonEmpty || e.action == "restore" ||
              // property winners conflict conservatively: a property can be a
              // pipeline-behavior hint, and this batch was built before it
              e.propsSet.nonEmpty || e.propsUnset.nonEmpty ||
              // a winner that changed the SCHEMA (an evolving merge): blindly
              // re-committing our pre-race schemaJson at the new top version
              // would silently revert the evolution for every later reader
              e.schemaJson.exists(_ != schemaJson))
          if (partitionCols.isEmpty || metaConflict ||
              winnerDirs.exists(d => ourParts.contains(partOf(d))))
            fail(" touching overlapping partitions")
          if (!retrySafe(nowCurrent, winners.flatMap(_.adds)))
            fail(s" whose rows invalidate this $op's checks (e.g. a primary key " +
              "landed under another partition)")
          attempt += 1
          next = nowCurrent + 1
        }
        done = replayed || claim()
      }
    }
  }

  /** Conditional-clause MERGE (Delta's full builder surface): see
    * [[MergeIntoBuilder]]. `targetAlias`/`sourceAlias` name the two sides
    * inside clause conditions and assignment expressions.
    */
  def mergeInto(source: DataFrame, targetAlias: String = "t",
                sourceAlias: String = "s"): MergeIntoBuilder =
    new MergeIntoBuilder(this, source, targetAlias, sourceAlias)

  /** Execute a clause-list MERGE: one full-outer PK join of the source
    * against the touched partitions classifies every row as matched /
    * target-only / source-only; each class evaluates its clauses in
    * declaration order (first satisfied condition wins, Delta's rule) into
    * a per-column value and a keep flag, and the survivors restage — the
    * same partition-granular staging, constraint/generated-column
    * enforcement, change recording, and optimistic retry as [[merge]].
    *
    * Scale shape: without by-source clauses the join and restage touch
    * only the source's partitions; a by-source clause must examine every
    * target row, so it restages the table (Delta pays the same scan).
    * Partition columns are immutable on updates (partition-stable
    * contract, as [[update]]); matched rows keep the TARGET's partition
    * values under `updateAll`. Output schema = the target's schema.
    */
  private[lake] def executeMergeInto(sourceIn: DataFrame,
      tA: String, sA: String, clauses: Seq[MergeIntoBuilder.Clause],
      maxAttempts: Int = 5, evolveSchema: Boolean = false): Unit = {
    import MergeIntoBuilder._
    require(pk.nonEmpty, "mergeInto needs primary-key columns")
    require(exists, "mergeInto on a table with no commits — create with overwrite/merge")
    require(clauses.nonEmpty, "mergeInto needs at least one WHEN clause")
    val matchedCs = clauses.filter(_.kind.isInstanceOf[MatchedKind])
    val insertCs = clauses.filter(_.kind.isInstanceOf[NotMatchedKind])
    val bySourceCs = clauses.filter(_.kind.isInstanceOf[BySourceKind])
    // partition-stable contract: UPDATE clauses may not assign a partition
    // column (insert clauses must — new rows need partition values), and
    // no update may rewrite a primary key (that is a delete + insert)
    val badParts = (matchedCs ++ bySourceCs).flatMap(_.set.keys)
      .filter(k => partitionCols.exists(_.equalsIgnoreCase(k)))
    require(badParts.isEmpty,
      s"merge update clauses must not assign partition columns (${badParts.mkString(",")}): " +
        "partition-stable contract — use delete + insert to move rows")
    val badPk = (matchedCs ++ bySourceCs).flatMap(_.set.keys)
      .filter(k => pk.exists(_.equalsIgnoreCase(k)))
    require(badPk.isEmpty,
      s"merge update clauses must not assign primary-key columns (${badPk.mkString(",")})")
    refuseDerivedAssigned("merge clauses", clauses.flatMap(_.set.keys))
    val gs = snapshotAt(currentVersion).generatedCols
    val identSpecs = identityCols
    // the PK join and the insert default both need the source's keys — a
    // source without them would silently insert NULL keys (and could not
    // match anything)
    pk.foreach(k => require(sourceIn.columns.exists(_.equalsIgnoreCase(k)),
      s"merge source must carry primary-key column '$k'"))
    // persist the source for its several consumers (uniqueness check,
    // identity scoping, the clause join) — same rationale as [[merge]]'s
    // batch persist: an expensive source plan must execute once
    val ownSourceCache = sourceIn.storageLevel == StorageLevel.NONE
    val sourceP =
      if (ownSourceCache) sourceIn.persist(StorageLevel.MEMORY_AND_DISK) else sourceIn
    try {
    // duplicate source keys would fan a matched target row out into
    // several staged copies — Delta's MULTIPLE_MATCHES refusal
    require(Interpreted(sourceP.groupBy(pk.map(col): _*).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1))(_.isEmpty),
      "multiple source rows share a primary key — mergeInto requires " +
        "unique source keys; deduplicate the source first")

    val next = currentVersion + 1
    val current = read
    // identity columns absent from the source are prepared ONCE, before
    // clause algebra: matched keys carry the TARGET's id (updateAll then
    // writes the target's own id back), source-only keys allocate fresh.
    // The pk join is scoped to the source's partitions when they prune.
    val source =
      if (identSpecs.isEmpty) sourceP
      else {
        val scope =
          if (partitionCols.isEmpty || partitionCols.exists(pc =>
              !sourceP.columns.exists(_.equalsIgnoreCase(pc)))) current
          else current.filter(partitionPredicate(
            Interpreted(sourceP.select(partitionCols.map(col): _*).distinct())(_.collect())))
        applyIdentityMerge(sourceP, scope)
      }
    // a by-source clause must examine every target row; a source missing a
    // partition column cannot derive a sound touched set (its inserts
    // default that column to NULL, and no partition pruning of the target
    // is justified) — both restage the full table, as Delta does
    val hasBySource = bySourceCs.nonEmpty ||
      partitionCols.exists(pc => !source.columns.exists(_.equalsIgnoreCase(pc)))
    // WITH SCHEMA EVOLUTION: source-only columns JOIN the output schema
    // (pre-existing rows read them as NULL; the widened schema rides the
    // merge commit, so untouched dirs null-fill on later reads exactly
    // like a metadata ADD COLUMN). Without it they are simply ignored.
    val newCols: Seq[StructField] =
      if (!evolveSchema) Nil
      else source.schema.fields.toSeq.filterNot(f =>
        current.columns.exists(_.equalsIgnoreCase(f.name)))
    newCols.foreach { f =>
      // same retired-name rules as ALTER ADD COLUMN: a recycled physical
      // name would silently surface old on-disk data
      val cm = snapshotAt(currentVersion).colMap
      val retired = cm.collect {
        case (l, ph) if !l.equalsIgnoreCase(ph) => ph } ++ snapshotAt(currentVersion).dropped
      require(!retired.exists(_.equalsIgnoreCase(f.name)),
        s"schema evolution: '${f.name}' still names retired on-disk data")
    }
    val outCols = current.columns.toSeq ++ newCols.map(_.name)
    val outType = (current.schema.fields.map(f => f.name -> f.dataType) ++
      newCols.map(f => f.name -> f.dataType)).toMap
    // null-safe render of a partition tuple for set membership — used to
    // detect insert-clause rows escaping the source-derived touched set
    def partKey(r: Row): String =
      (0 until r.length).map(i => if (r.isNullAt(i)) "\u0001" else r.get(i).toString)
        .mkString("\u0002")
    def attempt(touched: Array[Row], widened: Boolean): Unit = {
    val curT =
      if (partitionCols.isEmpty || hasBySource) current
      else current.filter(partitionPredicate(touched))

    val tt = curT.withColumn("__t", lit(1)).as(tA)
    val ss = source.withColumn("__s", lit(1)).as(sA)
    val j = tt.join(ss,
      pk.map(k => col(s"$tA.$k") === col(s"$sA.$k")).reduce(_ && _), "full_outer")

    val isM = col(s"$tA.__t").isNotNull && col(s"$sA.__s").isNotNull
    val isT = col(s"$tA.__t").isNotNull && col(s"$sA.__s").isNull
    val isS = col(s"$tA.__t").isNull
    val newColLc = newCols.map(_.name.toLowerCase).toSet
    def tCol(cn: String) =
      if (newColLc.contains(cn.toLowerCase)) lit(null).cast(outType(cn))
      else col(s"$tA.$cn")
    def sHas(cn: String) = source.columns.exists(_.equalsIgnoreCase(cn))
    def sCol(cn: String) = if (sHas(cn)) col(s"$sA.$cn") else lit(null).cast(outType(cn))

    // first-satisfied-clause index (1-based; 0 = no clause applies)
    def idxOf(cs: Seq[Clause]): Column =
      cs.zipWithIndex.foldLeft(when(lit(false), 0)) { case (acc, (cl, i)) =>
        acc.when(cl.cond.getOrElse(lit(true)), i + 1)
      }.otherwise(0)
    val mIdx = idxOf(matchedCs)
    val nIdx = idxOf(insertCs)
    val bIdx = idxOf(bySourceCs)
    def deleteIdxs(cs: Seq[Clause]): Seq[Int] =
      cs.zipWithIndex.collect { case (cl, i) if cl.kind.isDelete => i + 1 }

    def assigned(cl: Clause, cn: String, dflt: Column): Column =
      cl.kind match {
        case MatchedUpdateAll | NotMatchedInsertAll =>
          // updateAll keeps the TARGET's partition values (partition-stable)
          if (cl.kind == MatchedUpdateAll && partitionCols.exists(_.equalsIgnoreCase(cn))) dflt
          else sCol(cn)
        case _ =>
          // cast before the clauses combine: a value the column type cannot
          // take by coercion (boolean into timestamp) would fail the CASE WHEN
          cl.set.find(_._1.equalsIgnoreCase(cn)).fold(dflt) { case (_, x) =>
            assignCast(x, j.select(x).schema.head.dataType, outType(cn), cn) }
      }
    def valueOf(cn: String): Column =
      if (pk.exists(_.equalsIgnoreCase(cn))) {
        // target rows keep their key (updates may not assign pk); insert
        // clauses may derive it explicitly, defaulting to the source column
        val ins = insertCs.zipWithIndex.foldLeft(when(lit(false), lit(null))) {
          case (acc, (cl, i)) =>
            acc.when(nIdx === (i + 1), assigned(cl, cn, sCol(cn)))
        }.otherwise(sCol(cn))
        when(isS, ins).otherwise(tCol(cn))
      }
      else {
        val tgt = matchedCs.zipWithIndex.foldLeft(when(lit(false), lit(null))) {
          case (acc, (cl, i)) =>
            acc.when(isM && mIdx === (i + 1), assigned(cl, cn, tCol(cn)))
        }
        val tgt2 = bySourceCs.zipWithIndex.foldLeft(tgt) { case (acc, (cl, i)) =>
          acc.when(isT && bIdx === (i + 1), assigned(cl, cn, tCol(cn)))
        }
        val full = insertCs.zipWithIndex.foldLeft(tgt2) { case (acc, (cl, i)) =>
          // unnamed columns default to NULL on explicit-list inserts —
          // except identity columns, whose prepared allocation stands
          acc.when(isS && nIdx === (i + 1),
            assigned(cl, cn,
              if (identSpecs.contains(cn.toLowerCase)) sCol(cn)
              else lit(null).cast(outType(cn))))
        }
        full.otherwise(tCol(cn))
      }
    val mDel = deleteIdxs(matchedCs)
    val bDel = deleteIdxs(bySourceCs)
    val keep =
      when(isS, nIdx > 0)
        .when(isM, if (mDel.isEmpty) lit(true) else !mIdx.isin(mDel: _*))
        .otherwise(if (bDel.isEmpty) lit(true) else !bIdx.isin(bDel: _*))
    val modified = (isM && mIdx > 0) || (isT && bIdx > 0) || (isS && nIdx > 0)

    val preStruct = struct(outCols.map(cn => tCol(cn).as(cn)): _*)
    // each value is cast to its output type once its own type is known
    val values = outCols.map(valueOf)
    val from = j.select(outCols.zip(values).map { case (cn, x) => x.as(cn) }: _*).schema
    val rawOut = j.select(outCols.zip(values).map { case (cn, x) =>
      assignCast(x, from(cn).dataType, outType(cn), cn).as(cn) } ++ Seq(
      keep.as("__keep"), modified.as("__mod"), isS.as("__ins"),
      preStruct.as("__pre")): _*)
    // generated columns ALWAYS re-derive on modified rows (update()'s rule)
    val outPlan = gs.toSeq.sortBy(_._1).foldLeft(rawOut) { case (d, (n, e)) =>
      if (!d.columns.contains(n)) d
      else d.withColumn(n, when(col("__mod"), expr(e)).otherwise(col(n)))
    }
    // the clause-evaluated join feeds up to four actions (partition-column
    // guard, constraint check, the restage write, change images) — persist
    // it so the join runs once, not once per action
    val out = outPlan.persist(StorageLevel.MEMORY_AND_DISK)
    try {
    // insert clauses can stage rows into partitions OUTSIDE the
    // source-derived touched set (an explicit partition assignment, or an
    // omitted partition column defaulting to NULL). A staged leaf in such a
    // partition would supersede its live dirs below while carrying only the
    // inserted rows — silently dropping the partition's pre-existing data.
    // When any escaped partition still holds visible rows, recompute with
    // the touched set widened to cover it: its rows then ride the join as
    // survivors (and PK-matching rows are matched, not duplicated).
    if (partitionCols.nonEmpty && !hasBySource && insertCs.nonEmpty) {
      val known = touched.map(partKey).toSet
      val escaped = Interpreted(out.filter(col("__keep") && col("__ins"))
        .select(partitionCols.map(col): _*).distinct())(_.collect())
        .filterNot(r => known.contains(partKey(r)))
      if (escaped.nonEmpty && matchingDirs(partitionPredicate(escaped)).nonEmpty) {
        if (widened) throw new IllegalStateException(
          "merge insert clauses keep staging rows into uncovered live " +
            "partitions across recomputation — non-deterministic partition " +
            "expressions are not supported")
        // the second pass's touched set carries the TARGET-typed escaped
        // tuples, so its escape scan compares identical renders and
        // converges; the enclosing finally unpersists this pass's join
        return attempt(touched ++ escaped, widened = true)
      }
    }
    // a generated PARTITION column must not move under re-derivation
    val partGen = gs.filter { case (n, _) => partitionCols.exists(_.equalsIgnoreCase(n)) }
    if (partGen.nonEmpty) {
      val names = partGen.keys.toSeq.sorted
      val aggs = names.map(n =>
        sum(when(!(col(n) <=> col(s"__pre.$n")) && !col("__ins"), 1L)
          .otherwise(0L)).as(n))
      val row = Interpreted(out.filter(col("__mod")).agg(aggs.head, aggs.tail: _*))(_.head())
      names.zipWithIndex.foreach { case (n, i) =>
        if (!row.isNullAt(i) && row.getLong(i) > 0)
          throw new IllegalArgumentException(
            s"merge would change generated partition column '$n' for " +
              s"${row.getLong(i)} row(s): partition-stable contract")
      }
    }
    // only the modified survivors can newly violate constraints
    enforceConstraints(out.filter(col("__mod") && col("__keep"))
      .select(outCols.map(col): _*))

    val staged = out.filter(col("__keep")).select(outCols.map(col): _*)
    val (root, adds) = stage(staged, next)
    val removes =
      if (partitionCols.isEmpty || hasBySource) snapshotAt(next - 1).liveDirs
      else {
        // every dir with visible rows in a touched partition is superseded
        // (file-accurate, DV-aware), plus dirs sharing a partition with the
        // staged leaves (inserts into previously-empty partitions)
        val doomed = matchingDirs(partitionPredicate(touched))
        val newParts = adds.map(partOf).toSet
        snapshotAt(next - 1).liveDirs.filter(d =>
          doomed.contains(d) || newParts.contains(partOf(d)))
      }
    val cdfStaged: Option[Path] =
      if (!recordCdf) None
      else {
        val upd = out.filter(col("__mod") && col("__keep") && !col("__ins"))
        val pre = upd.select(outCols.map(cn => col(s"__pre.$cn").as(cn)) :+
          lit("update_preimage").as("change_type"): _*)
        val post = upd.select(outCols.map(col) :+
          lit("update_postimage").as("change_type"): _*)
        val del = out.filter(!col("__keep") && !col("__ins"))
          .select(outCols.map(cn => col(s"__pre.$cn").as(cn)) :+
            lit("delete").as("change_type"): _*)
        val ins = out.filter(col("__ins") && col("__keep"))
          .select(outCols.map(col) :+ lit("insert").as("change_type"): _*)
        Some(stageChanges(pre.unionByName(post).unionByName(del).unionByName(ins), next))
      }
    val commitSchemaJson =
      if (newCols.isEmpty) recordedSchemaJson(next - 1)
      else StructType(current.schema.fields ++ newCols.map(_.copy(nullable = true))).json
    commitStaged("merge", next, adds, removes, Some(root), commitSchemaJson,
      statsLines(root, adds) ++ identityWmLines(root),
      cdfStaged = cdfStaged, maxAttempts = maxAttempts,
      ourParts = (adds ++ removes).map(partOf).toSet)
    } finally out.unpersist(false)
    }
    val groups0 =
      if (partitionCols.isEmpty || hasBySource) Array.empty[Row]
      else touchedGroups(source)
    // partition MIGRATION (as merge): a matched pk whose live row sits in a
    // partition the source doesn't name would fall out of curT and join as
    // SOURCE-ONLY — an insert clause would duplicate the key, a matched
    // clause would silently not fire. Widen the touched set by the
    // partitions holding one; no probe when the join is already table-wide
    val migrated0 =
      if (hasBySource) Array.empty[Row]
      else migratedPartitions(next - 1, source, groups0)
    attempt(groups0.map(partitionTuple) ++ migrated0, widened = false)
    } finally if (ownSourceCache) sourceP.unpersist(false)
  }

  /** Delete rows matching `cond` as a new version (Delta's DELETE).
    * Returns false (no commit) when nothing matches. Partitioned tables
    * restage ONLY the partitions holding matching rows — discovered
    * exactly via `input_file_name()` on the matching scan, so the removes
    * list never depends on rendering partition values back into paths —
    * and a partition whose every row matches simply drops out of the live
    * set (its staged side has no leaf). Unpartitioned tables restage the
    * full survivor set (a rewrite, as Delta's DELETE on unpartitioned
    * data). Like [[overwrite]], a lost commit race fails fast: a
    * concurrent commit may have added rows that match `cond`, so no
    * retry is sound without re-scanning.
    */
  def delete(cond: Column): Boolean = {
    require(exists, "delete on a table with no commits")
    val next = currentVersion + 1
    val current = read
    val doomed = matchingDirs(cond)
    if (doomed.isEmpty) return false
    // a row only matches when cond is TRUE; a NULL cond (e.g. a null value
    // under `price > 100`) is NOT a match and its row must SURVIVE — a bare
    // filter(!cond) would silently drop it (NULL is not true either way)
    val survives = !coalesce(cond, lit(false))
    val (root, adds, removes) =
      restageMatching(current, cond, doomed, next)(_.filter(survives))
    val cdfStaged: Option[Path] =
      if (recordCdf) Some(stageChanges(deleteChanges(current.filter(cond)), next))
      else None
    commitStaged("delete", next, adds, removes, Some(root), recordedSchemaJson(next - 1),
      statsLines(root, adds), cdfStaged = cdfStaged)
    true
  }

  /** Stage `rewrite` of the partitions of `current` that hold `doomed`
    * (the dirs with rows matching `cond`; the whole table when
    * unpartitioned) at `next`. Returns the staging root, its added dirs and
    * the live dirs they supersede: every one sharing a partition path with
    * a doomed dir.
    */
  private def restageMatching(current: DataFrame, cond: Column, doomed: Set[String],
      next: Int)(rewrite: DataFrame => DataFrame): (Path, Seq[String], Seq[String]) = {
    val live = snapshotAt(next - 1).liveDirs
    if (partitionCols.isEmpty) {
      val (r, a) = stage(rewrite(current), next)
      (r, a, live)
    } else {
      val doomedParts = doomed.map(partOf)
      val touched = Interpreted(current.filter(cond)
        .select(partitionCols.map(col): _*).distinct())(_.collect())
      val (r, a) = stage(rewrite(current.filter(partitionPredicate(touched))), next)
      (r, a, live.filter(d => doomedParts.contains(partOf(d))))
    }
  }

  /** Merge-on-read DELETE (Delta's deletion vectors, keyed by PK instead
    * of file positions): rows matching `cond` are recorded in a tombstone
    * dir — (partition cols + PK) of each doomed row, staged with the
    * table's own partitioning — and every read anti-joins the live
    * tombstones. NO data file is rewritten: deleting 100 rows from a 1 TB
    * partition costs one tiny parquet write, the case [[delete]]'s
    * copy-on-write restage is wrong for at scale.
    *
    * Lifecycle: a tombstone lives until its partition is restaged — any
    * merge/delete/update touching the partition folds the suppression into
    * the rewrite (their inputs are the DV-aware read) and the replay drops
    * the tombstone; overwrite/compact/restore reset the set wholesale.
    * Re-inserting a tombstoned PK therefore requires a [[merge]] (which
    * restages the partition) — exactly Delta's add-file-kills-DV rule at
    * partition granularity. Returns false when nothing matched.
    */
  def deleteMor(cond: Column): Boolean = {
    require(exists, "deleteMor on a table with no commits")
    require(pk.nonEmpty, "deletion vectors key tombstones by primary-key columns")
    val next = currentVersion + 1
    val matched = read.filter(cond)
    val doomed = matched.select((partitionCols ++ pk).map(col).toSeq: _*)
    if (Interpreted(doomed)(_.isEmpty)) return false
    val (root, leaves) = stage(doomed, next)
    // change images carry the FULL doomed rows (the tombstones above are a
    // key projection) — a CDC consumer sees identical delete records
    // whether the delete was copy-on-write or merge-on-read
    val cdfStaged: Option[Path] =
      if (recordCdf) Some(stageChanges(deleteChanges(matched), next)) else None
    commitStaged("delete_mor", next, Nil, Nil, Some(root), recordedSchemaJson(next - 1),
      leaves.map("dvadd=" + _), "deleteMor", cdfStaged = cdfStaged)
    true
  }

  /** UPDATE … SET as a logged commit (Delta's UPDATE): rows matching
    * `cond` get `assignments` applied, everything else in their partitions
    * restages unchanged. Returns false (no commit) when nothing matches.
    * Assignments must not touch partition columns — the partition-stable
    * contract [[merge]] declares (a partition-moving update is a
    * delete + merge). Fails fast on a lost commit race, like [[delete]].
    */
  def update(cond: Column, assignmentsIn: Map[String, Column]): Boolean = {
    require(exists, "update on a table with no commits")
    val next = currentVersion + 1
    val current = read
    // resolve assignment targets case-insensitively against the schema
    // (matching analysis) and refuse unknown columns — both would
    // otherwise be SILENTLY dropped by the per-column lookup below, and
    // differently-cased partition/generated names would bypass the guards
    val assignments = assignmentsIn.map { case (k, v) =>
      current.columns.find(_.equalsIgnoreCase(k)).getOrElse(
        sys.error(s"update assigns unknown column '$k'")) -> v
    }
    val badCols = assignments.keySet.intersect(partitionCols.toSet)
    require(badCols.isEmpty,
      s"update must not change partition columns (${badCols.mkString(",")}): " +
        "partition-stable contract — use delete + merge to move rows")
    // generated columns re-derive below after the user assignments apply,
    // so updating a source column keeps the derived value consistent
    refuseDerivedAssigned("update", assignments.keys)
    val gs = snapshotAt(currentVersion).generatedCols
    val doomed = matchingDirs(cond)
    if (doomed.isEmpty) return false
    // apply each assignment only on matching rows (a NULL cond is not a
    // match — when() takes the otherwise branch); untouched columns and
    // non-matching rows pass through unchanged. An assigned value is cast
    // to its column's recorded type (as MERGE INTO's clause values are),
    // and refused when that type cannot hold it ([[assignCast]]): the restaged files
    // are read back under the recorded schema
    val recorded = tableSchema
    def appliedUser(df: DataFrame): DataFrame = {
      val values = df.columns.toSeq.map(c => c -> assignments.get(c))
      val from = df.select(values.collect { case (c, Some(a)) => a.as(c) }: _*).schema
      df.select(values.map {
        case (c, Some(a)) =>
          when(cond, assignCast(a, from(c).dataType, recorded(c).dataType, c))
            .otherwise(col(c)).as(c)
        case (c, None) => col(c)
      }: _*)
    }
    // re-derive generated columns AFTER the assignments: the expression
    // must see the updated source values, not the pre-update row
    def applied(df: DataFrame): DataFrame =
      gs.toSeq.sortBy(_._1).foldLeft(appliedUser(df)) { case (d, (n, e)) =>
        if (!d.columns.contains(n)) d
        else d.withColumn(n, when(cond, expr(e)).otherwise(col(n)))
      }
    // a generated column that is ALSO a partition column must not change
    // under re-derivation — an assignment to its source column would move
    // rows across partitions, violating the partition-stable contract
    // (and a move's add would spuriously kill the destination partition's
    // tombstones in replay). Checked at runtime on the matching rows:
    // col(n) still holds the OLD value here, expr(e) sees the NEW sources.
    val partGen = gs.filter { case (n, _) => partitionCols.exists(_.equalsIgnoreCase(n)) }
    if (partGen.nonEmpty) {
      val names = partGen.keys.toSeq.sorted
      val aggs = names.map(n =>
        sum(when(!(col(n) <=> expr(partGen(n))), 1L).otherwise(0L)).as(n))
      val row = Interpreted(appliedUser(current.filter(cond)).agg(aggs.head, aggs.tail: _*))(
        _.head())
      names.zipWithIndex.foreach { case (n, i) =>
        if (!row.isNullAt(i) && row.getLong(i) > 0)
          throw new IllegalArgumentException(
            s"update would change generated partition column '$n' for ${row.getLong(i)} " +
              "row(s): partition-stable contract — use delete + merge to move rows")
      }
    }
    // only the rewritten rows can newly violate — verify those, not the
    // untouched pass-through rows the restage carries along
    enforceConstraints(applied(current.filter(cond)))
    val (root, adds, removes) = restageMatching(current, cond, doomed, next)(applied)
    val cdfStaged: Option[Path] =
      if (recordCdf)
        Some(stageChanges(updateChanges(current.filter(cond), applied), next))
      else None
    commitStaged("update", next, adds, removes, Some(root), recordedSchemaJson(next - 1),
      statsLines(root, adds) ++ identityWmLines(root), cdfStaged = cdfStaged)
    true
  }

  /** Refuse assignments by `op` to generated columns (always derived,
    * Delta's rule) and to GENERATED ALWAYS identity columns (system-assigned:
    * a written one would forge ids). BY DEFAULT identity columns may be
    * assigned; the commit's watermark scan observes the new values.
    */
  private def refuseDerivedAssigned(op: String, keys: Iterable[String]): Unit = {
    val gs = snapshotAt(currentVersion).generatedCols
    val gen = keys.filter(k => gs.keys.exists(_.equalsIgnoreCase(k)))
    require(gen.isEmpty, s"$op must not assign generated columns (${gen.mkString(",")}): " +
      "they re-derive from their expressions automatically")
    val ident = keys.filter(k => identityCols.get(k.toLowerCase).exists(!_.allowExplicit))
    require(ident.isEmpty,
      s"$op must not assign GENERATED ALWAYS AS IDENTITY columns (${ident.mkString(",")})")
  }

  /** `value` (of type `from`) cast to column `name`'s type `dt` for an
    * UPDATE, MERGE INTO or merge assignment. The session's own cast
    * converts; a value it wraps or nulls is refused with the column named.
    * Where ANSI allows the cast, `try_cast` detects the loss (an integral
    * overflow the non-ANSI cast wraps); a cast only the non-ANSI rules
    * allow (boolean → timestamp) is checked by its own NULL. Ingest keeps
    * its own permissive cast + reject.
    */
  private def assignCast(value: Column, from: DataType, dt: DataType, name: String): Column =
    if (DataTypeUtils.sameType(from, dt)) value
    else {
      val cast = value.cast(dt)
      val check = if (org.apache.spark.sql.catalyst.expressions.Cast.canTryCast(from, dt))
        value.try_cast(dt) else cast
      when(value.isNotNull && check.isNull, raise_error(lit(
        s"value cannot be stored in column '$name' (${dt.simpleString})"))).otherwise(cast)
    }

  /** Directory holding recorded change files (one subdir per recording
    * commit, named like staging roots so racing writers never collide).
    */
  private def changesDir = s"$path/_changes"

  /** Does committed change dir `d` still exist on disk? */
  private def changeDirExists(d: String): Boolean =
    fs.exists(new Path(s"$changesDir/$d"))

  /** Committed change dir `d`'s path, when it exists AND holds parquet
    * parts — a recording commit with zero change rows leaves a partless
    * dir, which reads as "no changes", not an error. The single definition
    * of the readability predicate for changeFeed/changesBetween.
    */
  private def changeDirWithData(d: String): Option[Path] = {
    val p = new Path(s"$changesDir/$d")
    if (fs.exists(p) && fs.listStatus(p).exists(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))) Some(p)
    else None
  }

  /** Stage `changes` (full row images + `change_type`) under
    * `_changes/vNNNNN_uuid` and return (path, `cdf=` log line). The write
    * happens BEFORE the commit claim, exactly like data staging — a loser
    * deletes it (or re-commits it on a disjoint-partition retry, where the
    * images stay valid verbatim: their inputs are the touched partitions
    * the winners didn't touch).
    */
  private def stageChanges(changes: DataFrame, next: Int): Path = {
    val name = s"${vname(next)}_${java.util.UUID.randomUUID().toString.take(8)}"
    val p = new Path(s"$changesDir/$name")
    // change files carry physical names like data files, so images from
    // every rename era union cleanly at read time
    Interpreted(toPhysical(changes))(_.write.mode("overwrite").parquet(p.toString))
    p
  }

  /** Change recording reserves the CDF metadata names; a table column
    * shadowing one would be silently overwritten in the recorded images
    * (Delta reserves _change_type for the same reason).
    */
  private def assertCdfNamesFree(cols: Seq[String]): Unit = {
    val clash = cols.filter(c =>
      c.equalsIgnoreCase("change_type") || c.equalsIgnoreCase("_commit_version"))
    require(clash.isEmpty,
      s"change recording reserves column name(s) ${clash.mkString(",")} — " +
        "rename the table column or disable recordCdf")
  }

  /** Null-fill onto `df` the columns only `other` has (case-insensitive,
    * like analysis) — the widening both the snapshot diff and the
    * change-image builders need.
    */
  private def widenLike(df: DataFrame, other: DataFrame): DataFrame =
    other.schema.fields
      .filterNot(f => df.columns.exists(_.equalsIgnoreCase(f.name)))
      .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))

  /** Change images for a merge: `insert` rows for batch keys absent from
    * the (touched-partition) current state, `update_preimage`/`_postimage`
    * pairs for present ones — Delta CDF's merge record shape. A pair whose
    * images are identical (the batch re-sent an unchanged row) nets out at
    * READ time ([[changeFeedRecorded]] compares first-vs-last images), so
    * the write path pays no comparison. Cost: one extra equi-join of the
    * batch against the touched partitions, only when [[recordCdf]] is on.
    */
  private def mergeChanges(curT: DataFrame, updates: DataFrame): DataFrame = {
    assertCdfNamesFree(curT.columns.toSeq ++ updates.columns)
    val valueCols = (curT.columns ++ updates.columns.filterNot(c =>
      curT.columns.exists(_.equalsIgnoreCase(c)))).toSeq.filterNot(pk.contains)
    val n = widenLike(updates, curT).as("n")
    val o = widenLike(curT, updates).withColumn("__o", lit(1)).as("o")
    val j = n.join(o, pk, "left")
    def img(side: String, ct: String) =
      j.filter(if (ct == "insert") col("__o").isNull else col("__o").isNotNull)
        .select(pk.map(col) ++
          valueCols.map(c => col(s"$side.$c").as(c)) :+
          lit(ct).as("change_type"): _*)
    img("n", "insert")
      .unionByName(img("o", "update_preimage"))
      .unionByName(img("n", "update_postimage"))
  }

  /** Pre/post images for an UPDATE's matching rows. */
  private def updateChanges(matched: DataFrame, applied: DataFrame => DataFrame): DataFrame = {
    assertCdfNamesFree(matched.columns.toSeq)
    matched.withColumn("change_type", lit("update_preimage"))
      .unionByName(applied(matched).withColumn("change_type", lit("update_postimage")))
  }

  /** `delete` images for rows removed by delete/deleteMor. */
  private def deleteChanges(doomed: DataFrame): DataFrame = {
    assertCdfNamesFree(doomed.columns.toSeq)
    doomed.withColumn("change_type", lit("delete"))
  }

  /** PK-based change feed between two committed versions (Delta's CDF).
    *
    * Read path selection: when EVERY version in (fromV, toV] recorded its
    * changes at commit time (`cdf=` log lines — merge/update/delete/
    * deleteMor with [[recordCdf]] on; compact and metadata-only commits
    * are change-transparent and always qualify), the feed unions the
    * recorded change files and NETS them per key — input bounded by the
    * changed rows, never the table, which is what lets a consumer poll
    * each commit of a 100 TB table without re-scanning the world.
    * Otherwise it falls back to the snapshot diff below (two version
    * reads + one full-outer PK join). Both paths emit the same rows:
    * PK + post-change values (pre-change for deletes) + `change_type` ∈
    * insert/update/delete, unchanged keys omitted.
    */
  def changeFeed(fromV: Int, toV: Int): DataFrame = {
    require(pk.nonEmpty, "changeFeed needs primary-key columns")
    val range = (fromV + 1) to toV
    val recorded = range.map(v => readLog(v).cdf)
    // existence-guarded: a manually cleaned _changes dir degrades to the
    // snapshot diff, never to an error
    if (range.nonEmpty && recorded.forall(_.isDefined) &&
        recorded.flatten.filter(_ != "none").forall(changeDirExists))
      changeFeedRecorded(fromV, toV)
    else changeFeedDiff(fromV, toV)
  }

  /** Net the recorded change files over (fromV, toV] per key: the earliest
    * image is the key's state just after fromV's edge (insert ⇒ absent
    * before; delete/update_preimage ⇒ present with those values), the
    * latest its state at toV (delete ⇒ absent; insert/update_postimage ⇒
    * present) — compare the two and emit exactly what the snapshot diff
    * would. One shuffle, on the PK, over only the recorded rows.
    */
  private def changeFeedRecorded(fromV: Int, toV: Int): DataFrame = {
    val dirs = ((fromV + 1) to toV).flatMap(v =>
      readLog(v).cdf.filter(_ != "none")
        .flatMap(changeDirWithData).map(p => (v, p)))
    if (dirs.isEmpty) return emptyChangeFrame(fromV, toV)
    val all = dirs.map { case (v, p) =>
      toLogical(spark.read.parquet(p.toString), toV).withColumn("__v", lit(v))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    val valueCols = all.columns.toSeq
      .filterNot(c => pk.contains(c) || c == "change_type" || c == "__v")
    // within a commit a key carries at most one record of each image kind,
    // and the preimage precedes everything else sharing its version
    val ord = col("__v") * 2 +
      when(col("change_type") === "update_preimage", 0).otherwise(1)
    val packed = struct(valueCols.map(col) :+ col("change_type").as("__ct"): _*)
    val agg = all.groupBy(pk.map(col): _*)
      .agg(min_by(packed, ord).as("f"), max_by(packed, ord).as("l"))
    val existedBefore = col("f.__ct") =!= "insert"
    val existsAfter = col("l.__ct") =!= "delete"
    val valsChanged = valueCols.map(c => !(col(s"f.$c") <=> col(s"l.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    agg
      .withColumn("change_type",
        when(!existedBefore && existsAfter, "insert")
          .when(existedBefore && !existsAfter, "delete")
          .when(existedBefore && existsAfter && valsChanged, "update"))
      .filter(col("change_type").isNotNull)
      .select(pk.map(col) ++
        valueCols.map(c =>
          when(col("change_type") === "delete", col(s"f.$c"))
            .otherwise(col(s"l.$c")).as(c)) :+
        col("change_type"): _*)
  }

  /** Empty feed with the snapshot-diff's exact shape, built from recorded
    * schemas — no scan.
    */
  private def emptyChangeFrame(fromV: Int, toV: Int): DataFrame = {
    import org.apache.spark.sql.types._
    def structAt(v: Int): StructType = schemaAt(v).getOrElse(StructType(Nil))
    // fromV's field names align to toV's logical era, like the diff path
    val (cmF, cmT) = (snapshotAt(fromV).colMap, snapshotAt(toV).colMap)
    def atToV(n: String): String = {
      val p = cmF.collectFirst { case (l, pp) if l.equalsIgnoreCase(n) => pp }.getOrElse(n)
      cmT.collectFirst { case (l, pp) if pp.equalsIgnoreCase(p) => l }.getOrElse(p)
    }
    val a = StructType(structAt(fromV).fields.map(f => f.copy(name = atToV(f.name))))
    val b = structAt(toV)
    val byName = (a.fields ++ b.fields).groupBy(_.name.toLowerCase)
    val names = (a.fieldNames ++ b.fieldNames).distinct.toSeq
    val fields =
      pk.map(n => byName(n.toLowerCase).last) ++
      names.filterNot(pk.contains).map(n => byName(n.toLowerCase).last) :+
      StructField("change_type", StringType)
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(fields))
  }

  /** Snapshot-diff change feed: one full-outer join of two version reads
    * on the PK — the fallback when some version in range predates change
    * recording (or recorded nothing — overwrite/restore/clone rewrite the
    * world without computing row images). Scale shape: one co-partitioned
    * join, two full version reads per consumption.
    */
  private def changeFeedDiff(fromV: Int, toV: Int): DataFrame = {
    // Compare over the UNION of both versions' columns (null-filling the
    // side that predates a schema evolution): with the intersection, a row
    // whose only change was in a column added after fromV would read as
    // unchanged and silently vanish from the feed, and evolved columns
    // would be missing from the emitted values. The flip side is
    // deliberate: a schema-NARROWING commit (an overwrite that drops a
    // column) emits every row still carrying a value there as an 'update'
    // to NULL — the value genuinely went away, and an incremental consumer
    // (q88's aggregate maintainer) must see that transition to stay
    // consistent with a recompute.
    //
    // Both snapshots align to toV's LOGICAL names (fromV-logical →
    // physical → toV-logical): a rename between the versions would
    // otherwise make the two sides carry the same data under different
    // names, reporting every unchanged row as an 'update' to NULL.
    val aRaw = toLogical(physicalAt(readVersion(fromV), fromV), toV)
    val bRaw = readVersion(toV)
    def widen(df: DataFrame, other: DataFrame): DataFrame =
      other.schema.fields.filterNot(f => df.columns.contains(f.name))
        .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    val a = widen(aRaw, bRaw).withColumn("__a", lit(1))
    val b = widen(bRaw, aRaw).withColumn("__b", lit(1))
    val valueCols = (aRaw.columns ++ bRaw.columns).distinct.toSeq
      .filterNot(pk.contains)
    val joined = a.as("a").join(b.as("b"), pk, "full")
    val changed = valueCols
      .map(c => !(col(s"a.$c") <=> col(s"b.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    joined
      .withColumn("change_type",
        when(col("a.__a").isNull, "insert")
          .when(col("b.__b").isNull, "delete")
          .when(changed, "update"))
      .filter(col("change_type").isNotNull)
      // post-change values discriminated on ROW presence, not value
      // nullness: an update that sets a column TO NULL must emit NULL, so
      // coalesce(b.c, a.c) would be wrong (it would resurrect the old value)
      .select(pk.map(col) ++
        valueCols.map(c =>
          when(col("b.__b").isNotNull, col(s"b.$c")).otherwise(col(s"a.$c")).as(c)) :+
        col("change_type"): _*)
  }

  /** The table schema at the current version (log-recorded — a metadata
    * read, no file open).
    */
  def tableSchema: StructType = recordedSchema.getOrElse(read.schema)

  /** Output schema of [[readChangesStream]]: the table's columns plus
    * `change_type` and `_commit_version` (Delta CDF's streaming shape).
    */
  private[graft] def changeStreamSchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(tableSchema.fields :+
      StructField("change_type", StringType) :+
      StructField("_commit_version", LongType))
  }

  /** Raw per-commit change records over (fromV, toV] for the streaming
    * source — one `_commit_version`-stamped frame per commit, unioned:
    *  - a commit with recorded change files contributes exactly those rows
    *    (bounded by what changed — the micro-batch never scans the table);
    *  - version 1 (the initial load, which records nothing) contributes
    *    its full snapshot as `insert` rows — Delta's initial-snapshot
    *    batch;
    *  - any LATER unrecorded commit (overwrite/restore/clone, or a writer
    *    without recordCdf) either fails the stream with instructions or,
    *    with `skipUnrecorded`, is silently skipped — exactly Delta's
    *    data-update error / skipChangeCommits pair.
    */
  private[graft] def changesBetween(fromV: Int, toV: Int,
                                    skipUnrecorded: Boolean): DataFrame = {
    val frames = ((fromV + 1) to toV).flatMap { v =>
      val e = readLog(v)
      e.cdf match {
        case Some("none") => None
        case Some(d) if changeDirExists(d) =>
          changeDirWithData(d).map(p => toLogical(spark.read.parquet(p.toString), toV)
            .withColumn("_commit_version", lit(v.toLong)))
        case Some(_) if skipUnrecorded => None
        case Some(_) =>
          // a committed-but-vacuumed/removed dir must FAIL the stream, not
          // silently emit nothing — the consumer would lose that commit
          sys.error(
            s"streaming read: version $v of $path committed change data " +
              "whose files are missing (vacuumed or externally removed) — " +
              "start a fresh stream from a later version, or read with " +
              "skipChangeCommits=true to skip such commits")
        case None if v == 1 =>
          // the snapshot must stream under toV's logical names, not its
          // own era's — translate v1-logical → physical → toV-logical
          Some(toLogical(physicalAt(readVersion(1), 1), toV)
            .withColumn("change_type", lit("insert"))
            .withColumn("_commit_version", lit(1L)))
        case None if skipUnrecorded => None
        case None => sys.error(
          s"streaming read: version $v of $path recorded no change data " +
            s"(action=${e.action}) — enable recordCdf on writers, or read " +
            "with skipChangeCommits=true to skip such commits")
      }
    }
    val aligned = frames
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], changeStreamSchema))
    // project to the frozen stream schema (null-filling columns a change
    // file predating a schema evolution lacks)
    val sch = changeStreamSchema
    aligned.select(sch.fields.toSeq.map(f =>
      (if (aligned.columns.exists(_.equalsIgnoreCase(f.name))) col(f.name)
       else lit(null)).cast(f.dataType).as(f.name)): _*)
  }

  /** Structured-streaming read of this table's changes (Delta's streaming
    * source re-expressed over the commit log): each commit becomes a
    * micro-batch of its change records — `tableSchema` columns +
    * `change_type` + `_commit_version` — with offsets checkpointed by the
    * engine, so a restarted query resumes exactly after the last committed
    * version (exactly-once accounting). `startingVersion` replays from a
    * historical commit (0 = from the initial snapshot);
    * `startingTimestamp` (Delta's streaming option, exclusive with
    * `startingVersion`) starts at the FIRST commit at or after the given
    * timestamp instead, resolved once against the in-commit timestamps at
    * source creation — a timestamp preceding every commit replays from
    * the initial snapshot, one after the latest commit delivers only
    * future commits. `maxVersionsPerTrigger` (> 0) bounds how many
    * commits one micro-batch may cover — the catch-up knob for a consumer
    * restarting far behind; the cap rides the engine's admission-control
    * surface (latestOffset receives the checkpointed start), so restarts
    * never re-deliver, and `Trigger.AvailableNow` drains to the
    * start-of-run version in bounded multi-batches before stopping.
    */
  def readChangesStream(startingVersion: Int = 0,
                        skipChangeCommits: Boolean = false,
                        maxVersionsPerTrigger: Int = 0,
                        startingTimestamp: String = null): DataFrame = {
    require(startingTimestamp == null || startingVersion == 0,
      "readChangesStream takes startingVersion OR startingTimestamp, not both")
    val r = spark.readStream
      .format(classOf[graft.streaming.TableChangesProvider].getName)
      .option("path", path)
      .option("pk", pk.mkString(","))
      .option("partitionCols", partitionCols.mkString(","))
      .option("skipChangeCommits", skipChangeCommits.toString)
      .option("maxVersionsPerTrigger", maxVersionsPerTrigger.toString)
    (if (startingTimestamp != null)
       r.option("startingTimestamp", startingTimestamp)
     else r.option("startingVersion", startingVersion.toString)).load()
  }

  /** Options for writing a stream INTO this table via the `graft-table`
    * sink ([[graft.streaming.TableSinkProvider]]): pair with
    * `.format("graft-table")` and a `checkpointLocation` —
    * {{{ df.writeStream.format("graft-table").options(t.sinkOptions)
    *     .option("checkpointLocation", ckpt).start() }}}
    */
  def sinkOptions: Map[String, String] = Map(
    "path" -> path, "pk" -> pk.mkString(","),
    "partitionCols" -> partitionCols.mkString(","),
    "recordCdf" -> recordCdf.toString)

  /** Restore the table to the contents of version `v` as a NEW commit
    * (Delta's RESTORE): the log entry re-adds `v`'s dirs and removes the
    * current ones — pure metadata, no data is copied or restaged, because
    * historical dirs are immutable until vacuumed. Table METADATA restores
    * too, matching Delta: CHECK constraints and generated-column
    * definitions added after `v` are dropped, and ones active at `v` but
    * since dropped come back — the restore entry carries the delta lines,
    * so replay at any later version sees `v`'s exact rule set. History
    * stays intact (the pre-restore versions remain readable), and a later
    * vacuum protects the restored dirs because they are live again. Fails
    * when `v`'s dirs have already been vacuumed, and fails fast on a lost
    * commit race like [[overwrite]] (a restore conflicts with everything).
    * Restoring to the current version is a no-op.
    */
  def restore(v: Int): Unit = {
    require(exists, "restore on a table with no commits")
    val cur = currentVersion
    require(v >= 1 && v <= cur, s"version $v out of range 1..$cur")
    if (v == cur) return
    val (to, now) = (snapshotAt(v), snapshotAt(cur))
    val adds = to.liveDirs.filterNot(now.liveDirs.contains)
    val removes = now.liveDirs.filterNot(to.liveDirs.contains)
    if (adds.isEmpty && removes.isEmpty && to.dvDirs == now.dvDirs &&
        to.constraints == now.constraints && to.generatedCols == now.generatedCols &&
        to.colMap == now.colMap && to.dropped == now.dropped &&
        to.properties == now.properties && schemaJsonAt(v) == schemaJsonAt(cur))
      return // same live set, metadata, AND schema — nothing to do
      // (the schema term matters: an ALTER COLUMN TYPE widen or a
      // metadata-only ADD COLUMN changes no dirs and no other overlay,
      // and restoring across one must still re-record the old schema)
    val gone = (adds ++ to.dvDirs).filterNot(d => fs.exists(resolvedPath(d)))
    require(gone.isEmpty,
      s"cannot restore to version $v: ${gone.size} of its data dirs were vacuumed")
    val schemaJson = recordedSchemaJson(v)
    // metadata delta back to v's state. Replay applies adds BEFORE drops
    // ((m ++ added) -- dropped), so a name active in both but redefined
    // since v is reset by its add line alone — dropping it too would
    // delete it outright. Drops are only for names v never had.
    // column mapping resets too: rename current-logical(p) → v-logical(p)
    // for every physical name whose logical differs between the versions
    def logicalOf(cm: Map[String, String], p: String): String =
      cm.collectFirst { case (l, pp) if pp.equalsIgnoreCase(p) => l }.getOrElse(p)
    val physNames = (to.colMap.values ++ now.colMap.values).toSeq.distinct.sorted
    val renameLines = physNames.flatMap { p =>
      val (lv, lc) = (logicalOf(to.colMap, p), logicalOf(now.colMap, p))
      if (lv == lc) None else Some(s"rename=${enc(lc)}\t${enc(lv)}")
    }
    // lines taking a name → value overlay from `cur` back to `at`: a drop
    // for each name `at` lacks, an add for each name `at` holds differently
    def delta(add: String, drop: String, at: Map[String, String],
              cur: Map[String, String]): Seq[String] =
      (cur.keySet -- at.keySet).toSeq.sorted.map(n => s"$drop=${enc(n)}") ++
        at.filter { case (n, e) => !cur.get(n).contains(e) }
          .toSeq.sortBy(_._1).map { case (n, e) => s"$add=${enc(n)}\t${enc(e)}" }
    val metaLines =
      renameLines ++
      // the dropped set resets to v's state in BOTH directions: columns
      // dropped since v resurrect (undrop), and columns v had dropped
      // that a LATER restore resurrected re-drop — a restore(1) →
      // restore(2) chain must land back on 2's narrowed schema with its
      // physical names retired, or the dropped data would silently
      // resurface and the name lose its re-use protection
      (now.dropped -- to.dropped).toSeq.sorted.map(p => s"undropcol=${enc(p)}") ++
      (to.dropped -- now.dropped).toSeq.sorted.map(p => s"dropcol=${enc(p)}") ++
      delta("constraint", "dropconstraint", to.constraints, now.constraints) ++
      delta("gencol", "dropgencol", to.generatedCols, now.generatedCols) ++
      // table properties reset to v's map (the COPY INTO file ledger does
      // NOT reset: it is an append-only ingest history — re-restoring must
      // not make a re-run of COPY INTO double-load files)
      delta("setprop", "unsetprop", to.properties, now.properties)
    // operation metrics over the re-added dirs, from their footers (their
    // skipping stats stay with the entries that first added them)
    val own = adds.filterNot(_.startsWith(ExtPrefix))
    val metrics =
      if (own.isEmpty) None
      else scala.util.Try(own.flatMap(dataFiles)).toOption.flatMap(files =>
        sumFooterRows(files.map(_.getPath)).map(n => s"metrics=${files.size}\t$n"))
    // the restore action RESETS the tombstone set in replay, so the dvadd
    // lines are v's exact DV state
    commitStaged("restore", cur + 1, adds, removes, None, schemaJson,
      metrics.toSeq ++ to.dvDirs.map("dvadd=" + _) ++ metaLines, s"restore($v)")
  }

  /** Rewrite the live file set into one fresh version root with ~
    * `targetFileRows` rows per file (Delta OPTIMIZE as a logged commit):
    * repeated partition-granular merges leave one small dir per touched
    * partition per commit; compaction restores healthy file sizes WITHOUT
    * losing history — older versions keep reading their original dirs
    * until [[vacuum]] reclaims them.
    */
  def compact(targetFileRows: Long = 1024 * 1024): Unit = {
    require(exists, "compact on a table with no commits")
    val next = currentVersion + 1
    repack("compact", next, snapshotAt(next - 1).liveDirs, targetFileRows)
  }

  /** Rewrite the live `dirs` of version `next - 1` (tombstones folded in)
    * into ~`targetFileRows`-row files under one fresh root, committed at
    * `next` as `action` with the schema unchanged. A repack changes no
    * rows, so it is change-transparent (`cdf=none`). "compact" resets the
    * whole tombstone set in replay (a full rewrite); "compact_part" clears
    * exactly the restaged partitions' tombstones.
    */
  private def repack(action: String, next: Int, dirs: Seq[String],
                     targetFileRows: Long): Unit = {
    val live = withTombstones(frameFor(next - 1, dirs), next - 1)
    val rows = Interpreted(live)(_.count())
    val files = math.max(1, math.ceil(rows.toDouble / targetFileRows).toInt)
    val repacked =
      if (partitionCols.nonEmpty) live.repartition(files, partitionCols.map(col): _*)
      else live.repartition(files)
    val (root, adds) = stage(repacked, next, cluster = false)
    commitStaged(action, next, adds, dirs, Some(root), recordedSchemaJson(next - 1),
      statsLines(root, adds) :+ "cdf=none")
  }

  /** Partition-scoped compaction (Delta's `OPTIMIZE … WHERE`): rewrite
    * ONLY the partitions holding rows that match `cond`, leaving every
    * other partition's dirs untouched — at 100 TB nobody compacts the
    * whole table; maintenance walks the recently-written partitions. The
    * rewrite reads DV-aware, so the touched partitions' tombstones fold
    * into the new files and clear in replay (as any partition restage);
    * other partitions keep their tombstones. Change-transparent
    * (`cdf=none`), like [[compact]]. No-op when nothing matches.
    */
  def compactWhere(cond: Column, targetFileRows: Long = 1024 * 1024): Unit = {
    require(exists, "compactWhere on a table with no commits")
    require(partitionCols.nonEmpty,
      "compactWhere needs a partitioned table — use compact()")
    val next = currentVersion + 1
    val doomed = matchingDirs(cond)
    if (doomed.isEmpty) return
    val doomedParts = doomed.map(partOf)
    // the rewrite input is exactly the doomed partitions' live dirs, so
    // the statement pays ONE predicate scan (matchingDirs) plus the
    // bounded partition read, never a second full-table pass
    repack("compact_part", next,
      snapshotAt(next - 1).liveDirs.filter(d => doomedParts.contains(partOf(d))),
      targetFileRows)
  }

  /** `OPTIMIZE … ZORDER BY (c1, c2)`: recompute the z-bucket layout over
    * the whole table — one [[ZOrder.withZBucket]] pass re-ranks every live
    * row's `cols` into interleaved quantile buckets, and the rewrite
    * repartitions by the new `zb` so per-dir min/max stats
    * ([[statsCols]]) prune on EITHER clustered column. The table must be
    * z-layout (`partitionCols = ["zb"]`): z-order is a table-wide
    * clustering, not a per-partition sort, exactly Delta's contract
    * (Delta likewise rewrites the optimized scope wholesale). The commit
    * is a `compact` — change-transparent (`cdf=none`), resets tombstones
    * into the new files, and time travel keeps every prior layout.
    */
  def zorderBy(cols: Seq[String], bitsPerCol: Int = 2): Unit = {
    require(exists, "ZORDER on a table with no commits")
    require(partitionCols.map(_.toLowerCase) == Seq("zb"),
      "OPTIMIZE … ZORDER BY needs a z-layout table (PARTITIONED BY (zb)); " +
        s"this table partitions by [${partitionCols.mkString(",")}]")
    val next = currentVersion + 1
    val current = read
    val z = ZOrder.withZBucket(current.drop("zb"), cols, bitsPerCol)
    val ordered = z.select(current.columns.toSeq.map(col): _*)
    val (root, adds) = stage(ordered.repartition(col("zb")), next, cluster = false)
    commitStaged("compact", next, adds, snapshotAt(next - 1).liveDirs, Some(root),
      recordedSchemaJson(next - 1), statsLines(root, adds) :+ "cdf=none", "zorderBy")
  }

  /** `REORG TABLE … APPLY (PURGE)` (Delta's DV purge): rewrite ONLY the
    * partitions carrying live tombstones, folding the merge-on-read
    * suppressed rows OUT of storage — after the commit no reader pays the
    * tombstone anti-join and [[vacuum]] can reclaim the dead bytes. Every
    * other partition's dirs are untouched (at 100 TB the purge is bounded
    * by where deletes actually landed, never a table rewrite).
    * Change-transparent (`cdf=none`): the visible rows are identical
    * before and after. No-op without live tombstones.
    */
  def reorgPurge(targetFileRows: Long = 1024 * 1024): Unit = {
    require(exists, "REORG on a table with no commits")
    val next = currentVersion + 1
    val dvParts = snapshotAt(next - 1).dvDirs.map(partOf).toSet
    if (dvParts.isEmpty) return
    // "compact_part": replay clears exactly the restaged partitions'
    // tombstones — which, by construction, is ALL of them
    repack("compact_part", next,
      snapshotAt(next - 1).liveDirs.filter(d => dvParts.contains(partOf(d))),
      targetFileRows)
  }

  /** Shallow clone (Delta's CLONE): create a NEW table at `destPath` whose
    * first commit references this table's live dirs at `version` — no data
    * is copied, the clone commit is pure metadata carrying the source's
    * dir list, skipping stats, and CHECK constraints. The clone then
    * evolves independently: its mutators stage new files under its OWN
    * data/, and on a partitioned table only the touched partitions
    * materialize locally — untouched partitions keep reading the source's
    * files. [[compact]] fully materializes a clone.
    *
    * Caveats (exactly Delta's): the clone's [[vacuum]] never reclaims
    * source storage, and vacuuming the SOURCE can delete dirs a clone
    * still references — retain history on cloned-from tables. Source and
    * destination must live on the same filesystem.
    */
  def cloneTo(destPath: String, version: Int = -1): VersionedTable = {
    require(exists, "clone of a table with no commits")
    val v = if (version == -1) currentVersion else version
    require(v >= 1 && v <= currentVersion, s"version $v out of range 1..$currentVersion")
    val dest = VersionedTable(spark, destPath, pk, partitionCols,
      checkpointInterval, statsCols, recordCdf)
    require(!dest.exists, s"clone destination $destPath already holds a table")
    def extify(d: String): String = {
      val parts = d.split("/", 2)
      val root =
        if (parts(0).startsWith(ExtPrefix)) parts(0) // clone of a clone: keep the ref
        else ExtPrefix + enc(
          fs.makeQualified(new Path(s"$dataDir/${parts(0)}")).toUri.getPath)
      root + parts.lift(1).map("/" + _).getOrElse("")
    }
    val snap = snapshotAt(v)
    val extDirs = snap.liveDirs.map(extify)
    // live tombstones travel with the clone (the clone action resets the
    // dest's DV set to exactly these refs)
    val extDv = snap.dvDirs.map(d => "dvadd=" + extify(d))
    // carry per-dir skipping stats so readWhere prunes on the clone too
    val stats = snap.liveDirs.zip(extDirs).flatMap { case (d, ed) =>
      statsFor(d, v).toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
        s"stats=${enc(ed)}\t${enc(c)}\t${enc(mn)}\t${enc(mx)}"
      }
    }
    def kv(key: String, m: Map[String, String]) =
      m.toSeq.sortBy(_._1).map { case (k, x) => s"$key=${enc(k)}\t${enc(x)}" }
    val constr = kv("constraint", snap.constraints) ++
      kv("gencol", snap.generatedCols) ++
      // column mapping travels with the clone: a rename=physical→logical
      // line replays to exactly {logical → physical} on the clone's log
      snap.colMap.toSeq.sortBy(_._1).map { case (l, p) =>
        s"rename=${enc(p)}\t${enc(l)}"
      } ++
      // so does the dropped-column set: the clone references the SAME
      // files, whose retired physical columns must stay projected away
      snap.dropped.toSeq.sorted.map(p => s"dropcol=${enc(p)}") ++
      // table properties travel with the clone (Delta's clone carries
      // TBLPROPERTIES); the COPY INTO ledger travels too, so re-running
      // the same COPY against the clone stays idempotent
      kv("setprop", snap.properties) ++
      snap.copiedFiles.toSeq.sorted.map(f => s"copied=${enc(f)}")
    val schemaJson = recordedSchemaJson(v)
    dest.commitStaged("clone", 1, extDirs, Nil, None, schemaJson,
      stats ++ constr ++ extDv, s"clone to $destPath")
    dest
  }

  /** In-place adoption of an existing plain-parquet directory (Delta's
    * CONVERT TO DELTA): the first commit REFERENCES the source's leaf
    * dirs as external storage (the shallow-clone `ext=` mechanism) —
    * zero bytes copied or rewritten, the only viable adoption path for a
    * 100 TB directory. The source must be laid out hive-style to exactly
    * this handle's partition depth (`p1=v/p2=v/…`; unpartitioned tables
    * adopt the root as one dir), and PK uniqueness is verified with one
    * aggregation — the merge/append algebra relies on it. Later mutators
    * stage new files under this table's own `data/`; the source files
    * are never touched and never vacuumed by this table (the clone
    * trade, documented at [[cloneTo]]).
    */
  def convertFrom(sourceDir: String): Unit = {
    require(!exists, s"$path already holds a committed table")
    require(pk.nonEmpty, "convertFrom needs primary-key columns")
    val srcRoot = new Path(sourceDir)
    require(fs.exists(srcRoot) && fs.getFileStatus(srcRoot).isDirectory,
      s"source $sourceDir is not a directory")
    def leaves(p: Path, depth: Int): Seq[Path] =
      if (depth == 0) Seq(p)
      else fs.listStatus(p).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .map(_.getPath).flatMap(leaves(_, depth - 1))
    val leafPaths = leaves(srcRoot, partitionCols.length)
    require(leafPaths.nonEmpty,
      s"no hive-style leaf dirs at depth ${partitionCols.length} under $sourceDir")
    // every leaf's partition path must name exactly partitionCols in order
    val qualifiedRoot = fs.makeQualified(srcRoot).toUri.getPath
    leafPaths.foreach { leaf =>
      val rel = fs.makeQualified(leaf).toUri.getPath
        .stripPrefix(qualifiedRoot).stripPrefix("/")
      val keys = rel.split("/").filter(_.nonEmpty).map(_.split("=", 2)(0))
      require(keys.length == partitionCols.length &&
        keys.zip(partitionCols).forall { case (k, pc) => k.equalsIgnoreCase(pc) },
        s"leaf $rel does not match the declared partitioning " +
          s"[${partitionCols.mkString(",")}]")
    }
    // every file reads under the schema recorded here, so it merges the
    // footers of all of them
    val df = spark.read.option("mergeSchema", "true").parquet(sourceDir)
    (pk ++ partitionCols).foreach(c =>
      require(df.columns.exists(_.equalsIgnoreCase(c)),
        s"source lacks declared column '$c'"))
    require(df.groupBy(pk.map(col): _*).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).isEmpty,
      "source violates PK uniqueness — deduplicate before converting")
    val extDirs = leafPaths.map { leaf =>
      val rel = fs.makeQualified(leaf).toUri.getPath
        .stripPrefix(qualifiedRoot).stripPrefix("/")
      ExtPrefix + enc(qualifiedRoot) + (if (rel.isEmpty) "" else "/" + rel)
    }
    commitStaged("convert", 1, extDirs, Nil, None, df.schema.json, Nil,
      s"convert of $sourceDir")
  }

  /** Export a manifest of the current version's live data files — one
    * absolute parquet-file URI per line — to
    * `path/_manifest/manifest-vNNNNN.txt` (Delta's
    * symlink_format_manifest): an external engine (DuckDB, Trino, Hive)
    * reads the exact table snapshot as a plain file list, no log protocol
    * needed. Written temp-then-rename; returns the manifest path. Refused
    * while deletion vectors are live (a file-list reader cannot apply
    * tombstones — [[compact]] first), exactly Delta's DV/manifest
    * incompatibility. NOTE: the manifest is a snapshot, not a view —
    * regenerate after each commit, and vacuum invalidates old manifests.
    */
  def writeManifest(): String = {
    val v = currentVersion
    require(v >= 1, "manifest export on a table with no commits")
    require(snapshotAt(v).dvDirs.isEmpty,
      "manifest export requires materialized deletes (live deletion vectors " +
        "cannot be expressed as a file list) — run compact() first")
    val files = snapshotAt(v).liveDirs.flatMap(dataFiles)
      .map(st => fs.makeQualified(st.getPath).toUri.toString).sorted
    val mdir = new Path(s"$path/_manifest")
    fs.mkdirs(mdir)
    val dest = new Path(mdir, s"manifest-${vname(v)}.txt")
    val tmp = new Path(mdir, s".tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    val o = fs.create(tmp, true)
    try o.write((files.mkString("\n") + "\n").getBytes("UTF-8")) finally o.close()
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest)) {
      fs.delete(tmp, false)
      sys.error(s"cannot rename manifest into $dest")
    }
    dest.toString
  }

  /** Drop data dirs no retained version references. `retain = 1` keeps
    * only the current version readable; history metadata (the log) is
    * kept — only storage is reclaimed. A version root none of whose leaves
    * survive is deleted whole (including its `_SUCCESS` marker); a root
    * with surviving leaves loses only the unreferenced ones.
    */
  /** Vacuum keeping every version still readable as of wall-clock
    * `tsMillis` or later — Delta's `VACUUM … RETAIN n HOURS` expressed on
    * the in-commit timestamps (pass `now - retention`). Versions committed
    * strictly before the resolved version lose their unreferenced storage.
    */
  def vacuumRetainingSince(tsMillis: Long): Unit = {
    val cur = currentVersion
    if (cur == 0) return
    // a table younger than the retention window retains EVERYTHING —
    // Delta's RETAIN on a young table is a no-op, never an error (the
    // only versionAsOf failure is "no commit at or before ts")
    val keepFrom = scala.util.Try(versionAsOf(tsMillis)).getOrElse(1)
    vacuum(cur - keepFrom + 1)
  }

  /** Repair references to storage that no longer exists (Delta's FSCK
    * REPAIR TABLE reshaped to graft's dir-granular refs): live data dirs
    * and live tombstone (DV) dirs whose path has VANISHED — a shallow
    * clone or CONVERT whose source was deleted, an external cleanup that
    * raced retention — are dropped from the live set in one commit, so
    * the table reads again instead of failing on every scan. The check
    * is driver-side existence per dir (bounded by live dirs, never
    * rows). DRY RUN returns the missing refs without committing.
    *
    * The repair is a DATA loss marker, not a data change: the vanished
    * rows' pre-images are unreadable by definition, so the commit is NOT
    * change-transparent — a change feed spanning it fails loudly on the
    * unreadable pre-version rather than silently skipping deletions.
    * Surviving tombstones ride the commit as a declared reset (restore's
    * vehicle), so missing DV dirs drop and intact ones keep suppressing.
    */
  def fsck(dryRun: Boolean = false): Seq[String] = {
    require(exists, "fsck on a table with no commits")
    val v = currentVersion
    // batched existence: one listStatus per PARENT prefix instead of one
    // exists() RPC per dir — a serial probe over 10^5-10^6 live dirs is
    // minutes of sequential round-trips on an object store, the listing
    // is bounded by distinct parents
    val liveData = snapshotAt(v).liveDirs
    val liveDv = snapshotAt(v).dvDirs
    val present: Set[Path] = (liveData ++ liveDv).map(resolvedPath).distinct
      .groupBy(_.getParent).iterator.flatMap { case (parent, kids) =>
        val names =
          try fs.listStatus(parent).iterator.map(_.getPath.getName).toSet
          catch { case _: java.io.FileNotFoundException => Set.empty[String] }
        kids.filter(k => names.contains(k.getName))
      }.toSet
    val missingData = liveData.filterNot(d => present.contains(resolvedPath(d)))
    val missingDv = liveDv.filterNot(d => present.contains(resolvedPath(d)))
    val missing = missingData ++ missingDv
    if (dryRun || missing.isEmpty) return missing
    val survivorsDv = snapshotAt(v).dvDirs.filterNot(missingDv.contains)
    val schemaJson = recordedSchemaJson(v)
    commitStaged("fsck", v + 1, Nil, missingData, None, schemaJson,
      survivorsDv.map("dvadd=" + _))
    missing
  }

  def vacuum(retain: Int = 1): Unit =
    vacuumPlan(retain).foreach(p => fs.delete(p, true))

  /** The paths [[vacuum]] would delete at `retain` — Delta's `VACUUM …
    * DRY RUN`. Pure planning: nothing is touched.
    */
  def vacuumPlan(retain: Int = 1): Seq[Path] = {
    val cur = currentVersion
    // no cur==0 early-out: with zero commits everything under data/ and
    // changes/ is crashed-writer staging, and the orphan sweep below is
    // exactly what reclaims it (referenced/allAdds are empty ranges)
    val keepFrom = math.max(1, cur - retain + 1)
    // live tombstone dirs are referenced storage exactly like data dirs
    val referenced = (keepFrom to cur)
      .flatMap(v => snapshotAt(v).liveDirs ++ snapshotAt(v).dvDirs).toSet
    val referencedRoots = referenced.map(_.split("/")(0))
    // clone-referenced (ext=) dirs are NEVER reclaimed here — the source
    // table's own vacuum owns that storage (and, as in Delta shallow
    // clones, vacuuming the source can break clones that still reference
    // it; [[cloneTo]] documents the trade)
    val allAdds = (1 to cur).flatMap(v => { val e = readLog(v); e.adds ++ e.dvAdds })
      .filterNot(_.startsWith(ExtPrefix))
    val (deadRootLeaves, mixedRootLeaves) = allAdds.filterNot(referenced.contains)
      .partition(d => !referencedRoots.contains(d.split("/")(0)))
    val deadRoots = deadRootLeaves.map(_.split("/")(0)).distinct
      .map(r => new Path(s"$dataDir/$r"))
    val mixedLeaves = mixedRootLeaves.map(d => new Path(s"$dataDir/$d"))
    // orphan staging roots from writers that crashed between stage() and
    // commit() appear in NO log entry — reclaim them too (only run with
    // no writer in flight)
    val committedRoots = allAdds.map(_.split("/")(0)).toSet
    val dataRoot = new Path(dataDir)
    val orphanRoots =
      if (!fs.exists(dataRoot)) Seq.empty
      else fs.listStatus(dataRoot).map(_.getPath).toSeq
        .filterNot(p => committedRoots.contains(p.getName))
    // change-file dirs no committed cdf= line references are the same
    // crashed-writer orphans; committed change files are kept (they are
    // what makes historical feeds cheap, and they are bounded by changed
    // rows, not table size)
    val committedCdf = (1 to cur).flatMap(v => readLog(v).cdf)
      .filterNot(_ == "none").toSet
    val chRoot = new Path(changesDir)
    val orphanCdf =
      if (!fs.exists(chRoot)) Seq.empty
      else fs.listStatus(chRoot).map(_.getPath).toSeq
        .filterNot(p => committedCdf.contains(p.getName))
    deadRoots ++ mixedLeaves ++ orphanRoots ++ orphanCdf
  }

  /** [[vacuumPlan]] for a wall-clock retention instant, as
    * [[vacuumRetainingSince]].
    */
  def vacuumPlanSince(tsMillis: Long): Seq[Path] = {
    val cur = currentVersion
    if (cur == 0) return Seq.empty
    val keepFrom = scala.util.Try(versionAsOf(tsMillis)).getOrElse(1)
    vacuumPlan(cur - keepFrom + 1)
  }
}

object VersionedTable {
  /** TBLPROPERTIES keys that carry the table LAYOUT (consumed by CREATE /
    * CONVERT / attach) — immutable after creation, refused by
    * [[VersionedTable.setProperties]] so they can never shadow the layout
    * in SHOW CREATE TABLE.
    */
  val reservedPropertyKeys: Set[String] =
    Set("pk", "partition", "statscols", "recordcdf")

  /** Property-key namespace reserved for engine state (identity-column
    * specs + watermarks). Refused on the user SET TBLPROPERTIES surface,
    * filtered out of the user-visible property map, but replayed /
    * checkpointed / time-traveled by the same `tprop=` machinery as user
    * properties — the overlays come for free.
    */
  val InternalPropPrefix = "graft."

  private[lake] def identitySpecKey(col: String): String =
    s"graft.identity.col.${col.toLowerCase}"
  private[lake] def identityWmKey(col: String): String =
    s"graft.identity.wm.${col.toLowerCase}"

  /** Identity-column definition (Delta/Databricks `GENERATED … AS
    * IDENTITY (START WITH start INCREMENT BY step)`): values are
    * system-assigned on insert-shaped writes when the batch omits the
    * column. `allowExplicit` = declared BY DEFAULT (explicit writes
    * allowed) vs ALWAYS (refused). Reference surface: Delta identity
    * columns; allocation here is shard-local (see
    * [[VersionedTable.applyIdentity]]) so assignment never shuffles.
    */
  final case class IdentitySpec(start: Long, step: Long,
                                allowExplicit: Boolean) {
    require(step != 0, "identity INCREMENT BY must be non-zero")
    private[lake] def encode: String = s"$start\t$step\t$allowExplicit"
  }

  /** Schema placement for ADD COLUMN … FIRST / AFTER. */
  sealed trait ColumnPlacement
  case object ColFirst extends ColumnPlacement
  final case class ColAfter(column: String) extends ColumnPlacement

  private[lake] def decodeIdentitySpec(s: String): IdentitySpec = {
    val Array(st, sp, ae) = s.split("\t", 3)
    IdentitySpec(st.toLong, sp.toLong, ae.toBoolean)
  }
}
