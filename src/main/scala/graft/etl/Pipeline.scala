package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.io.Sources
import graft.lake.{GraftSql, VersionedTable}
import graft.model.Schemas
import graft.quality.{Rule, Validator}

/** The end-to-end ETL flow of the reference
  * (/root/reference/scripts/glue/script.py:235-261): for each dataset in
  * order products → orders → order_items (children validate against already
  * processed parents): cast → validate → split → append rejected → dedup →
  * merge into the lake table. Returns per-dataset metrics.
  *
  * HOW-fixes over the reference, same observable WHAT:
  *  - the validated frame is persisted once before counting/splitting — the
  *    reference recomputed the source scan ~5× per dataset (SURVEY.md §4.4);
  *  - FK checks are joins, not driver-collected isin lists (SURVEY.md §4.3);
  *  - empty input no longer divides by zero (script.py:159 latent crash).
  */
object Pipeline {

  final case class DatasetMetrics(name: String, total: Long, valid: Long, rejected: Long) {
    def validPct: Double = if (total == 0) 100.0 else valid * 100.0 / total
  }

  final case class Result(
      products: DatasetMetrics, orders: DatasetMetrics, orderItems: DatasetMetrics)

  /** One dataset: validate → split → sink rejected → dedup → merge.
    * Returns (validated-and-deduplicated data, metrics) — the valid output
    * feeds child FK validation, exactly like the reference passes
    * `process_dataset`'s return as the parent key set (script.py:240,246,254-257).
    * Both sinks are logged tables, so each write is one atomic commit. The
    * rejected sink has no natural key: each rejected row gets a synthetic
    * `_rid` (a per-call unique prefix + `monotonically_increasing_id`),
    * computed over the persisted validated frame so every job the append
    * runs sees the same ids, and rejects from repeated runs accumulate.
    */
  def processDataset(
      raw: DataFrame,
      rules: DataFrame => (DataFrame, Seq[Rule]),
      pk: Seq[String],
      table: VersionedTable,
      rejectedTable: VersionedTable,
      name: String,
      frozenClock: Option[java.time.Instant] = None): (DataFrame, DatasetMetrics) = {
    val (marked, ruleSeq) = rules(raw)
    val validated = Validator.withErrors(marked, ruleSeq)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (valid, rejected) = Validator.split(validated, name, frozenClock)
      // one pass for both metrics (total + rejected), not two count jobs
      val m = validated.select(
        count(lit(1)).as("total"),
        coalesce(sum(when(col(Validator.ErrorCol).isNotNull, 1L).otherwise(0L)),
          lit(0L)).as("rej")) // coalesce: sum over an empty frame is null
        .head()
      val total = m.getLong(0)
      val rejectedCount = m.getLong(1)
      val validCount = total - rejectedCount
      if (rejectedCount > 0) {
        val prefix = java.util.UUID.randomUUID().toString + "-"
        rejectedTable.append(rejected.withColumn(RejectId,
          concat(lit(prefix), monotonically_increasing_id().cast("string"))))
      }
      // Reference dedups only the VALID side (script.py:177-196) with an
      // arbitrary survivor; arbitrary matches Delta-merge parity here.
      val deduped = Dedup.arbitrary(valid, pk)
      table.merge(deduped)
      (table.read, DatasetMetrics(name, total, validCount, rejectedCount))
    } finally validated.unpersist()
  }

  /** Synthetic primary key column [[processDataset]] gives rejected rows:
    * a rejected sink is a table keyed on it.
    */
  val RejectId = "_rid"

  /** One dataset's outputs in [[run]]'s lake layout: its silver table and
    * its rejected sink (script.py:134-149,199).
    */
  private final case class Output(dataset: String, pk: Seq[String],
                                  parts: Seq[String], rejectedParts: Seq[String]) {
    def silver(spark: SparkSession, lakeDir: String): VersionedTable =
      VersionedTable(spark, s"$lakeDir/silver_layer/$dataset", pk, parts)
    def rejected(spark: SparkSession, lakeDir: String): VersionedTable =
      VersionedTable(spark, s"$lakeDir/rejected/$dataset", Seq(RejectId), rejectedParts)
  }

  private val Products = Output("products", Seq("product_id"), Seq("department"), Nil)
  private val Orders = Output("orders", Seq("order_id"), Seq("date"), Seq("date"))
  private val OrderItems = Output("order_items", Seq("id"), Seq("date"), Seq("date"))

  /** Full three-dataset run from bronze CSVs into a lake directory. */
  def run(
      spark: SparkSession,
      productsCsv: String,
      ordersCsv: String,
      orderItemsCsv: String,
      lakeDir: String): Result = {

    def process(out: Output, csv: String, schema: StructType,
                rules: DataFrame => (DataFrame, Seq[Rule])) =
      processDataset(Sources.csvWithSchema(spark, csv, schema), rules, out.pk,
        out.silver(spark, lakeDir), out.rejected(spark, lakeDir), out.dataset)

    val (productsOut, pm) = process(Products, productsCsv, Schemas.products,
      df => (df, Seq(
        Rule.notNull("product_id", "Null product_id primary key"),
        Rule.notNull("product_name", "Null product name"))))

    val (ordersOut, om) = process(Orders, ordersCsv, Schemas.orders,
      df => (df, Seq(
        Rule.notNull("order_id", "Null order_id primary key"),
        Rule.notNull("order_timestamp", "Invalid timestamp"),
        Rule.positive("total_amount", "Non-positive total amount"))))

    // order_items: FKs against the two validated parents (script.py:102-132);
    // rule order = reference's first-error-wins chain.
    val (_, im) = process(OrderItems, orderItemsCsv, Schemas.orderItems,
      df => {
        val (m1, fkOrders) = Validator.fkRule(
          df, "order_id", ordersOut, "order_id", "Invalid order_id reference")
        val (m2, fkProducts) = Validator.fkRule(
          m1, "product_id", productsOut, "product_id", "Invalid product_id reference")
        (m2, Seq(
          Rule.notNull("id", "Null primary identifier"),
          Rule.notNull("order_id", "Null order_id"),
          Rule.notNull("product_id", "Null product_id"),
          Rule.notNull("order_timestamp", "Invalid timestamp"),
          fkOrders,
          fkProducts))
      })

    Result(pm, om, im)
  }

  /** Post-success bronze archive — the reference's archive_on_success
    * lambda (/root/reference/scripts/lambda/archive_on_success.py:25-39):
    * every file under `srcDir` is copied to
    * `archiveRoot/YYYY/MM/DD/<basename>` — archive date from `clock`
    * (frozen in tests for determinism), basenames flattened exactly like
    * the lambda's `os.path.basename(object_key)` S3-key handling — and
    * the original is deleted. Returns the number of files archived; a
    * re-run finds nothing under `srcDir` and is a no-op. The work is
    * driver-side file moves, as in the reference: cost is bounded by the
    * bronze batch's FILE COUNT (copies stream through the FS), never by
    * data size, and a bronze landing zone is a bounded batch by contract.
    */
  def archiveBronze(
      spark: SparkSession, srcDir: String, archiveRoot: String,
      clock: java.time.Instant = java.time.Instant.now()): Int = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    // resolve each endpoint on ITS OWN filesystem — the reference lambda
    // is S3-targeted, and src/dst may live on different schemes from
    // fs.defaultFS (s3a:// landing zone, file:// archive, …)
    val src = new Path(srcDir)
    val srcFs = src.getFileSystem(conf)
    if (!srcFs.exists(src)) return 0
    val day = java.time.format.DateTimeFormatter.ofPattern("yyyy/MM/dd")
      .withZone(java.time.ZoneOffset.UTC).format(clock)
    val dstDir = new Path(s"$archiveRoot/$day")
    val dstFs = dstDir.getFileSystem(conf)
    // guard the ACTUAL dated destination, not archiveRoot: a root that
    // resolves srcDir itself (self-copy truncates then deletes) or a
    // destination inside the subtree being recursively listed (moves of
    // moves, diverging walk) must both be refused — and nesting in either
    // direction is a misconfiguration, so refuse both
    val srcQ = srcFs.makeQualified(src).toUri
    val dstQ = dstFs.makeQualified(dstDir).toUri
    require(srcQ != dstQ &&
      !(dstQ.toString + "/").startsWith(srcQ.toString + "/") &&
      !(srcQ.toString + "/").startsWith(dstQ.toString + "/"),
      s"archive destination '$dstQ' must not coincide or nest with srcDir '$srcQ'")
    dstFs.mkdirs(dstDir)
    val it = srcFs.listFiles(src, true)
    var n = 0
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile) {
        // deleteSource moves; overwrite matches the lambda's copy_object
        // (same-basename re-archive on the same day replaces, as on S3)
        FileUtil.copy(srcFs, f.getPath, dstFs,
          new Path(dstDir, f.getPath.getName), true, true, conf)
        n += 1
      }
    }
    n
  }

  /** Crawler-parity catalog registration — the reference's post-ETL
    * StartCrawler step (/root/reference/code/step_function_code.json:27-63)
    * auto-registers every pipeline output in the Glue catalog so Athena's
    * validation queries can run as plain SQL. The engine-side equivalent:
    * each table [[run]] produced is registered through [[GraftSql.register]],
    * so its name reads the table's CURRENT version (a plain parquet
    * registration of the directory would also read superseded versions).
    * Outputs that do not exist — a dataset with zero rejects never creates
    * its rejected table — are skipped, exactly as a crawler only registers
    * prefixes that exist. Returns the registered table names.
    */
  def registerOutputs(
      spark: SparkSession, lakeDir: String, prefix: String): Seq[String] = {
    // the prefix is spliced into table identifiers: refuse anything that
    // would break out of (or inject into) SQL that names them
    require(prefix.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"registerOutputs prefix must be a bare SQL identifier; got '$prefix'")
    val outs = Seq(Products, Orders, OrderItems)
    val named =
      outs.map(o => s"${prefix}_silver_${o.dataset}" -> o.silver(spark, lakeDir)) ++
        outs.map(o => s"${prefix}_rejected_${o.dataset}" -> o.rejected(spark, lakeDir))
    named.collect { case (name, t) if t.exists =>
      GraftSql.register(spark, name, t)
      name
    }
  }
}
