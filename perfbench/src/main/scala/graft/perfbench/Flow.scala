package graft.perfbench

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.etl.Dedup
import graft.io.Sources
import graft.lake.{GraftSql, VersionedTable}
import graft.model.Schemas
import graft.quality.{Rule, Validator}

/** The paper's bronze → silver flow, driven through the engine's public
  * functions in the order `Pipeline.processDataset` calls them, committing
  * through the logged `VersionedTable`:
  * csvWithSchema → fkRule / withErrors / split (validated frame persisted
  * and counted in one pass) → append the rejected rows → Dedup.arbitrary →
  * merge. Every call is wrapped in a span of its layer.
  *
  * Checks compare the engine's output with the generator's expectation and
  * report a mismatch as a failure of the op that produced it.
  */
final class Flow(spark: SparkSession, root: String, trace: Trace, gen: Gen) {
  import Flow._

  private val clock = Some(java.time.Instant.parse("2025-05-01T00:00:00Z"))

  val silver: Map[String, VersionedTable] = Gen.Datasets.map { ds =>
    ds -> VersionedTable(spark, s"$root/silver/$ds", Seq(Pk(ds)), Seq(Part(ds)),
      statsCols = Seq(Pk(ds)))
  }.toMap
  val rejected: Map[String, VersionedTable] = Gen.Datasets.map { ds =>
    ds -> VersionedTable(spark, s"$root/rejected/$ds", Seq("_rid"),
      if (ds == "products") Nil else Seq("date"))
  }.toMap

  /** Expected orders row count at each committed orders version. */
  val ordersAt = scala.collection.mutable.LongMap.empty[Long]

  /** One dataset of a drop; returns failures (empty when all checks hold). */
  private def dataset(spec: DropSpec, ds: String, schema: StructType,
                      rules: DataFrame => (DataFrame, Seq[Rule])): Seq[String] = {
    val raw = Sources.csvWithSchema(spark, s"${spec.dir}/$ds", schema)
    val (validated, total, rejectedN, valid, rej) = trace.span(s"validate:$ds", "quality") {
      val (marked, ruleSeq) = rules(raw)
      val validated = Validator.withErrors(marked, ruleSeq)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val (valid, rej) = Validator.split(validated, ds, clock)
      val m = validated.select(count(lit(1)),
        coalesce(sum(when(col(Validator.ErrorCol).isNotNull, 1L).otherwise(0L)), lit(0L)))
        .head()
      (validated, m.getLong(0), m.getLong(1), valid, rej)
    }
    if (trace.active) probe.validated(total, rejectedN)
    try {
      if (rejectedN > 0) commit(rejected(ds)) {
        trace.span(s"append:$ds", "lake.commit") {
          rejected(ds).append(rej.withColumn("_rid",
            concat(lit(s"${spec.no}-"), monotonically_increasing_id().cast("string"))))
        }
      }
      val logReads0 = silver(ds).logReads
      commit(silver(ds)) {
        trace.span(s"merge:$ds", "lake.commit") {
          silver(ds).merge(Dedup.arbitrary(valid, Seq(Pk(ds))))
        }
      }
      if (trace.active) probe.mergeLogReads += silver(ds).logReads - logReads0
    } finally validated.unpersist()
    if (ds == "orders") ordersAt(silver(ds).currentVersion.toLong) = gen.silver(ds).size
    Seq(
      s"$ds rows read $total != ${spec.total(ds)}" -> (total == spec.total(ds)),
      s"$ds rows rejected $rejectedN != ${spec.rejected(ds)}" ->
        (rejectedN == spec.rejected(ds)))
      .collect { case (msg, false) => s"drop ${spec.no}: $msg" }
  }

  /** What the traced ops did to storage, measured around the calls. */
  val probe = new Probe

  /** Run `f`; in a traced op, return the (files, bytes) it added under the
    * table's root.
    */
  private def storageDelta(t: VersionedTable)(f: => Unit): (Long, Long) =
    if (!trace.active) { f; (0L, 0L) }
    else {
      def size = trace.span("measure", "bench")(tree(new java.io.File(t.path)))
      val (n0, b0) = size
      f
      val (n1, b1) = size
      (n1 - n0, b1 - b0)
    }

  /** A commit, with the files and bytes it wrote and the table's live-byte
    * growth recorded when traced.
    */
  private def commit(t: VersionedTable)(f: => Unit): Unit = {
    def live = trace.span("measure", "bench")(if (t.exists) liveBytes(t) else 0L)
    val live0 = if (trace.active) live else 0L
    val (files, bytes) = storageDelta(t)(f)
    if (trace.active) probe.commits += ((files, bytes, live - live0))
  }

  /** The commit-path canary: `n` metadata-only commits to the orders
    * table, each through a fresh handle (a new writer, with no log cached).
    * Returns (log length before, seconds, log files the writer read) per
    * commit. Replay that grows with the history instead of with the
    * checkpoint interval shows as a rising last column.
    */
  def logProbe(n: Int): Seq[(Int, Double, Int)] =
    (1 to n).map { i =>
      val t = silver("orders").copy()
      val t0 = System.nanoTime()
      val len = t.currentVersion
      t.setProperties(Map("perfbench.probe" -> i.toString))
      ordersAt(t.currentVersion.toLong) = gen.silver("orders").size
      (len, (System.nanoTime() - t0) / 1e9, t.logReads)
    }

  /** Ingest one drop into silver (products, then orders, then order items
    * validated against both). Returns failures.
    */
  def ingest(spec: DropSpec): Seq[String] = {
    dataset(spec, "products", Schemas.products, df => (df, Seq(
      Rule.notNull("product_id", "Null product_id primary key"),
      Rule.notNull("product_name", "Null product name")))) ++
    dataset(spec, "orders", Schemas.orders, df => (df, Seq(
      Rule.notNull("order_id", "Null order_id primary key"),
      Rule.notNull("order_timestamp", "Invalid timestamp"),
      Rule.positive("total_amount", "Non-positive total amount")))) ++
    dataset(spec, "order_items", Schemas.orderItems, df => {
      val orders = trace.span("snapshot:orders", "lake.read") { silver("orders").read }
      val products = trace.span("snapshot:products", "lake.read") { silver("products").read }
      val (m1, fkO) = Validator.fkRule(df, "order_id", orders, "order_id",
        "Invalid order_id reference")
      val (m2, fkP) = Validator.fkRule(m1, "product_id", products, "product_id",
        "Invalid product_id reference")
      (m2, Seq(
        Rule.notNull("id", "Null primary identifier"),
        Rule.notNull("order_id", "Null order_id"),
        Rule.notNull("product_id", "Null product_id"),
        Rule.notNull("order_timestamp", "Invalid timestamp"),
        fkO, fkP))
    })
  }

  /** A read: the call that returns the frame (snapshot), then the action
    * that runs it (scan). Returns the collected rows.
    */
  private def read(kind: String)(snapshot: => DataFrame): Array[Row] = {
    val df = trace.span(s"snapshot:$kind", "lake.read") { snapshot }
    trace.span(s"scan:$kind", "lake.read") { df.collect() }
  }

  def registerSql(): Unit =
    silver.foreach { case (ds, t) => GraftSql.register(spark, s"silver_$ds", t) }

  // Each read returns its check, to run after the read's timer stops.

  /** The reference's post-ETL smoke read of one table. */
  def smoke(ds: String): Check = {
    val rows = read("smoke") {
      GraftSql.run(spark, s"SELECT * FROM silver_$ds ORDER BY ${Pk(ds)} LIMIT 10")
    }
    () => {
      val got = rows.toSeq.map(canonical(Declared(ds)))
      val want = gen.smallest(ds, 10)
      if (got == want) Nil else Seq(s"smoke read of $ds: ${got.take(2)} != ${want.take(2)}")
    }
  }

  /** Point lookup of one order by primary key, with data skipping. */
  def point(i: Int): Check = {
    val (id, want) = gen.orderAt(i)
    val rows = read("point") { silver("orders").readWhere(col("order_id") === id) }
    val traced = trace.active
    () => {
      if (traced) probe.scans += ((silver("orders").lastScanDirs, liveDirs(silver("orders"))))
      val got = rows.toSeq.map(canonical(Declared("orders")))
      if (got == Seq(want)) Nil else Seq(s"point read of order $id: $got != $want")
    }
  }

  /** Revenue of the items whose order falls in [from, to]. */
  def range(from: LocalDate, to: LocalDate): Check = {
    val rows = read("range") {
      GraftSql.run(spark, "SELECT count(*) AS n, " +
        "CAST(sum(CAST(o.total_amount AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents " +
        "FROM silver_order_items i JOIN silver_orders o ON i.order_id = o.order_id " +
        s"WHERE o.date BETWEEN DATE'$from' AND DATE'$to'")
    }
    () => {
      val got = (rows(0).getLong(0), if (rows(0).isNullAt(1)) 0L else rows(0).getLong(1))
      val want = gen.revenue(from, to)
      if (got == want) Nil else Seq(s"revenue $from..$to: $got != $want")
    }
  }

  /** Row count of the orders table at an older committed version. */
  def travel(v: Int): Check = {
    val rows = read("travel") { silver("orders").readVersion(v).groupBy().count() }
    () => {
      val got = rows(0).getLong(0)
      val want = ordersAt(v.toLong)
      if (got == want) Nil else Seq(s"orders at version $v: $got != $want rows")
    }
  }

  /** Metadata-only row count of the order items table. */
  def fastCount(): Check = {
    val got = trace.span("snapshot:count", "lake.read") { silver("order_items").fastCount }
    () => {
      val want = gen.silver("order_items").size.toLong
      if (got.contains(want)) Nil else Seq(s"fastCount of order_items: $got != $want")
    }
  }

  private var minReadable = 1

  /** Compaction plus vacuum of the two date-partitioned silver tables;
    * vacuum keeps the last `retain` versions readable.
    */
  def maintain(retain: Int): Unit =
    Seq("orders", "order_items").foreach { ds =>
      val t = silver(ds)
      val (_, rewritten) = storageDelta(t)(trace.span(s"compact:$ds", "lake.maint")(t.compact()))
      if (ds == "orders") {
        ordersAt(t.currentVersion.toLong) = gen.silver(ds).size
        minReadable = math.max(1, t.currentVersion - retain + 1)
      }
      val (added, _) = storageDelta(t)(trace.span(s"vacuum:$ds", "lake.maint")(t.vacuum(retain)))
      if (trace.active) {
        probe.compactBytes += rewritten
        probe.vacuumFiles += -added
      }
    }

  /** Orders versions time travel can still read. */
  def readableOrderVersions: IndexedSeq[Int] =
    ordersAt.keys.map(_.toInt).filter(_ >= minReadable).toIndexedSeq.sorted

  /** Full-state check after the run: row count and order-free row hash of
    * each silver table, rejected rows per (dataset, reason).
    */
  def finalState(): Seq[String] = {
    val tables = Gen.Datasets.flatMap { ds =>
      val r = silver(ds).read.select(count(lit(1)),
        coalesce(sum(xxhash64(canonicalCol(Declared(ds)))), lit(0L))).head()
      val got = (r.getLong(0), r.getLong(1))
      val want = gen.state(ds)
      if (got == want) Nil else Seq(s"silver $ds (rows, hash) $got != $want")
    }
    val rej = Gen.Datasets.flatMap { ds =>
      val got = if (!rejected(ds).exists) Map.empty[String, Long]
        else rejected(ds).read.groupBy(Validator.ErrorCol).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = gen.rejected.collect { case ((d, why), n) if d == ds => why -> n }.toMap
      if (got == want) Nil else Seq(s"rejected $ds by reason $got != $want")
    }
    tables ++ rej
  }

  /** Bytes under the silver and rejected roots, and bytes of the files
    * live in their current versions.
    */
  def storage(): (Long, Long) = {
    val tables = silver.values ++ rejected.values.filter(_.exists)
    (Seq(s"$root/silver", s"$root/rejected").map(p => tree(new java.io.File(p))._2).sum,
      tables.map(liveBytes).sum)
  }
}

object Flow {
  type Check = () => Seq[String]
  val Pk = Map("products" -> "product_id", "orders" -> "order_id", "order_items" -> "id")
  val Part = Map("products" -> "department", "orders" -> "date", "order_items" -> "date")

  /** (files, bytes) under a directory. */
  def tree(f: java.io.File): (Long, Long) =
    if (f.isFile) (1L, f.length)
    else Option(f.listFiles).toSeq.flatten.map(tree)
      .foldLeft((0L, 0L)) { case ((n, b), (n2, b2)) => (n + n2, b + b2) }

  private def detail(t: VersionedTable) = t.detailFrame.head()
  /** Bytes of the files live in the table's current version. */
  def liveBytes(t: VersionedTable): Long = detail(t).getAs[Long]("size_bytes")
  def liveDirs(t: VersionedTable): Long = detail(t).getAs[Long]("num_live_dirs")

  /** Declared schema of each dataset: the column order of the canonical
    * text (the engine may store columns in another order).
    */
  val Declared: Map[String, StructType] = Map("products" -> Schemas.products,
    "orders" -> Schemas.orders, "order_items" -> Schemas.orderItems)

  /** [[Gen.canonical]] text of a collected row. */
  def canonical(schema: StructType)(r: Row): String = Gen.canonical(schema.fields.toSeq.map { f =>
    val i = r.fieldIndex(f.name)
    if (r.isNullAt(i)) "N"
    else f.dataType match {
      case TimestampType => (r.getTimestamp(i).getTime / 1000).toString
      case DoubleType => math.round(r.getDouble(i) * 100).toString
      case DateType => r.getDate(i).toLocalDate.toEpochDay.toString
      case _ => r.get(i).toString
    }
  })

  /** [[Gen.canonical]] text of every row, as a Spark expression. */
  def canonicalCol(schema: StructType): Column =
    concat_ws("|", schema.fields.toSeq.map { f =>
      val c = col(f.name)
      val v = f.dataType match {
        case TimestampType => unix_seconds(c).cast("string")
        case DoubleType => round(c * 100).cast("bigint").cast("string")
        case DateType => unix_date(c).cast("string")
        case _ => c.cast("string")
      }
      coalesce(v, lit("N"))
    }: _*)
}

/** Storage effects of the traced ops, for the per-layer metrics. */
final class Probe {
  import scala.collection.mutable.ArrayBuffer
  /** Per commit: (files added, bytes added, live-byte growth). */
  val commits = ArrayBuffer.empty[(Long, Long, Long)]
  /** Log files each merge read. */
  val mergeLogReads = ArrayBuffer.empty[Int]
  /** Per point read: (dirs scanned, live dirs). */
  val scans = ArrayBuffer.empty[(Int, Long)]
  val compactBytes = ArrayBuffer.empty[Long]
  val vacuumFiles = ArrayBuffer.empty[Long]
  var rowsIn, rowsRejected = 0L
  def validated(total: Long, rejected: Long): Unit = { rowsIn += total; rowsRejected += rejected }
}
