package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.etl.Pipeline
import graft.lake.{GraftSql, VersionedTable}

/** End-to-end flow parity with /root/reference/scripts/glue/script.py:235-261:
  * bronze CSVs → cast → validate → split → rejected sink → dedup → merged
  * silver tables, children validated against processed parents.
  */
class PipelineSpec extends SparkSpec {

  private def writeCsv(dir: String, name: String, header: String, rows: Seq[String]): String = {
    val p = Paths.get(dir, name)
    Files.write(p, (header +: rows).mkString("\n").getBytes)
    p.toString
  }

  // handles on Pipeline.run's output tables (same layout as it writes)
  private def silver(lake: String, ds: String, pk: String, part: String) =
    VersionedTable(spark, s"$lake/silver_layer/$ds", Seq(pk), Seq(part))
  private def rejected(lake: String, ds: String, parts: Seq[String]) =
    VersionedTable(spark, s"$lake/rejected/$ds", Seq(Pipeline.RejectId), parts)

  test("full three-dataset run: metrics, silver contents, rejected audit") {
    val work = tmpDir("pipe")
    val products = writeCsv(work, "products.csv",
      "product_id,department_id,department,product_name",
      Seq("1,10,Books,BookA", "2,20,Toys,ToyB", ",30,Home,NoPk", "3,30,Home,"))
    val orders = writeCsv(work, "orders.csv",
      "order_num,order_id,user_id,order_timestamp,total_amount,date",
      Seq(
        "1,100,7,2025-04-01 10:00:00,50.0,2025-04-01",
        "2,101,7,2025-04-01 11:00:00,-5.0,2025-04-01", // rejected: non-positive
        "3,102,8,2025-04-02 09:00:00,20.0,2025-04-02",
        "4,102,8,2025-04-02 09:00:00,20.0,2025-04-02")) // PK dup → dedup to 1
    val items = writeCsv(work, "order_items.csv",
      "id,order_id,user_id,days_since_prior_order,product_id,add_to_cart_order,reordered,order_timestamp,date",
      Seq(
        "1,100,7,,1,1,0,2025-04-01 10:00:00,2025-04-01",
        "2,999,7,,1,2,0,2025-04-01 10:00:00,2025-04-01",  // FK miss: order 999
        "3,100,7,,99,3,0,2025-04-01 10:00:00,2025-04-01", // FK miss: product 99
        "4,101,7,,1,4,0,2025-04-01 10:00:00,2025-04-01")) // FK miss: order 101 was rejected

    val lake = s"$work/lake"
    val res = Pipeline.run(spark, products, orders, items, lake)

    assert(res.products.total == 4 && res.products.valid == 2 && res.products.rejected == 2)
    assert(res.orders.total == 4 && res.orders.valid == 3 && res.orders.rejected == 1)
    // item 4 references order 101 which was REJECTED upstream — children
    // validate against processed parents (script.py:240,246,254-257)
    assert(res.orderItems.total == 4 && res.orderItems.valid == 1 && res.orderItems.rejected == 3)

    val ordersTable = silver(lake, "orders", "order_id", "date")
    val silverOrders = ordersTable.read
    assert(silverOrders.count() == 2) // 100 and deduped 102
    assert(silverOrders.filter(col("order_id") === 102).count() == 1)

    val silverItems = silver(lake, "order_items", "id", "date").read
    assert(silverItems.select("id").collect().map(_.getInt(0)).toSeq == Seq(1))

    val rejectedItems = rejected(lake, "order_items", Seq("date")).read
    val errs = rejectedItems.select("id", "validation_errors")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(errs == Map(
      2 -> "Invalid order_id reference",
      3 -> "Invalid product_id reference",
      4 -> "Invalid order_id reference"))
    assert(rejectedItems.columns.contains("rejection_time"))

    // partition layout from the commit log: silver orders partitioned by date
    assert(ordersTable.partitionPaths == Seq("date=2025-04-01", "date=2025-04-02"))
  }

  test("crawler-parity registration: every existing output becomes a " +
      "catalog table queryable as SQL; absent rejected dirs are skipped") {
    val work = tmpDir("pipereg")
    val products = writeCsv(work, "products.csv",
      "product_id,department_id,department,product_name",
      Seq("1,10,Books,BookA", ",30,Home,NoPk"))
    val orders = writeCsv(work, "orders.csv",
      "order_num,order_id,user_id,order_timestamp,total_amount,date",
      Seq("1,100,7,2025-04-01 10:00:00,50.0,2025-04-01"))
    val items = writeCsv(work, "order_items.csv",
      "id,order_id,user_id,days_since_prior_order,product_id,add_to_cart_order,reordered,order_timestamp,date",
      Seq("1,100,7,,1,1,0,2025-04-01 10:00:00,2025-04-01"))
    val lake = s"$work/lake"
    Pipeline.run(spark, products, orders, items, lake)
    val names = Pipeline.registerOutputs(spark, lake, "pipereg")
    // orders and order_items had zero rejects → no rejected dir → skipped,
    // exactly like a crawler only registers prefixes that exist
    assert(names.toSet == Set("pipereg_silver_products", "pipereg_silver_orders",
      "pipereg_silver_order_items", "pipereg_rejected_products"))
    // the reference's post-ETL validation queries run as plain SQL over
    // the registered names (step_function_code.json:75,94,113)
    assert(spark.sql("SELECT * FROM pipereg_silver_orders LIMIT 10").count() == 1)
    assert(spark.sql("SELECT * FROM pipereg_silver_products LIMIT 10").count() == 1)
    assert(spark.sql("SELECT * FROM pipereg_silver_order_items LIMIT 10").count() == 1)
    assert(spark.sql("SELECT * FROM pipereg_rejected_products").count() == 1)
    // partition columns survived registration
    assert(spark.sql("SELECT date FROM pipereg_silver_orders").count() == 1)
    names.foreach(n => GraftSql.unregister(spark, n))
  }

  test("bronze archive: post-success move to archive/YYYY/MM/DD with " +
      "flattened basenames, originals deleted, re-run is a no-op") {
    val work = tmpDir("pipearch")
    val bronze = s"$work/bronze"
    Files.createDirectories(Paths.get(bronze, "nested"))
    writeCsv(bronze, "products.csv", "product_id", Seq("1"))
    writeCsv(s"$bronze/nested", "orders.csv", "order_id", Seq("100"))
    val clock = java.time.Instant.parse("2026-03-05T12:00:00Z")
    val n = Pipeline.archiveBronze(spark, bronze, s"$work/archive", clock)
    assert(n == 2)
    // lambda-parity layout: archive/YYYY/MM/DD/<basename>, nesting flattened
    assert(Files.exists(Paths.get(s"$work/archive/2026/03/05/products.csv")))
    assert(Files.exists(Paths.get(s"$work/archive/2026/03/05/orders.csv")))
    // originals are deleted
    assert(!Files.exists(Paths.get(bronze, "products.csv")))
    assert(!Files.exists(Paths.get(bronze, "nested/orders.csv")))
    // re-run: nothing left to archive, layout untouched (ignore the local
    // filesystem's hidden .crc checksum siblings)
    assert(Pipeline.archiveBronze(spark, bronze, s"$work/archive", clock) == 0)
    import scala.jdk.CollectionConverters._
    val archived = Files.list(Paths.get(s"$work/archive/2026/03/05"))
      .iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).toSeq
    assert(archived.sorted == Seq("orders.csv", "products.csv"))
    // a missing source dir is a clean no-op (the lambda's 'No files found')
    assert(Pipeline.archiveBronze(spark, s"$work/nope", s"$work/archive", clock) == 0)
  }

  test("second run upserts instead of duplicating (MERGE parity)") {
    val work = tmpDir("pipe")
    val products = writeCsv(work, "products.csv",
      "product_id,department_id,department,product_name",
      Seq("1,10,Books,BookA", ",30,Home,NoPk")) // one reject per run
    val orders = writeCsv(work, "orders.csv",
      "order_num,order_id,user_id,order_timestamp,total_amount,date",
      Seq("1,100,7,2025-04-01 10:00:00,50.0,2025-04-01"))
    val items = writeCsv(work, "order_items.csv",
      "id,order_id,user_id,days_since_prior_order,product_id,add_to_cart_order,reordered,order_timestamp,date",
      Seq("1,100,7,,1,1,0,2025-04-01 10:00:00,2025-04-01"))
    val lake = s"$work/lake"
    Pipeline.run(spark, products, orders, items, lake)
    Pipeline.run(spark, products, orders, items, lake)
    val orderTable = silver(lake, "orders", "order_id", "date")
    assert(orderTable.read.count() == 1)
    assert(silver(lake, "order_items", "id", "date").read.count() == 1)
    assert(silver(lake, "products", "product_id", "department").read.count() == 1)
    // each run is one logged commit: the first run's version stays readable
    assert(orderTable.currentVersion == 2)
    assert(orderTable.readVersion(1).count() == 1)
    // rejects accumulate across runs under distinct synthetic keys
    assert(rejected(lake, "products", Nil).read.count() == 2)
  }
}
