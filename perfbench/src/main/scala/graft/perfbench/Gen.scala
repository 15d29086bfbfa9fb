package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Size of one bronze drop: orders (each with 1 to 2·itemsPerOrder − 1
  * items, itemsPerOrder on average), new products, the dates its orders
  * span, and the share of earlier keys it re-delivers.
  */
final case class Shape(
    orders: Int,
    itemsPerOrder: Int,
    newProducts: Int,
    dates: Int,
    redeliverShare: Double)

/** What one drop must do to the silver and rejected tables, computed from
  * the generator's own spec — never from the engine's output.
  */
final case class DropSpec(
    no: Int,
    dir: String,
    bronzeRows: Long,
    total: Map[String, Long],
    rejected: Map[String, Long],
    firstDate: LocalDate)

/** Seeded generator of bronze CSV drops for the products / orders /
  * order_items flow, and the running expectation of the silver state.
  *
  * The sources follow the TPC-H mapping the catalog uses: products are
  * `part`-like (a name and one of six departments), orders carry an
  * `orders`-like amount and date, order items are `lineitem`-like rows of
  * their order. Each drop mixes clean rows with a seeded share of dirty
  * ones — null keys, unparsable timestamps, non-positive amounts, foreign
  * keys that miss, exact duplicates inside the drop — and re-deliveries of
  * earlier keys with changed values, which the MERGE must apply.
  *
  * Silver rows are kept as canonical strings (see [[Gen.canonical]]); the
  * engine-side twins of that encoding are `Flow.canonical` and
  * `Flow.canonicalCol`.
  */
final class Gen(seed: Long, shape: Shape, startDay: LocalDate) {
  import Gen._

  private val rng = new java.util.SplittableRandom(seed)
  private var drop = 0
  private var day = startDay
  private var nextOrder = 1
  private var nextItem = 1
  private var nextProduct = 1
  // the first ids of the current drop: re-deliveries pick older keys only
  private var firstNewOrder = 1
  private var firstNewItem = 1

  /** Expected silver state: pk → canonical row. */
  val silver: Map[String, mutable.LongMap[String]] =
    Datasets.map(_ -> mutable.LongMap.empty[String]).toMap
  /** Expected rejected rows per (dataset, reason), summed over drops. */
  val rejected: mutable.Map[(String, String), Long] =
    mutable.Map.empty[(String, String), Long].withDefaultValue(0L)

  // typed copies of the valid rows re-deliveries and the checks need
  private val orderRows = mutable.LongMap.empty[OrderRow]
  private val itemRows = mutable.LongMap.empty[ItemRow]
  private val productDept = mutable.LongMap.empty[Int]
  private val orderIds = mutable.ArrayBuffer.empty[Int]
  private val itemIds = mutable.ArrayBuffer.empty[Int]
  private val productIds = mutable.ArrayBuffer.empty[Int]

  private def pick[T](xs: mutable.ArrayBuffer[T]): T = xs(rng.nextInt(xs.size))
  private def chance(p: Double): Boolean = rng.nextDouble() < p

  /** Write the next drop under `root/drop_<n>/{products,orders,order_items}`
    * and fold its effect into the expectation.
    */
  def next(root: String, products: Int = shape.newProducts,
           orders: Int = shape.orders, dates: Int = shape.dates): DropSpec = {
    drop += 1
    val dir = s"$root/drop_$drop"
    val total = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val rej = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val days = (0 until dates).map(day.plusDays(_))
    val firstDate = day
    day = day.plusDays(dates)

    def reject(ds: String, reason: String): Unit = {
      rej(ds) += 1; rejected((ds, reason)) += 1
    }

    // ── products: new rows, re-deliveries with a changed name, dirt
    val pOut = new CsvOut(s"$dir/products/part-0.csv", ProductCols)
    val redeliveredP = mutable.Set.empty[Int]
    val firstNewProduct = nextProduct
    for (_ <- 0 until products) {
      val id = nextProduct; nextProduct += 1
      val dept = rng.nextInt(Departments.size)
      val name = s"product $id ${Words(rng.nextInt(Words.size))}"
      val row = Seq(id.toString, (dept + 1).toString, Departments(dept), name)
      if (chance(DirtyShare)) {
        if (rng.nextBoolean()) {
          pOut.row(Seq("", (dept + 1).toString, Departments(dept), name))
          reject("products", "Null product_id primary key")
        } else {
          pOut.row(Seq(id.toString, (dept + 1).toString, Departments(dept), ""))
          reject("products", "Null product name")
        }
      } else {
        pOut.row(row)
        if (chance(DupShare)) pOut.row(row)
        putProduct(id, dept, name)
      }
    }
    if (productIds.nonEmpty)
      for (_ <- 0 until (products * shape.redeliverShare).ceil.toInt) {
        val id = pick(productIds)
        if (id < firstNewProduct && redeliveredP.add(id)) {
          val dept = productDept(id.toLong)
          val name = s"product $id rev$drop ${Words(rng.nextInt(Words.size))}"
          pOut.row(Seq(id.toString, (dept + 1).toString, Departments(dept), name))
          putProduct(id, dept, name)
        }
      }
    total("products") = pOut.close()

    // ── orders and their items
    val oOut = new CsvOut(s"$dir/orders/part-0.csv", OrderCols)
    val iOut = new CsvOut(s"$dir/order_items/part-0.csv", ItemCols)
    val redeliveredO = mutable.Set.empty[Int]
    val redeliveredI = mutable.Set.empty[Int]
    def emitItem(it: ItemRow, dupOk: Boolean): Unit = {
      iOut.row(it.csv)
      if (dupOk && chance(DupShare)) iOut.row(it.csv)
      putItem(it)
    }
    for (_ <- 0 until orders) {
      val id = nextOrder; nextOrder += 1
      val d = days(rng.nextInt(days.size))
      val o = OrderRow(rng.nextInt(100) + 1, id, rng.nextInt(50000) + 1,
        epochSec(d) + rng.nextInt(86400), 100 + rng.nextInt(500000), d)
      if (chance(DirtyShare)) rng.nextInt(3) match {
        case 0 =>
          oOut.row(o.csv.updated(1, ""))
          reject("orders", "Null order_id primary key")
        case 1 =>
          oOut.row(o.csv.updated(3, "not-a-time"))
          reject("orders", "Invalid timestamp")
        case _ =>
          oOut.row(o.csv.updated(4, if (rng.nextBoolean()) "0.00" else "-" + cents(o.cents)))
          reject("orders", "Non-positive total amount")
      } else {
        oOut.row(o.csv)
        if (chance(DupShare)) oOut.row(o.csv)
        putOrder(o)
        // items of a clean order; dirty items reference nothing valid
        for (line <- 1 to 1 + rng.nextInt(2 * shape.itemsPerOrder - 1)) {
          val iid = nextItem; nextItem += 1
          val it = ItemRow(iid, id, o.user,
            if (chance(0.1)) -1 else rng.nextInt(31), pick(productIds),
            line, rng.nextInt(2), o.ts, d)
          if (chance(DirtyShare)) rng.nextInt(3) match {
            case 0 =>
              iOut.row(it.csv.updated(0, ""))
              reject("order_items", "Null primary identifier")
            case 1 =>
              iOut.row(it.copy(order = -iid).csv)
              reject("order_items", "Invalid order_id reference")
            case _ =>
              iOut.row(it.copy(product = nextProduct + 1000000 + iid).csv)
              reject("order_items", "Invalid product_id reference")
          } else emitItem(it, dupOk = true)
        }
      }
    }
    // re-deliveries of keys committed by EARLIER drops, with new values
    if (drop > 1) {
      for (_ <- 0 until (orders * shape.redeliverShare).ceil.toInt) {
        val id = pick(orderIds)
        if (id < firstNewOrder && redeliveredO.add(id)) {
          val o = orderRows(id.toLong).copy(cents = 100 + rng.nextInt(500000))
          oOut.row(o.csv)
          putOrder(o)
        }
      }
      for (_ <- 0 until (orders * shape.itemsPerOrder * shape.redeliverShare).ceil.toInt) {
        val id = pick(itemIds)
        if (id < firstNewItem && redeliveredI.add(id)) {
          val it = itemRows(id.toLong)
          emitItem(it.copy(addToCart = it.addToCart + 100, reordered = 1 - it.reordered),
            dupOk = false)
        }
      }
    }
    total("orders") = oOut.close()
    total("order_items") = iOut.close()
    firstNewOrder = nextOrder
    firstNewItem = nextItem
    DropSpec(drop, dir, total.values.sum, total.toMap, Datasets.map(d => d -> rej(d)).toMap,
      firstDate)
  }

  private def putProduct(id: Int, dept: Int, name: String): Unit = {
    if (!productDept.contains(id.toLong)) productIds += id
    productDept(id.toLong) = dept
    silver("products")(id.toLong) =
      canonical(Seq(id.toString, (dept + 1).toString, Departments(dept), name))
  }
  private def putOrder(o: OrderRow): Unit = {
    if (!orderRows.contains(o.id.toLong)) orderIds += o.id
    orderRows(o.id.toLong) = o
    silver("orders")(o.id.toLong) = o.canonical
  }
  private def putItem(it: ItemRow): Unit = {
    if (!itemRows.contains(it.id.toLong)) itemIds += it.id
    itemRows(it.id.toLong) = it
    silver("order_items")(it.id.toLong) = it.canonical
  }

  /** The `i`-th committed order (modulo their count) and its canonical
    * row, for point lookups.
    */
  def orderAt(i: Int): (Int, String) = {
    val id = orderIds(i % orderIds.size)
    (id, silver("orders")(id.toLong))
  }
  def orderCount: Int = orderIds.size

  /** (items, sum of order amounts in cents) over items whose order date
    * is in [from, to] — the expectation of the revenue read.
    */
  def revenue(from: LocalDate, to: LocalDate): (Long, Long) = {
    var n = 0L; var s = 0L
    itemRows.valuesIterator.foreach { it =>
      val o = orderRows(it.order.toLong)
      if (!o.date.isBefore(from) && !o.date.isAfter(to)) { n += 1; s += o.cents }
    }
    (n, s)
  }

  /** Expected (rows, hash) of one silver table now. */
  def state(ds: String): (Long, Long) = {
    val m = silver(ds)
    (m.size.toLong, m.valuesIterator.map(rowHash).sum)
  }

  /** The `n` smallest-pk canonical rows of a silver table. Keys are never
    * removed and new keys exceed all earlier ones, so once `n` keys exist
    * the smallest `n` stay the same.
    */
  def smallest(ds: String, n: Int): Seq[String] = {
    val m = silver(ds)
    val keys = smallestKeys.get(ds).filter(_.size >= n).getOrElse {
      val k = m.keysIterator.toSeq.sorted.take(n)
      smallestKeys(ds) = k
      k
    }
    keys.map(m(_))
  }
  private val smallestKeys = mutable.Map.empty[String, Seq[Long]]
}

object Gen {
  val Datasets: Seq[String] = Seq("products", "orders", "order_items")
  /** Shares of generated rows that are dirty, and that are duplicated
    * exactly within their drop.
    */
  val DirtyShare = 0.03
  val DupShare = 0.02
  val Departments: IndexedSeq[String] =
    IndexedSeq("bakery", "dairy", "frozen", "household", "produce", "snacks")
  private val Words = IndexedSeq("almond", "brass", "cobalt", "dune", "ember",
    "frost", "garnet", "honey", "ivory", "jade", "khaki", "linen")

  val ProductCols = Seq("product_id", "department_id", "department", "product_name")
  val OrderCols = Seq("order_num", "order_id", "user_id", "order_timestamp",
    "total_amount", "date")
  val ItemCols = Seq("id", "order_id", "user_id", "days_since_prior_order",
    "product_id", "add_to_cart_order", "reordered", "order_timestamp", "date")

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def epochSec(d: LocalDate): Long = d.atStartOfDay(ZoneOffset.UTC).toEpochSecond
  def cents(c: Int): String = f"${c / 100}%d.${c % 100}%02d"
  def tsText(s: Long): String =
    java.time.LocalDateTime.ofEpochSecond(s, 0, ZoneOffset.UTC).format(TsFmt)

  /** Canonical text of a silver row: fields joined by '|', nulls as 'N',
    * timestamps as epoch seconds, money as integer cents, dates as epoch
    * days. The engine side builds the same text with Spark expressions.
    */
  def canonical(fields: Seq[String]): String = fields.mkString("|")

  /** 64-bit row hash of a canonical row (xxHash64, seed 42, as Spark's
    * `xxhash64` over one string). Tables hash to the wrapping sum of their
    * row hashes, so the table hash ignores row order.
    */
  def rowHash(canon: String): Long = {
    val u = UTF8String.fromString(canon)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
  }

  final case class OrderRow(num: Int, id: Int, user: Int, ts: Long, cents: Int,
                            date: LocalDate) {
    def csv: Seq[String] = Seq(num.toString, id.toString, user.toString, tsText(ts),
      Gen.cents(this.cents), date.toString)
    def canonical: String = Gen.canonical(Seq(num.toString, id.toString,
      user.toString, ts.toString, this.cents.toString, date.toEpochDay.toString))
  }

  /** `daysPrior` −1 stands for the null of a customer's first order. */
  final case class ItemRow(id: Int, order: Int, user: Int, daysPrior: Int,
                           product: Int, addToCart: Int, reordered: Int,
                           ts: Long, date: LocalDate) {
    private def prior = if (daysPrior < 0) "" else daysPrior.toString
    def csv: Seq[String] = Seq(id.toString, order.toString, user.toString, prior,
      product.toString, addToCart.toString, reordered.toString, tsText(ts),
      date.toString)
    def canonical: String = Gen.canonical(Seq(id.toString, order.toString,
      user.toString, if (daysPrior < 0) "N" else prior, product.toString,
      addToCart.toString, reordered.toString, ts.toString,
      date.toEpochDay.toString))
  }

  /** A CSV file with a header; returns the data row count on close. */
  final class CsvOut(path: String, header: Seq[String]) {
    new File(path).getParentFile.mkdirs()
    private val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 16)
    private var n = 0L
    w.write(header.mkString(",")); w.write('\n')
    def row(fields: Seq[String]): Unit = {
      w.write(fields.mkString(",")); w.write('\n'); n += 1
    }
    def close(): Long = { w.close(); n }
  }
}
