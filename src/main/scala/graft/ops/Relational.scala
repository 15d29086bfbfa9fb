package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.etl.Dedup
import graft.quality.{Rule, Validator}

import Exprs._

/** The reference-parity operator inventory (SURVEY.md §2) as oracle-checked
  * queries over the driver testdata. Entity mapping per SURVEY.md §1.4:
  * orders→orders, order_items→lineitem, products→part, users→customer.
  *
  * Validation queries run over a "dirtied" derivation of orders (the
  * testdata is clean, the reference's CSVs are clean too — bad rows must be
  * synthesized, exactly like the reference's own tests inject a negative
  * amount, /root/reference/tests/test_glue_etl.py:65-80). The dirty
  * derivation is pure column logic so the DuckDB oracle reproduces it.
  */
object Relational {

  /** Dirty-orders derivation shared by the validation queries. Error rules
    * and strings mirror /root/reference/scripts/glue/script.py:134-141.
    */
  private def dirtyOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders").select(
      col("o_orderkey").as("src_key"),
      when(col("o_orderkey") % 1000 === 0, lit(null)).otherwise(col("o_orderkey")).as("order_id"),
      col("o_custkey").as("user_id"),
      when(col("o_orderkey") % 97 === 0, lit(null)).otherwise(col("o_orderdate")).as("order_timestamp"),
      when(col("o_orderkey") % 53 === 0, -col("o_totalprice"))
        .when(col("o_orderkey") % 59 === 0, lit(null))
        .otherwise(col("o_totalprice")).as("total_amount"))

  private val dirtySql =
    """WITH dirty AS (
      |  SELECT o_orderkey AS src_key,
      |         CASE WHEN o_orderkey % 1000 = 0 THEN NULL ELSE o_orderkey END AS order_id,
      |         o_custkey AS user_id,
      |         CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_orderdate END AS order_timestamp,
      |         CASE WHEN o_orderkey % 53 = 0 THEN -o_totalprice
      |              WHEN o_orderkey % 59 = 0 THEN NULL
      |              ELSE o_totalprice END AS total_amount
      |  FROM orders),
      |validated AS (
      |  SELECT *, CASE WHEN order_id IS NULL THEN 'Null order_id primary key'
      |                 WHEN order_timestamp IS NULL THEN 'Invalid timestamp'
      |                 WHEN total_amount IS NOT NULL AND total_amount <= 0 THEN 'Non-positive total amount'
      |            END AS validation_errors
      |  FROM dirty)
      |""".stripMargin

  private def ordersRules = Seq(
    Rule.notNull("order_id", "Null order_id primary key"),
    Rule.notNull("order_timestamp", "Invalid timestamp"),
    Rule.positive("total_amount", "Non-positive total amount"))

  /** events.ts is parquet TIMESTAMP(NANOS); Spark maps nanos to Long via the
    * legacy conf (TimestampType is microseconds). We only ever compare
    * second-granularity values, so ns-vs-µs truncation cannot diverge.
    */
  def eventsWithSec(spark: SparkSession, dir: String): DataFrame = {
    scala.util.Try(spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true"))
    val df = t(spark, dir, "events")
    val sec = df.schema("ts").dataType match {
      case LongType => expr("ts div 1000000000")
      case _        => unix_timestamp(col("ts"))
    }
    df.withColumn("sec", sec)
  }

  val queries: Seq[Q] = Seq(

    // ── §2.2 P1/P4: schema enforcement = permissive cast, null on failure.
    //    Output is aggregated per ship date so the demo carries no global
    //    sort of the full table (a scale-killer at 100×); the casts are
    //    still observable through the sums/counts. Plain cast, not
    //    try_cast: with ANSI off it nulls on failure WITHOUT the per-row
    //    exception TryCast throws — on this 100%-failing demo column
    //    try_cast was 34× slower (5.1 s vs 0.15 s on sf0.1). ──
    Q("q01_cast_enforce",
      (s, d) => t(s, d, "lineitem").select(
        col("l_shipdate").cast("date").as("ship_d"),
        col("l_partkey").cast("int").as("partkey_i"),
        col("l_returnflag").cast("int").as("flag_i"))
        .groupBy("ship_d")
        .agg(count(lit(1)).as("n"),
          sum(col("partkey_i").cast("long")).as("sum_partkey"),
          count(col("flag_i")).as("n_flag_casts"))
        .orderBy("ship_d"),
      Some("""SELECT CAST(l_shipdate AS DATE) AS ship_d,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(l_partkey AS INTEGER)) AS BIGINT) AS sum_partkey,
        CAST(COUNT(TRY_CAST(l_returnflag AS INTEGER)) AS BIGINT) AS n_flag_casts
        FROM lineitem GROUP BY 1 ORDER BY ship_d""")),

    // ── §2.2 P2/P3/P5 + §2.9: first-error-wins when-chain ──
    Q("q02_validate_errors",
      (s, d) => Validator.withErrors(dirtyOrders(s, d), ordersRules)
        .select("src_key", "order_id", "total_amount", "validation_errors")
        .orderBy("src_key"),
      Some(dirtySql +
        "SELECT src_key, order_id, total_amount, validation_errors FROM validated ORDER BY src_key")),

    // ── §2.2 P8/P9: split valid side, error column dropped ──
    Q("q03_split_valid",
      (s, d) => Validator.split(
        Validator.withErrors(dirtyOrders(s, d), ordersRules), "orders")._1
        .select("src_key", "order_id", "user_id", "total_amount")
        .orderBy("src_key"),
      Some(dirtySql +
        "SELECT src_key, order_id, user_id, total_amount FROM validated WHERE validation_errors IS NULL ORDER BY src_key")),

    // ── §2.2 P8/P11: rejected side + source metadata. The frozen clock
    //    makes rejection_time reproducible AND oracle-comparable (the
    //    default current_timestamp() stays for production callers) ──
    Q("q04_split_rejected",
      (s, d) => Validator.split(
        Validator.withErrors(dirtyOrders(s, d), ordersRules), "orders",
        Some(java.time.Instant.parse("2026-01-01T00:00:00Z")))._2
        .select("src_key", "validation_errors", "rejection_time", "source")
        .orderBy("src_key"),
      Some(dirtySql +
        "SELECT src_key, validation_errors, TIMESTAMP '2026-01-01 00:00:00' AS rejection_time, 'orders' AS source FROM validated WHERE validation_errors IS NOT NULL ORDER BY src_key")),

    // ── §2.3 J1 / §4.3: FK existence as LEFT ANTI join (the scale-safe
    //    rewrite of the reference's driver-collected isin list) ──
    Q("q05_fk_anti_join",
      (s, d) => {
        val parents = t(s, d, "part").filter(col("p_partkey") % 7 =!= 0)
          .select(col("p_partkey").as("l_partkey"))
        t(s, d, "lineitem").join(parents, Seq("l_partkey"), "left_anti")
          .select("l_partkey").distinct().orderBy("l_partkey")
      },
      Some("""SELECT DISTINCT l_partkey FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey % 7 <> 0 AND p.p_partkey = l.l_partkey)
        ORDER BY l_partkey""")),

    // ── §2.3 J1: LEFT SEMI side of the same membership test ──
    Q("q06_fk_semi_join",
      (s, d) => {
        val parents = t(s, d, "part").filter(col("p_partkey") % 7 =!= 0)
          .select(col("p_partkey").as("l_partkey"))
        t(s, d, "lineitem").join(parents, Seq("l_partkey"), "left_semi")
          .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem l
        WHERE EXISTS (SELECT 1 FROM part p WHERE p.p_partkey % 7 <> 0 AND p.p_partkey = l.l_partkey)
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ── §2.4 A2 / §7.4: deterministic PK dedup (window row_number). The
    //    tiebreaker must be a TOTAL order over the projected columns:
    //    (l_orderkey, l_linenumber) is NOT unique in the testdata, so
    //    ordering by l_linenumber alone let Spark and DuckDB pick different
    //    survivors (round-1 hash mismatch). Rows that tie on ALL projected
    //    columns are interchangeable, so this is engine-independent. ──
    Q("q07_dedup_pk",
      (s, d) => Dedup.deterministic(
        t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity"),
        Seq("l_orderkey"), Seq(col("l_linenumber"), col("l_partkey"), col("l_quantity")))
        .orderBy("l_orderkey"),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM (
        SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
               row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_quantity) AS rn
        FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""")),

    // ── §2.1 S6 / §7.3: MERGE upsert algebra (anti-join ∪ updates) ──
    Q("q08_merge_upsert",
      (s, d) => {
        val o = t(s, d, "orders")
        val target = o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice").as("price"))
        val updates = o.filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"), (col("o_totalprice") + 1000.0).as("price"))
        target.join(updates.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
          .unionByName(updates).orderBy("o_orderkey")
      },
      Some("""WITH target AS (SELECT o_orderkey, o_totalprice AS price FROM orders WHERE o_orderkey % 2 = 0),
        upd AS (SELECT o_orderkey, o_totalprice + 1000.0 AS price FROM orders WHERE o_orderkey % 3 = 0)
        SELECT * FROM (
          SELECT t.o_orderkey, t.price FROM target t
          WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = t.o_orderkey)
          UNION ALL SELECT o_orderkey, price FROM upd)
        ORDER BY o_orderkey""")),

    // ── §2.4 A1: distinct ──
    Q("q09_distinct",
      (s, d) => t(s, d, "lineitem").select("l_returnflag", "l_linestatus")
        .distinct().orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        ORDER BY l_returnflag, l_linestatus""")),

    // ── §2.4 A5: grouped aggregation (TPC-H Q1 shape; exact decimal math) ──
    Q("q10_agg_pricing",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-01 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(discPrice).cast("double").as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
        CAST(COUNT(*) AS BIGINT) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")),

    // ── §2.3 J3: 3-way join + agg + top-k (TPC-H Q3 shape); small dims are
    //    broadcast so the only shuffle is the groupBy on o_orderkey ──
    Q("q11_join3_topk",
      (s, d) => {
        val c = broadcast(t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING"))
        val o = t(s, d, "orders")
        val l = t(s, d, "lineitem")
        c.join(o, c("c_custkey") === o("o_custkey"))
          .join(l, l("l_orderkey") === o("o_orderkey"))
          .groupBy(o("o_orderkey"), o("o_orderdate").cast("date").as("odate"))
          .agg(sum(discPrice).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(10)
      },
      Some("""SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS odate,
        CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY o.o_orderkey, o.o_orderdate
        ORDER BY revenue DESC, o.o_orderkey LIMIT 10""")),

    // ── §2.3 J3: left outer join keeping zero-order customers. Orders are
    //    pre-aggregated to one row per customer BEFORE the join, so the
    //    joined/shuffled side is |customers|, not |orders| — the 100× plan
    //    (round-1 verdict) ──
    Q("q12_outer_join",
      (s, d) => {
        val c = t(s, d, "customer")
        val perCust = t(s, d, "orders").groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_o"), sum(dec(col("o_totalprice"))).as("sum_o"))
        c.join(perCust, c("c_custkey") === perCust("o_custkey"), "left")
          .select(col("c_custkey"),
            coalesce(col("n_o"), lit(0L)).as("n_orders"),
            coalesce(col("sum_o").cast("double"), lit(0.0)).as("spend"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
        COALESCE(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 0.0) AS spend
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey ORDER BY c.c_custkey""")),

    // ── §2.5: window functions — row_number, lag, running sum ──
    Q("q13_window_funcs",
      (s, d) => {
        val w = Window.partitionBy("l_suppkey")
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        t(s, d, "lineitem")
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_shipdate"))
          .withColumn("rn", row_number().over(w))
          .withColumn("prev_qty", lag("l_quantity", 1).over(w))
          .withColumn("run_qty", sum("l_quantity").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter(col("rn") <= 5)
          .drop("l_shipdate")
          .orderBy("l_suppkey", "rn")
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity, rn, prev_qty, run_qty FROM (
        SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
          row_number() OVER w AS rn,
          lag(l_quantity) OVER w AS prev_qty,
          SUM(l_quantity) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_qty
        FROM lineitem
        WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber))
        WHERE rn <= 5 ORDER BY l_suppkey, rn""")),

    // ── §2.6 L2: global top-k (TakeOrderedAndProject, no full sort) ──
    Q("q14_topk_orders",
      (s, d) => t(s, d, "orders").select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")),

    // ── §2.7: set operations ──
    Q("q15_setops",
      (s, d) => {
        val buyers = t(s, d, "orders").select(col("o_custkey").as("k")).distinct()
        val rich = t(s, d, "customer").filter(col("c_acctbal") > 5000)
          .select(col("c_custkey").as("k"))
        buyers.intersect(rich).withColumn("tag", lit("both"))
          .unionByName(rich.except(buyers).withColumn("tag", lit("only_rich")))
          .select("tag", "k").orderBy("tag", "k")
      },
      Some("""WITH buyers AS (SELECT DISTINCT o_custkey AS k FROM orders),
        rich AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000)
        SELECT 'both' AS tag, k FROM (SELECT k FROM buyers INTERSECT SELECT k FROM rich)
        UNION ALL
        SELECT 'only_rich' AS tag, k FROM (SELECT k FROM rich EXCEPT SELECT k FROM buyers)
        ORDER BY tag, k""")),

    // ── §2.4 A5: rollup (grouping sets) ──
    Q("q16_rollup",
      (s, d) => t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // ── §2.8 F5: date/time scalar functions ──
    Q("q17_datetime",
      (s, d) => t(s, d, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("rev"))
        .orderBy("yr", "mo"),
      Some("""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS yr,
        CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS mo,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
        FROM orders GROUP BY 1, 2 ORDER BY yr, mo""")),

    // ── §2.8 F5: JSON extraction from events.props ──
    Q("q18_json_events",
      (s, d) => eventsWithSec(s, d)
        .withColumn("k_val", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k_val").cast("long")).as("sum_k"),
          max("k_val").as("max_k"))
        .orderBy("event_type"),
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ── §2.5 + streaming-shaped analytics: sessionization by 30-min gap ──
    Q("q19_sessionize",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
        eventsWithSec(s, d)
          .withColumn("prev_sec", lag("sec", 1).over(w))
          .withColumn("new_sess",
            when(col("prev_sec").isNull || col("sec") - col("prev_sec") > 1800, 1).otherwise(0))
          .withColumn("sess_id", sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id")
          .agg(max("sess_id").cast("long").as("n_sessions"), count(lit(1)).as("n_events"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (
        SELECT user_id, event_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec FROM events),
        g AS (SELECT user_id, event_id, sec,
          CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_sess
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
        st AS (SELECT user_id,
          SUM(new_sess) OVER (PARTITION BY user_id ORDER BY sec, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
          FROM g)
        SELECT user_id, CAST(MAX(sess_id) AS BIGINT) AS n_sessions, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM st GROUP BY user_id ORDER BY user_id""")),

    // ── §2.6 L1: the reference's LIMIT-10 smoke query, made deterministic ──
    Q("q20_limit_smoke",
      (s, d) => t(s, d, "part")
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
        .orderBy("p_partkey").limit(10),
      Some("""SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
        FROM part ORDER BY p_partkey LIMIT 10"""))
  )
}
