package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.ops.{Exprs, Q, WorkDirs}
import Exprs._

/** Oracle-checked streaming query: two bronze file drops ingested through
  * the checkpointed stream — the second run picks up ONLY the new file and
  * its rows upsert over the first batch (§2.10 facade).
  */
object StreamOps {

  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("price", DoubleType)))

  /** DLQ batch router (q196 + DlqSpec): corrupt rows to quarantine,
    * clean rows onward — each sink under a batch-keyed partition dir
    * written with OVERWRITE, so foreachBatch's at-least-once replay of a
    * half-committed batch lands idempotently (a blind append would
    * double-count the replayed rows). Readers scan the parent dir;
    * partition discovery surfaces `batch` as a column they drop.
    */
  private[graft] def routeDlqBatch(work: String)(
      batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
    val b = batch.persist()
    val corrupt = b.filter(col("_corrupt").isNotNull).select(col("_corrupt").as("raw"))
    val clean = b.filter(col("_corrupt").isNull).drop("_corrupt")
    // An empty side would write a batch dir with no parquet part files,
    // and a feed that only ever routes one way leaves the OTHER sink
    // unreadable (schema inference finds zero files). Skip the empty
    // side — replay-safe because checkpointed batch content is
    // deterministic, so a replay of a skipped batch skips it identically.
    if (!corrupt.isEmpty)
      corrupt.write.mode("overwrite").parquet(s"$work/dlq/batch=$id")
    if (!clean.isEmpty)
      clean.write.mode("overwrite").parquet(s"$work/main/batch=$id")
    b.unpersist(); ()
  }

  /** Read a DLQ sink dir, tolerating the all-clean (or all-corrupt) feed
    * where the dir was never created. `schema` is the DATA schema (no
    * `batch`); the batch-keyed partition column is appended here and the
    * explicit schema is applied on BOTH branches, so callers get the same
    * columns and types whether the dir exists or not.
    */
  private[graft] def readDlqSink(
      s: org.apache.spark.sql.SparkSession, dir: String,
      schema: StructType): org.apache.spark.sql.DataFrame = {
    val full = schema.add("batch", IntegerType)
    if (Files.exists(Paths.get(dir)))
      s.read.schema(full).parquet(dir)
    else
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], full)
  }

  /** Move the single CSV part-file Spark wrote in `from` into dir `to`. */
  private def dropFile(from: String, to: String, name: String): Unit =
    graft.ops.FileDrop.moveSinglePart(from, to, name, ".csv")

  val queries: Seq[Q] = Seq(
    Q("q45_stream_merge",
      (s, d) => {
        val work = WorkDirs.workDir("graft_stream")
        val bronze = s"$work/bronze"
        val table = graft.lake.VersionedTable(s, s"$work/table", Seq("o_orderkey"))

        // drop 1: every 5th order at its base price
        t(s, d, "orders").filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), col("o_totalprice").as("price"))
          .coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$work/f1")
        dropFile(s"$work/f1", bronze, "batch1.csv")
        StreamIngest.ingestAvailable(s, bronze, schema, table.merge(_), s"$work/ckpt")

        // drop 2: every 10th order re-priced (+1000) — must upsert, and the
        // checkpoint must keep batch 1 from being reprocessed
        t(s, d, "orders").filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"), (col("o_totalprice") + lit(1000.0)).as("price"))
          .coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$work/f2")
        dropFile(s"$work/f2", bronze, "batch2.csv")
        StreamIngest.ingestAvailable(s, bronze, schema, table.merge(_), s"$work/ckpt")

        table.read.orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
          CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 5 = 0 ORDER BY o_orderkey""")),

    // ── §2.10: watermarked tumbling-window aggregation over an event-time
    //    stream; append mode emits exactly the windows the 1 h watermark
    //    has closed — mirrored in the oracle's cutoff predicate ──
    Q("q46_stream_window",
      (s, d) => {
        scala.util.Try(s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true"))
        val path = s"$d/events.parquet"
        val schema = s.read.parquet(path).schema
        val sec = schema("ts").dataType match {
          case LongType => expr("ts div 1000000000")
          case _        => unix_timestamp(col("ts"))
        }
        // the file-stream source wants a DIRECTORY to watch
        val srcDir = Paths.get(WorkDirs.workDir("graft_q46"))
        Files.copy(Paths.get(path), srcDir.resolve("events.parquet"))
        val agg = s.readStream.schema(schema).parquet(srcDir.toString)
          .withColumn("etime", timestamp_seconds(sec))
          .withWatermark("etime", "1 hour")
          .groupBy(window(col("etime"), "1 day").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 1000 + 0.5).cast("long")).as("qsum"))
        val qn = s"q46_mem_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val q = agg.writeStream.format("memory").queryName(qn)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table(qn)
          .select(col("w.start").cast("date").as("day"), col("event_type"),
            col("n"), col("qsum"))
          .orderBy("day", "event_type")
      },
      Some("""WITH agg AS (
          SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS qsum
          FROM events GROUP BY 1, 2)
        SELECT day, event_type, n, qsum FROM agg
        WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY
              <= (SELECT max(date_trunc('second', ts)) FROM events) - INTERVAL 1 HOUR
        ORDER BY day, event_type""")),

    // ── Stream-static enrichment: the standard dimension-join shape — a
    //    file stream of events joined to a STATIC customer dim inside the
    //    micro-batch plan, then a global aggregate in complete mode. The
    //    static side is broadcast, so each micro-batch pays a map-side
    //    hash join and the stream side never shuffles before the agg; at
    //    100 TB the dim must stay broadcast-sized (or be pre-bucketed and
    //    the join co-located) — an unbounded dim belongs in a
    //    stream-stream join (q65) instead ──
    Q("q98_stream_static_join",
      (s, d) => {
        scala.util.Try(s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true"))
        val path = s"$d/events.parquet"
        val schema = s.read.parquet(path).schema
        val srcDir = Paths.get(WorkDirs.workDir("graft_q98"))
        Files.copy(Paths.get(path), srcDir.resolve("events.parquet"))
        val dim = t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
        val agg = s.readStream.schema(schema).parquet(srcDir.toString)
          .join(broadcast(dim), col("user_id") === col("c_custkey"))
          .groupBy("c_mktsegment", "event_type")
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 1000 + 0.5).cast("long")).as("qsum"))
        val qn = s"q98_mem_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val q = agg.writeStream.format("memory").queryName(qn)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table(qn).orderBy("c_mktsegment", "event_type")
      },
      Some("""SELECT c_mktsegment, event_type,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS qsum
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY 1, 2 ORDER BY c_mktsegment, event_type""")),

    // ── §2.10: streaming dedup with bounded state —
    //    dropDuplicatesWithinWatermark over the event stream. Output is
    //    projected to the dedup KEY columns only, which makes the result
    //    deterministic (the surviving row among duplicates is arbitrary)
    //    and therefore oracle-comparable: one batch within the watermark ≡
    //    DISTINCT keys. Cross-batch suppression + post-expiry re-emission
    //    are covered by StreamDedupSpec (needs multi-batch state control) ──
    Q("q61_stream_dedup",
      (s, d) => {
        scala.util.Try(s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true"))
        val path = s"$d/events.parquet"
        val schema = s.read.parquet(path).schema
        val sec = schema("ts").dataType match {
          case LongType => expr("ts div 1000000000")
          case _        => unix_timestamp(col("ts"))
        }
        val srcDir = Paths.get(WorkDirs.workDir("graft_q61"))
        Files.copy(Paths.get(path), srcDir.resolve("events.parquet"))
        val dedup = s.readStream.schema(schema).parquet(srcDir.toString)
          .withColumn("etime", timestamp_seconds(sec))
          .withWatermark("etime", "1 hour")
          .select(col("user_id"), col("event_type"), col("etime"))
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .select("user_id", "event_type")
        val qn = s"q61_mem_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val q = dedup.writeStream.format("memory").queryName(qn)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table(qn).orderBy("user_id", "event_type")
      },
      Some("""SELECT DISTINCT user_id, event_type FROM events
        ORDER BY user_id, event_type""")),

    // ── §2.10: watermarked STREAM-STREAM inner join — clicks within the
    //    hour before each purchase, per user. The event-time range
    //    condition + both watermarks bound the join state (clicks older
    //    than the watermark minus the range are evicted); with a single
    //    AvailableNow batch the append-mode output is the complete join,
    //    so the oracle is the equivalent static range join ──
    Q("q65_stream_stream_join",
      (s, d) => {
        scala.util.Try(s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true"))
        val path = s"$d/events.parquet"
        val schema = s.read.parquet(path).schema
        val secOf = schema("ts").dataType match {
          case LongType => expr("ts div 1000000000")
          case _        => unix_timestamp(col("ts"))
        }
        val srcDir = Paths.get(WorkDirs.workDir("graft_q65"))
        Files.copy(Paths.get(path), srcDir.resolve("events.parquet"))
        def stream = s.readStream.schema(schema).parquet(srcDir.toString)
          .withColumn("etime", timestamp_seconds(secOf))
        val clicks = stream.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("etime").as("c_time"),
            col("event_id").as("click_id"))
          .withWatermark("c_time", "1 hour")
        val purchases = stream.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("etime").as("p_time"),
            col("event_id").as("purchase_id"))
          .withWatermark("p_time", "1 hour")
        val joined = purchases.join(clicks,
          col("c_user") === col("p_user") &&
            col("c_time") >= col("p_time") - expr("INTERVAL 1 HOUR") &&
            col("c_time") <= col("p_time"))
          .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"))
        val qn = s"q65_mem_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val q = joined.writeStream.format("memory").queryName(qn)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table(qn).orderBy("user_id", "purchase_id", "click_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id, event_type,
            CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec FROM events),
        c AS (SELECT user_id, sec, event_id AS click_id FROM e WHERE event_type = 'click'),
        p AS (SELECT user_id, sec, event_id AS purchase_id FROM e WHERE event_type = 'purchase')
        SELECT p.user_id, p.purchase_id, c.click_id
        FROM p JOIN c ON c.user_id = p.user_id
          AND c.sec >= p.sec - 3600 AND c.sec <= p.sec
        ORDER BY 1, 2, 3""")),

    // ── Streaming CDC into the VERSIONED table: each micro-batch commits
    //    atomically through the directory-granular log, so the ingest
    //    history is time-travelable — batch 1's state remains readable as
    //    version 1 after batch 2 upserts over it ──
    Q("q68_stream_versioned",
      (s, d) => {
        val work = WorkDirs.workDir("graft_svt")
        val bronze = s"$work/bronze"
        val table = graft.lake.VersionedTable(s, s"$work/table", Seq("o_orderkey"))

        t(s, d, "orders").filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), col("o_totalprice").as("price"))
          .coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$work/f1")
        dropFile(s"$work/f1", bronze, "batch1.csv")
        StreamIngest.ingestAvailable(s, bronze, schema,
          (b, id) => table.merge(b, txn = Some(("q68_cdc", id))), s"$work/ckpt")

        t(s, d, "orders").filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"), (col("o_totalprice") + lit(1000.0)).as("price"))
          .coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$work/f2")
        dropFile(s"$work/f2", bronze, "batch2.csv")
        StreamIngest.ingestAvailable(s, bronze, schema,
          (b, id) => table.merge(b, txn = Some(("q68_cdc", id))), s"$work/ckpt")

        assert(table.currentVersion == 2, s"expected 2 commits, got ${table.currentVersion}")
        // version 1 must still read as the pre-upsert state
        assert(table.readVersion(1).count() ==
          table.read.filter(col("o_orderkey") % 5 === 0).count())
        table.read.orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
          CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 5 = 0 ORDER BY o_orderkey""")),

    // ── §2.10 custom-state streaming (flatMapGroupsWithState): per-user
    //    session counts whose GroupState survives micro-batch boundaries.
    //    The event stream arrives as TWO time-split file drops through one
    //    checkpoint, so any session spanning the split must be counted
    //    once — only carried state can know that; a per-batch recount
    //    would double-count it. Oracle = static gaps-and-islands session
    //    count over the whole events table (same >30 min gap rule) ──
    Q("q89_stream_sessionize",
      (s, d) => {
        val work = WorkDirs.workDir("graft_q89")
        val e = graft.ops.Relational.eventsWithSec(s, d)
          .select(col("user_id"), col("sec"))
        val r = e.agg(min("sec"), max("sec")).collect()(0)
        val mid = r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 2
        e.filter(col("sec") <= mid).coalesce(1)
          .write.mode("overwrite").option("header", "true").csv(s"$work/f1")
        dropFile(s"$work/f1", s"$work/src", "drop1.csv")
        Sessionize.runAvailable(s, s"$work/src", s"$work/ckpt", s"$work/out")
        e.filter(col("sec") > mid).coalesce(1)
          .write.mode("overwrite").option("header", "true").csv(s"$work/f2")
        dropFile(s"$work/f2", s"$work/src", "drop2.csv")
        Sessionize.runAvailable(s, s"$work/src", s"$work/ckpt", s"$work/out")
        Sessionize.finalCounts(s, s"$work/out").orderBy("user_id")
      },
      Some("""WITH e AS (SELECT user_id,
            CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec FROM events),
        g AS (SELECT user_id, sec,
            CASE WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY sec) IS NULL
                   OR sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) > 1800
                 THEN 1 ELSE 0 END AS ns
          FROM e)
        SELECT user_id, CAST(SUM(ns) AS BIGINT) AS n_sessions
        FROM g GROUP BY user_id ORDER BY user_id""")),

    // ── Streaming read FROM the versioned table (Delta streaming-source
    //    parity, the reverse of q68's streaming write): three commits —
    //    initial load, UPDATE, merge-on-read delete — consumed by
    //    readChangesStream as version-stamped change records. Offsets are
    //    commit versions checkpointed by the engine, and each micro-batch
    //    opens ONLY the recorded change files (plus the v1 snapshot), so a
    //    100 TB table's consumer pays for its deltas, never a re-scan ──
    Q("q113_stream_table_changes",
      (s, d) => {
        val work = WorkDirs.workDir("graft_tcs")
        val vt = graft.lake.VersionedTable(s, s"$work/t", Seq("o_orderkey"),
          Seq("status"), recordCdf = true)
        val base = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice").as("price"),
            col("o_orderstatus").as("status"))
        vt.overwrite(base)                                               // v1
        vt.update(col("o_orderkey") % 40 === 0,
          Map("price" -> (col("price") + lit(1000.0))))                  // v2
        vt.deleteMor(col("o_orderkey") % 60 === 0)                       // v3
        val qn = s"q113_mem_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val q = vt.readChangesStream()
          .writeStream.format("memory").queryName(qn)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table(qn)
          .select(col("o_orderkey"), col("price"), col("change_type"),
            col("_commit_version"))
          .orderBy("_commit_version", "o_orderkey", "change_type")
      },
      Some("""WITH b AS (SELECT o_orderkey, o_totalprice AS price FROM orders)
        SELECT * FROM (
          SELECT o_orderkey, price, 'insert' AS change_type,
                 CAST(1 AS BIGINT) AS _commit_version FROM b
          UNION ALL
          SELECT o_orderkey, price, 'update_preimage', 2 FROM b
          WHERE o_orderkey % 40 = 0
          UNION ALL
          SELECT o_orderkey, price + 1000.0, 'update_postimage', 2 FROM b
          WHERE o_orderkey % 40 = 0
          UNION ALL
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 40 = 0 THEN price + 1000.0 ELSE price END,
                 'delete', 3 FROM b
          WHERE o_orderkey % 60 = 0)
        ORDER BY _commit_version, o_orderkey, change_type""")),

    // ── Incremental curation loop, end to end: a source documents table
    //    (recordCdf) mutates across four commits; readChangesStream +
    //    foreachBatch maintain a CURATED table — latest image per key,
    //    quality gate (n_chars ≥ 200), upserts via merge, removals (hard
    //    deletes AND docs that fell below the gate) via a conditional
    //    mergeInto matched-delete, all key-joined and partition-granular,
    //    nothing collected to the driver. The consumer pays per-batch for
    //    the CHANGED rows only — the reprocess-only-what-changed shape an
    //    LLM-data pipeline needs over a 100 TB corpus. Oracle = the gate
    //    applied to the source's final state ──
    Q("q118_incremental_curation",
      (s, d) => {
        val work = WorkDirs.workDir("graft_incr_stream")
        val src = graft.lake.VersionedTable(s, s"$work/src", Seq("doc_id"),
          Seq("lang"), recordCdf = true)
        // lang rides the pk: it is partition-stable in this flow (a pure
        // attribute of the doc), and partition cols ⊆ pk skips the merge
        // migration probe — an A/B of doc_id vs (doc_id, lang) as the
        // curated pk measured the composite key consistently FASTER once
        // the merge source batch was persisted (min 10.3 vs 12.4 s at sf0.1)
        val curated = graft.lake.VersionedTable(s, s"$work/curated",
          Seq("doc_id", "lang"), Seq("lang"))
        def applyBatch(batch: org.apache.spark.sql.DataFrame): Unit = {
          // latest image per key — one batch may span several commits
          val ord = col("_commit_version") * 2 +
            when(col("change_type") === "update_preimage", 0).otherwise(1)
          // persisted: the netted batch feeds four consumers (two emptiness
          // probes + two mutators) — pay the aggregation once per batch.
          // min/max(lang) ride the SAME aggregation (NOT countDistinct —
          // a distinct agg mixed in forces an Expand, measured +0.6 s) and
          // the lang-stability guard is an assert_true INSIDE the
          // projection (q190's __guard pattern — zero extra Spark actions;
          // a dedicated require(... isEmpty) probe measured +3 s/sweep):
          // the composite (doc_id, lang) pk + partition-stable updateAll
          // below are only exact while lang never changes for a doc —
          // enforce it per batch so a future flow change fails loudly
          // instead of stranding a stale (doc_id, old_lang) row the
          // mergeInto can never match
          val netted = batch
            .groupBy("doc_id")
            .agg(max_by(struct(batch.columns.filter(_ != "doc_id").map(col): _*),
              ord).as("x"),
              min(col("lang")).as("_lang_lo"), max(col("lang")).as("_lang_hi"),
              count(col("lang")).as("_lang_n"), count(lit(1)).as("_img_n"))
            .persist()
          // min/max skip NULLs, so the guard also requires every image to
          // CARRY a lang (_lang_n = _img_n): a NULL->'en' flip would
          // otherwise slip past min=max and still strand the (doc_id,
          // NULL) row, and a NULL lang can never be a merge key here
          val latest = netted
            .withColumn("__lang_guard", expr(
              "assert_true(_lang_n = _img_n AND _lang_lo = _lang_hi, " +
                "'lang-stability invariant violated: a batch carries images " +
                "of one doc_id with NULL or differing langs — the (doc_id, " +
                "lang) pk + partition-stable merge would strand the " +
                "old-lang row')"))
            .filter(col("__lang_guard").isNull) // consume it or pruning drops it
            .select(col("doc_id") +: batch.columns.filter(_ != "doc_id")
              .map(c => col(s"x.$c").as(c)): _*)
          try {
            val keepCond = col("change_type").isin("insert", "update_postimage") &&
              col("n_chars") >= 200
            if (!curated.exists) {
              // creation path: the first batch is the snapshot — gate + write
              val keep = latest.filter(keepCond)
                .drop("change_type", "_commit_version")
              if (!keep.isEmpty) curated.merge(keep)
            } else
              // ONE conditional MERGE per batch — upsert, gate-eviction and
              // takedown in a single commit (half the stage/stats/probe
              // passes of a merge + matched-delete pair; lang is
              // partition-stable under these mutations, so updateAll's
              // keep-target-partition rule is exact). change_type /
              // _commit_version ride the source only for the clause
              // conditions: non-target source columns stage nothing
              curated.mergeInto(latest)
                .whenMatched(expr("s.change_type = 'delete' OR s.n_chars < 200"))
                  .delete()
                .whenMatched().updateAll()
                .whenNotMatched(expr(
                  "s.change_type IN ('insert', 'update_postimage') AND s.n_chars >= 200"))
                  .insertAll()
                .execute()
          } finally netted.unpersist(false)
        }
        def drain(): Unit = {
          val q = src.readChangesStream()
            .writeStream
            .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => applyBatch(b))
            .option("checkpointLocation", s"$work/ckpt")
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        src.overwrite(t(s, d, "documents"))                          // v1
        drain()                                                      // snapshot
        src.update(col("doc_id") % 10 === 0,                         // v2
          Map("n_chars" -> (col("n_chars") + 7)))
        src.update(col("doc_id") % 9 === 0,                          // v3
          Map("n_chars" -> (col("n_chars") - 150)))
        drain()                                                      // v2+v3 batch
        src.deleteMor(col("doc_id") % 17 === 0)                      // v4
        drain()                                                      // the deletes
        curated.read.select("doc_id", "lang", "n_chars").orderBy("doc_id")
      },
      Some("""WITH cur AS (SELECT doc_id, lang,
            n_chars + (CASE WHEN doc_id % 10 = 0 THEN 7 ELSE 0 END)
                    - (CASE WHEN doc_id % 9 = 0 THEN 150 ELSE 0 END) AS n_chars
          FROM documents)
        SELECT doc_id, lang, n_chars FROM cur
        WHERE doc_id % 17 <> 0 AND n_chars >= 200
        ORDER BY doc_id""")),

    // ── Streaming write INTO the versioned table via the `graft-table`
    //    SINK — the format-level counterpart of q68's hand-rolled
    //    foreachBatch, and the write-direction complement of q113's
    //    source. Each micro-batch commits through the table's txn ledger
    //    keyed (checkpoint, batchId), so the engine's at-least-once
    //    addBatch replay becomes exactly-once in the table; two file
    //    drops through one checkpoint upsert by PK, partition-pruned ──
    Q("q121_stream_sink",
      (s, d) => {
        val work = WorkDirs.workDir("graft_snk")
        val bronze = s"$work/bronze"
        val table = graft.lake.VersionedTable(s, s"$work/table", Seq("o_orderkey"))
        def drainInto(): Unit = {
          val q = s.readStream.schema(schema).option("header", "true").csv(bronze)
            .writeStream.format("graft-table").options(table.sinkOptions)
            .option("checkpointLocation", s"$work/ckpt")
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        t(s, d, "orders").filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), col("o_totalprice").as("price"))
          .coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$work/f1")
        dropFile(s"$work/f1", bronze, "batch1.csv")
        drainInto()
        t(s, d, "orders").filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"), (col("o_totalprice") + lit(1000.0)).as("price"))
          .coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$work/f2")
        dropFile(s"$work/f2", bronze, "batch2.csv")
        drainInto()
        assert(table.currentVersion == 2,
          s"expected one commit per micro-batch, got ${table.currentVersion}")
        table.read.orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
          CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 5 = 0 ORDER BY o_orderkey""")),

    // ── Streaming dead-letter quarantine: PERMISSIVE JSON ingest where
    //    malformed lines land in _corrupt instead of failing the stream,
    //    and ONE foreachBatch pass routes them to a quarantine table
    //    while clean rows continue to the main table — the
    //    never-drop-never-die ingest contract a production feed needs
    //    (a FAILFAST stream dies on the first bad line; DROPMALFORMED
    //    silently loses data). Corruption is deterministic (every
    //    o_orderkey % 5 == 0 line gets a broken prefix), so the oracle
    //    states both routes in closed form. Both sinks write to a
    //    batch-keyed partition dir with overwrite, so a replayed batch
    //    (foreachBatch is at-least-once) lands idempotently instead of
    //    double-appending. Per-batch cost is the batch itself — one
    //    persisted pass, two filtered overwrites, no driver collection ──
    Q("q196_stream_dlq",
      (s, d) => {
        val work = WorkDirs.workDir("graft_q196")
        val payload = to_json(struct(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")))
        t(s, d, "orders").filter(col("o_orderkey") % 13 === 0)
          .select(when(col("o_orderkey") % 5 === 0,
              concat(lit("{corrupt "), payload)).otherwise(payload)
            .as("value"))
          .write.mode("overwrite").text(s"$work/feed")
        val sch = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType),
          StructField("_corrupt", StringType)))
        val parsed = s.readStream.schema(sch)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt")
          .json(s"$work/feed")
        val q = parsed.writeStream
          .foreachBatch(StreamOps.routeDlqBatch(work) _)
          .option("checkpointLocation", s"$work/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        // schema-tolerant sink reads: a hypothetical all-clean (or
        // all-corrupt) feed leaves one sink dir nonexistent, which a bare
        // parquet read cannot even schema-infer
        val mainSch = StructType(sch.filterNot(_.name == "_corrupt"))
        val dlqSch = StructType(Seq(StructField("raw", StringType)))
        readDlqSink(s, s"$work/main", mainSch)
          .drop("batch")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(dec(col("o_totalprice"))).cast("double").as("rev"))
          .unionByName(readDlqSink(s, s"$work/dlq", dlqSch)
            .agg(count(lit(1)).as("n"))
            .select(lit("_DLQ").as("o_orderstatus"), col("n"),
              lit(null).cast("double").as("rev")))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
        FROM orders WHERE o_orderkey % 13 = 0 AND o_orderkey % 5 <> 0
        GROUP BY 1
        UNION ALL
        SELECT '_DLQ', CAST(COUNT(*) AS BIGINT), CAST(NULL AS DOUBLE)
        FROM orders WHERE o_orderkey % 13 = 0 AND o_orderkey % 5 = 0
        ORDER BY o_orderstatus"""))
  )
}
