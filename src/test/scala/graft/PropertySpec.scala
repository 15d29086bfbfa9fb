package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.etl.Dedup
import graft.quality.{Rule, Validator}

/** Property-based invariants (SURVEY.md §5.3) over ScalaCheck generators
  * with pinned seeds — deterministic, no flaky CI.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def draw[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val orderGen: Gen[(Option[Long], Option[Long], Option[Double])] = for {
    id <- Gen.option(Gen.choose(1L, 50L))
    ts <- Gen.option(Gen.choose(0L, 1000000L))
    amt <- Gen.option(Gen.chooseNum(-100.0, 100.0))
  } yield (id, ts, amt)

  private val batchGen = Gen.listOfN(200, orderGen)

  private def ordersRules = Seq(
    Rule.notNull("order_id", "Null order_id primary key"),
    Rule.notNull("order_timestamp", "Invalid timestamp"),
    Rule.positive("total_amount", "Non-positive total amount"))

  test("∀ inputs: valid ∪ rejected partitions the input (row conservation)") {
    (1L to 10L).foreach { seed =>
      val rows = draw(batchGen, seed)
        .map { case (id, ts, amt) => (id, ts.map(new Timestamp(_)), amt) }
      val df = rows.toDF("order_id", "order_timestamp", "total_amount")
      val (valid, rejected) =
        Validator.split(Validator.withErrors(df, ordersRules), "orders")
      assert(valid.count() + rejected.count() == rows.length.toLong, s"seed=$seed")
      // every valid row satisfies all rules; every rejected row has a reason
      assert(valid.filter(col("order_id").isNull || col("order_timestamp").isNull
        || (col("total_amount").isNotNull && col("total_amount") <= 0)).count() == 0)
      assert(rejected.filter(col(Validator.ErrorCol).isNull).count() == 0)
    }
  }

  test("∀ inputs: deterministic dedup is PK-unique, a subset, and stable") {
    (1L to 10L).foreach { seed =>
      val rows = draw(batchGen, seed)
        .collect { case (Some(id), ts, amt) => (id, ts.getOrElse(0L), amt.getOrElse(0.0)) }
      val df = rows.toDF("k", "ts", "amt")
      val out = Dedup.deterministic(df, Seq("k"), Seq(col("ts"), col("amt")))
      val collected = out.as[(Long, Long, Double)].collect().toSeq
      assert(collected.map(_._1).distinct.size == collected.size, s"seed=$seed")
      assert(collected.toSet.subsetOf(rows.toSet), s"seed=$seed")
      assert(collected.map(_._1).toSet == rows.map(_._1).toSet, s"seed=$seed")
    }
  }

  test("∀ batches: merge = updates ∪ (target \\ updated keys), idempotent, keeps history") {
    val kvGen = Gen.listOfN(30, Gen.zip(Gen.choose(1L, 20L), Gen.choose(0, 1000)))
    (1L to 3L).foreach { seed =>
      val target = draw(kvGen, seed).distinctBy(_._1)
      val updates = draw(kvGen, seed + 100).distinctBy(_._1)
      val vt = graft.lake.VersionedTable(spark, tmpDir("prop") + "/vt", Seq("k"))
      vt.merge(target.toDF("k", "v"))
      vt.merge(updates.toDF("k", "v"))
      val expected = (updates ++ target.filterNot(r => updates.exists(_._1 == r._1))).toSet
      assert(vt.read.as[(Long, Int)].collect().toSet == expected, s"seed=$seed")
      // time travel: version 1 is the original target, unchanged by v2
      assert(vt.readVersion(1).as[(Long, Int)].collect().toSet == target.toSet, s"seed=$seed v1")
      // idempotent re-merge advances the version but not the contents
      vt.merge(updates.toDF("k", "v"))
      assert(vt.currentVersion == 3 &&
        vt.read.as[(Long, Int)].collect().toSet == expected, s"seed=$seed re-merge")
    }
  }

  test("∀ schedules: N concurrent partition-disjoint writers linearize — " +
      "every writer's last write per key survives, the log stays contiguous") {
    // Each writer owns ONE partition and runs a seeded op sequence
    // (merge / append / overwritePartitions / replaceWhere / COPY INTO)
    // against its own handle on real threads — the optimistic-retry path
    // races for every version number, and the fail-fast ops (replaceWhere)
    // exercise the outer retry-on-new-state loop. The documented
    // contract: disjoint-partition commits serialize without loss, so the
    // final state per partition must equal the writer's SEQUENTIAL model,
    // under every thread interleaving.
    val nWriters = 3
    val opsPer = 6
    // (kind ∈ 0..4, per-op key picks within the writer's range)
    val opGen = Gen.listOfN(opsPer,
      Gen.zip(Gen.choose(0, 4), Gen.listOfN(5, Gen.choose(0, 19))))
    val copyRoot = tmpDir("propcp")
    def stageFile(dir: String, rows: Seq[(Int, Int, String)]): Unit = {
      val target = java.nio.file.Paths.get(dir, "drop.parquet")
      if (java.nio.file.Files.exists(target)) return // retry reuses the drop
      val tmp = java.nio.file.Files.createTempDirectory("prop_cp").toString
      rows.toDF("id", "v", "w").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.copy(part.toPath, target)
    }
    val path = tmpDir("propcc") + "/t"
    val t0 = graft.lake.VersionedTable(spark, path, Seq("id"), Seq("w"))
    t0.overwrite((0 until nWriters)
      .map(w => (w * 1000, 0, s"w$w")).toDF("id", "v", "w")) // v1: one row each
    val models = Array.fill(nWriters)(
      scala.collection.mutable.Map.empty[Int, Int])
    (0 until nWriters).foreach(w => models(w)(w * 1000) = 0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until nWriters).map { w =>
      val ops = draw(opGen, 42L + w)
      val model = models(w)
      new Thread(() => {
        val t = graft.lake.VersionedTable(spark, path, Seq("id"), Seq("w"))
        ops.zipWithIndex.foreach { case ((kind, picks), j) =>
          val tag = (j + 1) * 100 + w // distinct value per (writer, op)
          def rows(ids: Seq[Int]) = ids.map(id => (id, tag, s"w$w"))
          // sequential model update mirrors the op exactly
          val apply: () => Unit = kind match {
            case 0 => // merge: upsert picked keys (existing or new)
              val ids = picks.map(p => w * 1000 + p).distinct
              () => { t.merge(rows(ids).toDF("id", "v", "w")); ids.foreach(model(_) = tag) }
            case 1 => // append: brand-new keys only
              val ids = picks.indices.map(k => w * 1000 + 100 + j * 10 + k)
              () => { t.append(rows(ids).toDF("id", "v", "w")); ids.foreach(model(_) = tag) }
            case 2 => // replace the whole partition with the picked keys
              val ids = picks.map(p => w * 1000 + p).distinct
              () => { t.overwritePartitions(rows(ids).toDF("id", "v", "w"))
                      model.clear(); ids.foreach(model(_) = tag) }
            case 3 => // replaceWhere: backfill the partition's low-id range
              val ids = picks.map(p => w * 1000 + p % 10).distinct
              () => {
                t.replaceWhere(
                  col("w") === s"w$w" && col("id") < w * 1000 + 10,
                  rows(ids).toDF("id", "v", "w"))
                model.filterInPlace((id, _) => id >= w * 1000 + 10)
                ids.foreach(model(_) = tag)
              }
            case _ => // COPY INTO: idempotent file drop of brand-new keys
              val ids = picks.indices.map(k => w * 1000 + 500 + j * 10 + k)
              val src = s"$copyRoot/w$w/op$j"
              () => {
                stageFile(src, rows(ids))
                t.copyFrom(src)
                ids.foreach(model(_) = tag)
              }
          }
          // the table API retries internally on disjoint winners but
          // gives up after 5 lost races — an outer retry restages
          var done = false
          var tries = 0
          while (!done && tries < 30) {
            tries += 1
            try { apply(); done = true }
            catch { case e: RuntimeException
                if e.getMessage.contains("concurrent writer") => () }
          }
          if (!done) failures.add(s"w$w op$j never committed")
        }
      }, s"writer-$w")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(threads.forall(!_.isAlive), "a writer thread hung past the deadline")
    assert(failures.isEmpty, failures.toArray.mkString("; "))
    // final state == the union of the sequential per-writer models
    val expected = (0 until nWriters).flatMap(w =>
      models(w).map { case (id, v) => (id, v, s"w$w") }).toSet
    val t = graft.lake.VersionedTable(spark, path, Seq("id"), Seq("w"))
    assert(t.read.as[(Int, Int, String)].collect().toSet == expected)
    // log integrity: contiguous versions, each independently readable by
    // a FRESH handle (pure log replay), PKs unique throughout
    val cur = t.currentVersion
    assert(cur >= 1 + nWriters) // at least one commit per writer landed
    (1 to cur).foreach { v =>
      val snap = t.readVersion(v)
      assert(snap.groupBy("id").count().filter(col("count") > 1).isEmpty,
        s"duplicate PK at version $v")
    }
  }

  test("∀ schedules: concurrent metadata DDL (comments / NOT NULL / " +
      "reorder) linearizes — every writer's commit lands, none is lost") {
    // The round-12 DDL rides commitMetadataOnly's optimistic claim: a
    // lost race errors 'concurrent writer' and the caller retries on the
    // new state. N threads each own ONE column and race a comment, a
    // SET NOT NULL, and a move; all 3N commits must land (the property
    // replay folds them regardless of interleaving), the log must stay
    // contiguous, and no writer's metadata may overwrite another's.
    val nWriters = 3
    val path = tmpDir("propmd") + "/t"
    val t0 = graft.lake.VersionedTable(spark, path, Seq("id"))
    t0.overwrite(Seq((1L, 10, 20, 30)).toDF("id", "c0", "c1", "c2"))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until nWriters).map { w =>
      new Thread(() => {
        val t = graft.lake.VersionedTable(spark, path, Seq("id"))
        val ops: Seq[() => Unit] = Seq(
          () => t.setColumnComment(s"c$w", Some(s"owned by writer $w")),
          () => t.setNotNull(s"c$w"),
          () => t.moveColumn(s"c$w", None))
        ops.zipWithIndex.foreach { case (op, j) =>
          var done = false
          var tries = 0
          while (!done && tries < 60) {
            tries += 1
            try { op(); done = true }
            catch { case e: RuntimeException
                if e.getMessage.contains("concurrent writer") => () }
          }
          if (!done) failures.add(s"w$w ddl$j never committed")
        }
      }, s"ddl-writer-$w")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(threads.forall(!_.isAlive), "a DDL thread hung past the deadline")
    assert(failures.isEmpty, failures.toArray.mkString("; "))
    val t = graft.lake.VersionedTable(spark, path, Seq("id"))
    assert(t.currentVersion == 1 + 3 * nWriters,
      s"every DDL commit must land exactly once, got v${t.currentVersion}")
    assert(t.columnComments ==
      (0 until nWriters).map(w => s"c$w" -> s"owned by writer $w").toMap)
    assert(t.notNullCols == (0 until nWriters).map(w => s"c$w").toSet)
    // the last-moved column is FIRST; data survives every interleaving
    assert(t.read.columns.head.startsWith("c"))
    assert(t.read.select("id", "c0", "c1", "c2").as[(Long, Int, Int, Int)]
      .collect().toSeq == Seq((1L, 10, 20, 30)))
  }
}
