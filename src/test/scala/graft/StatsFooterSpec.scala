package graft

import org.apache.spark.sql.functions._

import graft.lake.VersionedTable

/** Write-time skipping stats now derive from the staged files' parquet
  * FOOTERS (with the original scan pass as fallback). The recorded strings
  * are load-bearing two ways: canMatch parses them (BigDecimal /
  * lexicographic) to prune readWhere, and DESCRIBE DETAIL COLUMNS surfaces
  * them verbatim into oracle-compared output — so the footer rendering
  * must equal the Spark-cast rendering the scan pass produced, per type.
  */
class StatsFooterSpec extends SparkSpec {
  import spark.implicits._

  private def dir() = graft.ops.WorkDirs.workDir("graft_statsfooter")

  test("footer stats render like the Spark cast for every supported type") {
    val df = (0 until 300).map { i =>
      (i.toLong, java.sql.Date.valueOf(java.time.LocalDate.of(1995, 1, 1).plusDays(i % 90)),
        BigDecimal(i * 100 + 7, 0).setScale(4) * 0.01, s"str_${i % 13}",
        i * 1.5 - 20.0, i % 3)
    }.toDF("k", "d", "m", "s", "x", "p")
      .withColumn("m", col("m").cast("decimal(18,4)"))
    val t = VersionedTable(spark, s"${dir()}/t", Seq("k"), Seq("p"),
      statsCols = Seq("k", "d", "m", "s", "x", "p"))
    t.overwrite(df)
    // expected strings: the same Spark cast the scan pass used
    val exp = df.agg(
      min(col("k")).cast("string"), max(col("k")).cast("string"),
      min(col("d")).cast("string"), max(col("d")).cast("string"),
      min(col("m")).cast("string"), max(col("m")).cast("string"),
      min(col("s")).cast("string"), max(col("s")).cast("string"),
      min(col("x")).cast("string"), max(col("x")).cast("string"),
      min(col("p")).cast("string"), max(col("p")).cast("string")).head()
    val got = t.columnStatsFrame
      .select("column", "min", "max").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    Seq("k", "d", "m", "s", "x", "p").zipWithIndex.foreach { case (c, i) =>
      assert(got(c) == ((exp.getString(2 * i), exp.getString(2 * i + 1))),
        s"column $c: footer stats ${got(c)} != spark-cast " +
          s"(${exp.getString(2 * i)}, ${exp.getString(2 * i + 1)})")
    }
    // and the stats actually prune: a predicate outside every bound scans 0
    t.readWhere(col("k") > 100000L).count()
    assert(t.lastScanDirs == 0, "out-of-range predicate must prune every dir")
    val n = t.readWhere(col("s") === "str_5").count()
    assert(n == df.filter(col("s") === "str_5").count(),
      "pruned read must equal the plain filter")
  }

  test("all-null stats columns emit no claim but never block the commit") {
    val df = (0 until 50).map(i => (i.toLong, null: String, i % 2))
      .toDF("k", "s", "p")
    val t = VersionedTable(spark, s"${dir()}/t2", Seq("k"), Seq("p"),
      statsCols = Seq("s", "k"))
    t.overwrite(df)
    val got = t.columnStatsFrame.select("column", "min").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got("s").isEmpty, "all-null column must record no min/max claim")
    assert(got("k").nonEmpty, "sibling column keeps its stats")
    // conservative: the claim-less column never prunes
    assert(t.readWhere(col("s") === "zzz").count() == 0)
    assert(t.lastScanDirs == 2, "no stats for s → every dir conservatively kept")
  }

  test("a pk column skipped in one dir still gets stats in the other dirs " +
      "of the same commit") {
    // parquet writes no min/max for a chunk whose values exceed 4 KiB, so
    // dir p=0's pk chunk has no footer stats and its pk line is skipped;
    // every other dir of the commit must still record its own pk bounds
    val long = "x" * 5000
    val df = ((0 until 3).map(i => (s"$long$i", 0, i.toLong)) ++
      (1 to 7).flatMap(p => (0 until 10).map(i => (f"k$p%d$i%02d", p, i.toLong))))
      .toDF("k", "p", "v")
    val t = VersionedTable(spark, s"${dir()}/t3", Seq("k"), Seq("p"),
      statsCols = Seq("v"))
    t.overwrite(df)
    assert(t.readWhere(col("k") === "k305").count() == 1)
    // kept: p=3 (its bounds hold the key) and p=0 (no pk claim); every
    // other dir's pk bounds prune it
    assert(t.lastScanDirs == 2, s"scanned ${t.lastScanDirs} dirs")
  }
}
