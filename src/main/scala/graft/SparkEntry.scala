package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Sources
import graft.ops.{Catalog, Exprs}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001 (driver smoke-checks rows>0):
    * revenue by order date — scan → filter → project → agg → sort
    * (SURVEY.md §7.4).
    */
  def entry(spark: SparkSession): DataFrame =
    Sources.table(spark, "/root/testdata/sf0.001", "orders")
      .filter(col("o_totalprice") > 0)
      .groupBy(col("o_orderdate").cast("date").as("odate"))
      .agg(
        sum(Exprs.dec(col("o_totalprice"))).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("odate")

  /** One entry per implemented operator from SURVEY.md §2 (+ the LLM-data-
    * pipeline extension operators). See graft.ops.Catalog.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Catalog.queries

  /** DuckDB-runnable ANSI SQL per query; keys match `queries`. Omitted keys
    * get a weaker rows-only check.
    */
  def oracleSql: Map[String, String] = Catalog.oracleSql

  /** Shared SPARK_GRAFT_ONLY matcher for Verify/Bench/Diag: a token
    * selects a query by full name or by its qNN prefix — exact token
    * match, so ONLY=q7 does NOT also select q70..q79.
    */
  def selected(only: Option[Set[String]], name: String): Boolean =
    only.forall(_.exists(t => name == t || name.split("_")(0) == t))
}
