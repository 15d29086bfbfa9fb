package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.io.Sources

/** One catalog entry: a Spark DataFrame program + the equivalent ANSI SQL
  * the driver runs in DuckDB over the same parquet tables (None → the
  * driver records a weaker rows-only check).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Cross-engine-deterministic expression helpers.
  *
  * The correctness gate hash-compares our parquet output against DuckDB, so
  * every compared value must be BIT-identical across engines:
  *  - money math goes through DECIMAL(18,4) (source doubles carry exactly 2
  *    decimals, so the cast is exact and sums/products are exact decimal
  *    arithmetic in both engines; final cast back to double is a single
  *    deterministic conversion);
  *  - float vectors are quantized to integers with floor(x*1000 + 0.5)
  *    (floor has no round-half ambiguity across engines; integer dot
  *    products are order-independent and exact below 2^53);
  *  - hashes use md5 (same lowercase hex in Spark and DuckDB);
  *  - every query ends in ORDER BY on a unique key.
  */
object Exprs {

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Sources.table(spark, dir, name)

  /** Exact-decimal view of a 2-decimal double column. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** l_extendedprice * (1 - l_discount), exact. */
  def discPrice: Column =
    dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))

  /** Lowercased whitespace tokens, empties removed — mirrored in DuckDB as
    * list_filter(regexp_split_to_array(lower(x),'\s+'), t -> t <> '').
    */
  def tokens(c: Column): Column =
    filter(split(lower(c), "\\s+"), x => x =!= lit(""))

  /** Deterministic float→int quantization (no round-half ambiguity). */
  def qint(x: Column): Column = floor(x * lit(1000.0) + lit(0.5)).cast(LongType)

  /** DuckDB rendering of [[qint]] — ONE shared mirror so an engine-side
    * rounding change can never silently diverge from the oracles'.
    */
  def qintSql(x: String): String =
    s"CAST(floor(CAST($x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)"

  /** Quantized dot product of two float arrays: exact, order-independent. */
  def qdot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => qint(x) * qint(y)), lit(0L), (acc, v) => acc + v)

  /** First 8 md5 hex chars of `c` (salted) as a bigint in [0, 2^32) —
    * portable: DuckDB side is CAST('0x' || substr(md5(salt || c),1,8) AS BIGINT).
    */
  /** Driver-side md5 hex of a long key — the probe/query-side mirror of
    * `md5(cast(k as string))` (shared so the fingerprint encoding can
    * never diverge between an oracle query and a probe).
    */
  def md5Hex(k: Long): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(k.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def md5Int(salt: String, c: Column): Column =
    conv(substring(md5(concat(lit(salt), c)), 1, 8), 16, 10).cast(LongType)

  /** DuckDB rendering of [[md5Int]] for oracle SQL. */
  def md5IntSql(salt: String, inner: String): String =
    s"CAST('0x' || substr(md5('$salt' || $inner), 1, 8) AS BIGINT)"

  /** Exact two-level running SUM(`value`) within `part`, ordered by `ord` —
    * result-identical to `sum(value).over(Window.partitionBy(part)
    * .orderBy(ord).rowsBetween(unboundedPreceding, currentRow))` but with NO
    * per-partition global sort: a production domain mixture has ~5-20
    * sources, so at 100 TB a plain per-source window puts an entire domain
    * (tens of TB) on one task. Here the wide window runs within
    * (part, bucket) — `bucket` MUST be monotone non-decreasing in the `ord`
    * ordering (a contiguous range of the leading sort key), so every row in
    * bucket i sorts before every row in bucket i+1 — and per-bucket
    * subtotals form a tiny (parts × buckets) frame whose exclusive running
    * offsets are broadcast back and added to the local cumsum. The
    * decomposition is exact (integer addition is associative), so the
    * unchanged single-window oracle SQL still hash-matches.
    */
  def bucketedCumsum(
      df: DataFrame, part: String, bucket: Column, ord: Seq[Column],
      value: String, out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withB = df.withColumn("__bkt", bucket)
    val wLocal = Window.partitionBy(col(part), col("__bkt")).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Exclusive prefix over the bucket-subtotal frame: one row per
    // (part, bucket), so the serial scan is O(buckets), not O(rows).
    val wOff = Window.partitionBy(col(part)).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withB.groupBy(col(part), col("__bkt"))
      .agg(sum(col(value)).as("__bt"))
      .withColumn("__off", coalesce(sum(col("__bt")).over(wOff), lit(0L)))
      .select(col(part).as("__p"), col("__bkt").as("__b"), col("__off"))
    // null-safe equality: a window's partitionBy keeps NULL part/bucket
    // keys in their own group, so the offsets join must match them too —
    // a plain equi-join would silently drop those rows and break the
    // claimed result-identity with the single-window cumsum
    withB.withColumn("__lc", sum(col(value)).over(wLocal))
      .join(broadcast(offsets),
        col(part) <=> col("__p") && col("__bkt") <=> col("__b"))
      .withColumn(out, col("__lc") + col("__off"))
      .drop("__bkt", "__lc", "__p", "__b", "__off")
  }

  /** Token n-gram shingles joined by a single space; empty array when the
    * document has fewer than `n` tokens (guards Spark's descending
    * `sequence`). DuckDB mirror: CASE WHEN len(t) >= n THEN
    * list_transform(range(1, len(t)-n+2), i -> array_to_string(t[i:i+n-1],' '))
    * ELSE [] END.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        // element_at chain, NOT concat_ws(slice(...)): slice allocates an
        // array per shingle — profiled 10× slower at sf0.1
        i => (1 until n).foldLeft(element_at(toks, i)) {
          (acc, k) => concat(acc, lit(" "), element_at(toks, i + k))
        }))
}
