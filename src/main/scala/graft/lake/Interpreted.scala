package graft.lake

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.internal.SQLConf

/** Runs the Spark plans a [[VersionedTable]] starts for itself — stage
  * writes, change staging, repacks, the touched-set, verdict, collision,
  * migration and matching-dir scans, constraint, identity and stats scans —
  * with Spark's interpreted execution: no whole-stage codegen, and every
  * expression projection, predicate and ordering interpreted
  * (`factoryMode=NO_CODEGEN`).
  *
  * Why: a commit's plans inline its literals (a partition value, the
  * batch's pk bounds), and one daily drop of the paper's flow uses ~140
  * generated classes against Spark's 100-entry class cache, so every warm
  * drop recompiled 124–140 Janino classes (perfbench `daily_drops`, 4
  * vCPUs). Run interpreted, a warm drop compiles 12–34, and its median
  * time fell from 4.66 to 3.57 s over 10 seed pairs. What a commit still
  * compiles is its persisted batch's upstream (the caller's plan) and the
  * few helpers Spark generates in every factory mode (the partial
  * aggregation's row joiner, the cached batch's column accessor). The
  * plans are small — bounded by the batch and the touched partitions —
  * where interpretation wins: a groupBy, duplicate check and partitioned
  * write over persisted rows took 0.70× of warm codegen's time at 10k rows
  * and only loses beyond ~50k (1.18× at 100k, 1.40× at 4M).
  *
  * Frames a table returns to its caller (`read`, `readVersion`,
  * `readWhere`, change feeds, detail frames) are not routed here; they run
  * in the caller's session as the caller planned them. A batch the table
  * persists (merge's) is persisted in the caller's session, so its
  * upstream plan stays compiled and the interpreted plans read it from the
  * shared cache.
  *
  * Each caller session gets one interpreted twin: its `cloneSession`, so
  * the twin keeps the caller's runtime conf (ANSI, time zone, parquet
  * options), temp views, functions, strategies and rules, with only the
  * two codegen keys set. A clone registers a listener on the shared
  * listener bus, so the twin is kept, weakly keyed by its caller, and made
  * again only when the caller's conf (the two keys aside), strategies or
  * optimizer rules change. Its settings never change after it is made, so
  * concurrent commits can share it.
  */
private[lake] object Interpreted {
  private val Keys = Map(
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
    SQLConf.CODEGEN_FACTORY_MODE.key -> CodegenObjectFactoryMode.NO_CODEGEN.toString)

  /** What a twin copied from its caller; a caller whose state no longer
    * equals it gets a fresh twin.
    */
  private final case class Origin(conf: Map[String, String], strategies: Seq[AnyRef],
                                  rules: Seq[AnyRef])

  private final class Twin(val session: SparkSession, val origin: Origin)

  private val twins = new java.util.WeakHashMap[SparkSession, Twin]()

  private def originOf(spark: SparkSession): Origin =
    Origin(spark.conf.getAll -- Keys.keys, spark.experimental.extraStrategies,
      spark.experimental.extraOptimizations)

  /** The interpreted twin of `spark`, made on first use and again when the
    * caller's state has moved on since.
    */
  private[lake] def twinOf(spark: SparkSession): SparkSession = twins.synchronized {
    val origin = originOf(spark)
    Option(twins.get(spark)).filter(_.origin == origin).map(_.session).getOrElse {
      val twin = GraftSqlBridge.cloneOf(spark)
      Keys.foreach { case (k, v) => twin.conf.set(k, v) }
      twins.put(spark, new Twin(twin, origin))
      twin
    }
  }

  /** Run `action` on `df` re-planned, from its analyzed plan, in its
    * session's interpreted twin.
    */
  def apply[A](df: DataFrame)(action: DataFrame => A): A =
    action(GraftSqlBridge.ofRows(twinOf(df.sparkSession), GraftSqlBridge.planOf(df)))
}
