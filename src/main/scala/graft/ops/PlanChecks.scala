package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, ReusedSubqueryExec, SortExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** In-plan scale assertions shared by the catalog queries that claim
  * "no stage funnels the corpus through one task" (q230's epoch shuffle,
  * q233's sequence packing) and by PlanLintSpec's catalog-wide lint — ONE
  * traversal so the copies cannot drift (a round-17 review found exactly
  * that: the query-side walks missed cached/AQE wrappers the lint handled).
  */
object PlanChecks {

  /** Does this subtree's spine pass through an Aggregate before reaching
    * raw rows? A no-partition Window (or single-partition Sort) whose
    * input is an aggregate frame is bounded by the GROUPING domain (the
    * bucketedCumsum offsets table: one row per bucket), not the corpus.
    * Walks through caches, reused exchanges and AQE wrappers — a frame
    * that already executed hides its aggregate behind a query stage.
    */
  def aggregatedSpine(p: SparkPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
    case i: InMemoryTableScanExec => aggregatedSpine(i.relation.cachedPlan)
    case r: ReusedExchangeExec => aggregatedSpine(r.child)
    case a: AdaptiveSparkPlanExec => aggregatedSpine(a.executedPlan)
    case q: QueryStageExec => aggregatedSpine(q.plan)
    case u: UnaryExecNode => aggregatedSpine(u.child)
    case _ => false
  }

  /** Root paths of every file scan under `p`, walking through caches,
    * reused exchanges/subqueries, AQE wrappers and subqueries as
    * [[aggregatedSpine]] does. Provenance proofs match these, never the
    * plan's text: Spark cuts a scan's location string at
    * `spark.sql.maxMetadataStringLength` (100 characters by default), so a
    * long path — or any path after the first — is missing from `toString`.
    */
  def scanRoots(p: SparkPlan): Seq[Path] = p match {
    case s: FileSourceScanExec => s.relation.location.rootPaths
    case i: InMemoryTableScanExec => scanRoots(i.relation.cachedPlan)
    case r: ReusedExchangeExec => scanRoots(r.child)
    case r: ReusedSubqueryExec => scanRoots(r.child)
    case a: AdaptiveSparkPlanExec => scanRoots(a.executedPlan)
    case q: QueryStageExec => scanRoots(q.plan)
    case o => (o.children ++ o.subqueries).flatMap(scanRoots)
  }

  /** Is `p` (any URI form) the table root `root` or under it? */
  private[ops] def under(p: Path, root: String): Boolean = {
    val s = p.toUri.getPath
    s == root || s.startsWith(root + "/")
  }

  /** Does `df`'s executed plan scan files under `root` (absolute,
    * scheme-less or qualified)?
    */
  def scans(df: DataFrame, root: String): Boolean = {
    val r = new Path(root).toUri.getPath
    scanRoots(df.queryExecution.executedPlan).exists(under(_, r))
  }

  /** Names of serial stages in `df`'s physical plan: Windows with no
    * partitionSpec and single-partition global Sorts whose input spine is
    * NOT an aggregate frame — the shapes that put the whole corpus on one
    * task. Empty result = the plan stays distributed.
    */
  def serialStages(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case wx: org.apache.spark.sql.execution.window.WindowExec
          if wx.partitionSpec.isEmpty && !aggregatedSpine(wx.child) =>
        wx.nodeName
      case srt: SortExec
          if srt.global && srt.child.outputPartitioning.numPartitions == 1 &&
            !aggregatedSpine(srt.child) => srt.nodeName
    }
}

/** Registry of persisted tables that are bounded BY CONSTRUCTION — the
  * C-row codebook artifacts (coarse quantizer, PQ codebook: C a fixed
  * parameter, constant in corpus size) the ANN serving entries broadcast.
  * Registration happens at the ONE place each artifact is written (the
  * code that enforces the C-row bound), and PlanLintSpec's BNLJ check
  * certifies a broadcast side whose scan reads only registered paths —
  * so a future BNLJ over a corpus-scale table (the ivfpq INDEX lives in
  * the same workdir but is never registered) still fails the lint. The
  * registry replaces per-query marker multisets for these artifacts: the
  * markers counted plan-string occurrences, which multiply through
  * cached-subtree re-expansion and made the waivers count plan internals
  * instead of reviewed claims.
  */
object SmallArtifacts {
  private val paths =
    scala.collection.concurrent.TrieMap.empty[String, Unit]

  /** Register a table root (absolute, scheme-less) as bounded. */
  def register(path: String): Unit =
    paths.put(new Path(path).toUri.getPath, ())

  /** Is `p` (any URI form) under a registered bounded table root? */
  def covers(p: Path): Boolean =
    paths.keysIterator.exists(PlanChecks.under(p, _))
}
