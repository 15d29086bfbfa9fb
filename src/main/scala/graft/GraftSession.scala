package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every graft main shares: `local[cpus]`
  * with as many shuffle partitions, UTC, no UI and ANSI off (reference-parity
  * permissive semantics: a failed cast yields null, matching DuckDB's
  * TRY_CAST-based oracle SQL — SURVEY.md §1.1). cpus comes from
  * SPARK_GRAFT_CPUS (default 4). Callers add only their own settings, then
  * call `getOrCreate()`. Graft's functions, planner strategy and optimizer
  * rule are installed per session by [[graft.expr.GraftFunctions.register]].
  */
object GraftSession {
  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
}
