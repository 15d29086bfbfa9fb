package graft.ops

import graft.expr.GraftFunctions
import graft.ext.{Multimodal, TextOps, VectorOps}

/** Aggregates every query group into the driver contract. */
object Catalog {
  val all: Seq[Q] = {
    val qs = Relational.queries ++ Coverage.queries ++
      TextOps.queries ++ TextOps.queries2 ++ VectorOps.queries ++
      Multimodal.queries ++ graft.streaming.StreamOps.queries
    val dups = qs.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate query names would clobber the driver maps: ${dups.mkString(",")}")
    // every catalog entry carries a DuckDB oracle — an entry without one
    // silently downgrades to the driver's weaker rows-only check, so the
    // uniform-matrix invariant is enforced here, not in prose
    val noOracle = qs.filter(_.oracle.isEmpty).map(_.name)
    require(noOracle.isEmpty,
      s"catalog entries without a DuckDB oracle: ${noOracle.mkString(",")}")
    // the catalog boundary installs graft's functions, strategy and rule
    // before every entry, so any run — a full sweep, a narrow
    // SPARK_GRAFT_ONLY selection, a fresh session — resolves them
    qs.map(q => q.copy(run = (s, d) => { GraftFunctions.register(s); q.run(s, d) }))
  }

  def queries = all.map(q => q.name -> q.run).toMap
  def oracleSql = all.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
