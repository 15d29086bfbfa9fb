package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query an ended SQL execution ran, which Spark keeps package-private
  * on the event: a listener spec matches a job (by its
  * `spark.sql.execution.id`) to the plan that started it.
  */
object GraftTestPlans {
  def queryOf(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
