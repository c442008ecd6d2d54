package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution an SQL execution-end event carries (a field Spark
  * keeps package-private): it ties QueryExecutionListener records, keyed
  * by `QueryExecution.id`, to the execution id the job events carry. */
object PerfbenchSqlAccess {
  def queryExecutionId(e: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(e.qe).map(_.id)
}
