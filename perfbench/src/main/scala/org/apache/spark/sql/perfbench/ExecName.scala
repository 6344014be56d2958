package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the action name (`collect`, `isEmpty`, `save`, ...) that Spark
  * attaches to an SQL execution's end event; the field is
  * package-private to `org.apache.spark.sql`.
  */
object ExecName {
  def apply(e: SparkListenerSQLExecutionEnd): Option[String] = e.executionName
}
