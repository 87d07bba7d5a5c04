package org.apache.spark

import org.apache.spark.sql.{DataFrame, Row}

/** The two Spark hooks the benchmark needs outside the public API: wait
  * until every listener event posted so far is delivered, and force a
  * DataFrame's physical plan on the QueryExecution its action will use.
  * Lives in the spark package for visibility only. */
object PerfBenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def executedPlan(df: DataFrame): Unit = {
    df.asInstanceOf[sql.classic.Dataset[Row]].queryExecution.executedPlan
    ()
  }
}
