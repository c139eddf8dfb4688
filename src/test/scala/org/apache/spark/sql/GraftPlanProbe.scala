package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Test-only bridge to the private[sql] classic.Dataset.ofRows so
  * ScaleGuardSpec can materialize a logical Window operator's INPUT
  * subtree as a DataFrame and measure its partition-key cardinality
  * empirically (the low-NDV-window rule). Lives in package
  * org.apache.spark.sql purely for access; never shipped in main.
  */
object GraftPlanProbe {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every event posted so far reached the listeners, so a
    * test's SparkListener counts are complete when it reads them. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Build a sibling session on the SAME SparkContext with the given
    * extensions applied — what `spark.sql.extensions` (a STATIC conf,
    * unreachable once a shared test JVM holds a context) would do at
    * startup. Lets AsOfNativeSpec prove the GraftExtensions injection
    * path end-to-end.
    */
  def sessionWithExtensions(base: SparkSession,
                            f: SparkSessionExtensions => Unit): SparkSession =
    classic.GraftSessionFactory.withExtensions(
      base.asInstanceOf[classic.SparkSession], f)
}
