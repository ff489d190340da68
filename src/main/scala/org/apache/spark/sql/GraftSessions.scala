package org.apache.spark.sql

import org.apache.spark.sql.internal.SQLConf

/** Scoped session settings through Spark's own session clones. A clone
  * shares the SparkContext, the shared state (catalog, cache manager) and
  * the registered functions of its parent, but owns a copy of its SQLConf:
  * settings made on the clone never reach the parent. The entry points this
  * needs are `private[sql]`, hence the package. */
object GraftSessions {

  /** A clone of `spark` whose SQLConf is a copy of `spark`'s as of now, and
    * whose tasks run in the executors' shared session state. A clone decides
    * its artifact isolation while it is cloned, from the conf it copies, so
    * the clone is taken from an intermediate clone with isolation off. An
    * isolated clone would get an executor class loader of its own, and
    * Spark keys its codegen cache by class loader: every step would
    * recompile the executor-side classes (cached-batch readers, row joiners,
    * whole-stage code) that the previous step generated. */
  def cloneOf(spark: SparkSession): SparkSession = {
    val unisolated = spark.asInstanceOf[classic.SparkSession].cloneSession()
    unisolated.sessionState.conf.setConf(SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED, false)
    unisolated.cloneSession()
  }

  /** `df`'s plan as a frame of `session`: its actions run under
    * `session`'s conf. */
  def rebind(df: DataFrame, session: SparkSession): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)
}
