package org.apache.spark.sql

import graft.functions.GraftFunctions

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** Step sessions: a crawl epoch, a requeue and each `graft.SparkEntry`
  * query run in their own clone of the caller's session, taken when the step
  * starts. A clone shares the SparkContext, the shared state (catalog,
  * cache manager) and the registered functions of its parent, but owns a
  * copy of its SQLConf: the step's execution mode, decided from a size known
  * without a job and [[settle]]d before its first action, reaches no other
  * query, and the caller's session is never written. The entry points this
  * needs are `private[sql]`, hence the package. */
object GraftSessions {

  /** Spark's interpreted path (adaptive execution, Kohn/Leis/Neumann ICDE
    * 2018: when the work is too small to repay compilation, interpret):
    * whole-stage codegen off and the expression factory on `NO_CODEGEN`, an
    * internal key but the only switch that also interprets projections,
    * predicates and orderings. */
  val Interpreted: Map[String, String] = Map(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** A query whose file relations hold at most this many bytes runs
    * [[Interpreted]]: the smallest power of two over the C5 set's largest
    * input at sf0.01 (`lineitem`, 1,042,463 B, read by `q1_agg`). Compiled,
    * the five C5 queries generate ~110 classes, more than Spark's codegen
    * cache holds by default (100), so every warm pass recompiled 31–40 of
    * them; interpreted, `c5_queries` `op_p50_s` fell from 3.68 to 2.66 s.
    * With the cache at 1000 entries and warm, interpretation did not pay in
    * 10 alternating in-JVM pairs per query: the 22 sf0.1 queries under the
    * bound took +0.28 s in all, a 4 MiB bound +2.43 s. So the bound is as
    * low as the C5 set allows (BASELINE.md, "Interpreted small queries"). */
  private val InterpretedBytesMax = 1L << 20

  /** A step session of `caller`, after registering the graft functions on
    * `caller` (so they resolve there after the step too): a clone whose
    * SQLConf is a copy of `caller`'s as of now, and whose tasks run in the
    * executors' shared session state. A clone decides its artifact
    * isolation while it is cloned, from the conf it copies, so the clone is
    * taken from an intermediate clone with isolation off. An isolated clone
    * would get an executor class loader of its own, and Spark keys its
    * codegen cache by class loader: every step would recompile the
    * executor-side classes (cached-batch readers, row joiners, whole-stage
    * code) that the previous step generated. */
  def cloneOf(caller: SparkSession): SparkSession = {
    GraftFunctions.register(caller)
    val unisolated = caller.asInstanceOf[classic.SparkSession].cloneSession()
    unisolated.sessionState.conf.setConf(SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED, false)
    unisolated.cloneSession()
  }

  /** Applies `settings` to `step`, a [[cloneOf]] session, except each key
    * the caller set explicitly (a clone's `getAllConfs` holds exactly
    * those): setting a codegen key yourself overrides every size gate.
    * Returns `step`. */
  def settle(step: SparkSession, settings: Map[String, String]): SparkSession = {
    val explicit = step.sessionState.conf.getAllConfs
    for ((k, v) <- settings if !explicit.contains(k)) step.conf.set(k, v)
    step
  }

  /** `interpreted` or `compiled`: the effective mode of `session`. */
  def mode(session: SparkSession): String =
    if (Interpreted.forall { case (k, v) => session.conf.get(k) == v }) "interpreted"
    else "compiled"

  /** The file bytes of the file relations in `df`'s analyzed plan, once per
    * read: known without a job or a footer read. */
  def scannedBytes(df: DataFrame): Long =
    df.queryExecution.analyzed.collectWithSubqueries { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.sizeInBytes }.sum

  /** `build` as a query entry: the frame is built in a [[cloneOf]] the
    * caller's session, which runs [[Interpreted]] when the frame reads at
    * most [[InterpretedBytesMax]] bytes. Actions `build` runs itself
    * (fixture setup, a collected parameter) run before the decision. */
  def query(build: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (caller, dir) => {
      val step = cloneOf(caller)
      val df = build(step, dir)
      if (scannedBytes(df) <= InterpretedBytesMax) settle(step, Interpreted)
      df
    }

  /** `df`'s plan as a frame of `session`: its actions run under
    * `session`'s conf. */
  def rebind(df: DataFrame, session: SparkSession): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)
}
