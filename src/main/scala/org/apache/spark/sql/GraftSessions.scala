package org.apache.spark.sql

import graft.functions.GraftFunctions

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquet, ParquetFileFormat}
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

  /** A query whose file relations hold at most this many rows runs
    * [[Interpreted]]. Rows, not bytes: what compiling removes is Spark's own
    * per-row expression and aggregation work, which grows with rows times
    * operators, while the graft kernels (HTML parse, shingles, cosine) cost
    * the same in both modes. Bytes confuse the two: `documents` is few wide
    * text rows (500 rows, 65 KB at sf0.01), `lineitem` many narrow ones
    * (60,000 rows, 1.04 MB), and a 1 MiB bound on bytes kept `q1_agg`'s
    * hash aggregation of those 60,000 rows on the interpreted path. The
    * bound is the lowest power of two that keeps the C5 queries over
    * `documents` and `embeddings` interpreted at sf0.01 (`q_dedup_minhash`
    * reads `documents` 9 times: 4,500 rows); `events`, `orders` and
    * `lineitem` run compiled from sf0.01 on (BASELINE.md, "Query gate on
    * rows, bounded results sorted in one partition"). Not the crawl bound,
    * which was measured on crawl steps. */
  private val InterpretedRowsMax = 1L << 13

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

  /** The rows of the file relations in `df`'s analyzed plan, once per read
    * (a table read twice counts twice), from the footers of their files on
    * the driver: no job. Reading stops once the sum passes `stopAbove`. None
    * when a relation is not parquet: its rows are not known without a job. */
  def scannedRows(df: DataFrame, stopAbove: Long = Long.MaxValue): Option[Long] =
    df.queryExecution.analyzed.collectWithSubqueries { case l: LogicalRelation => l.relation }
      .foldLeft(Option(0L)) {
        case (Some(n), _) if n > stopAbove => Some(n)
        case (Some(n), r: HadoopFsRelation) if r.fileFormat.isInstanceOf[ParquetFileFormat] =>
          val files = r.location.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus))
          Some(n + GraftParquet.rowCount(df.sparkSession, files, stopAbove - n))
        case _ => None
      }

  /** `build` as a query entry: the frame is built in a [[cloneOf]] the
    * caller's session, which runs [[Interpreted]] when the frame reads at
    * most [[InterpretedRowsMax]] rows, and compiled when it reads more or
    * an unknown count. Actions `build` runs itself (fixture setup, a
    * collected parameter) run before the decision. */
  def query(build: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (caller, dir) => {
      val step = cloneOf(caller)
      val df = build(step, dir)
      if (scannedRows(df, InterpretedRowsMax).exists(_ <= InterpretedRowsMax))
        settle(step, Interpreted)
      df
    }

  /** `df`'s plan as a frame of `session`: its actions run under
    * `session`'s conf. */
  def rebind(df: DataFrame, session: SparkSession): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)
}
