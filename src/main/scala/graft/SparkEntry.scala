package graft

import org.apache.spark.sql.{DataFrame, GraftSessions, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2 re-expressed
  * Spark-first over the driver-provided parquet tables in `sfDir`; the paired
  * [[oracleSql]] is the ANSI-SQL equivalent the driver runs in DuckDB on the
  * same tables. Column names/aliases match exactly on both sides (the driver
  * sorts columns by name before hashing). Every query carries a deterministic
  * ORDER BY on a unique key so row order is reproducible across engines and
  * parallelism levels. Each entry builds its frame in its own step session
  * ([[GraftSessions.query]]), whose execution mode the frame's input size
  * picks.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the license-annotation operator end-to-end (SURVEY §2.3 P1). */
  def entry(spark: SparkSession): DataFrame =
    Queries.qLicenseExtract(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map { case (name, build) => name -> GraftSessions.query(build) }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Queries.oracles
}
