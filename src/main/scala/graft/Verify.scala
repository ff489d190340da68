package graft
import org.apache.spark.sql.{GraftSessions, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for a DuckDB compare and exec_modes.json, each query's
  * execution mode, scanned rows and bytes, and Spark jobs. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.withCodegenCache(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // each query builds and writes under a job group of its name
    val sc = spark.sparkContext
    val ran = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      sc.setJobGroup(name, name)
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        Some(name -> df)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        None
      } finally sc.clearJobGroup()
    }
    // The status store is fed by the listener bus, in order: once a fence
    // job shows there, so has every job of every query.
    sc.setJobGroup("verify-fence", "verify-fence")
    try spark.range(1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup("verify-fence").isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(10)
    // per query: the execution mode its step session ran, the input rows
    // that picked it (GraftSessions.query; null when not known), the input
    // file bytes and the Spark jobs it started
    val modes = ran.map { case (name, df) =>
      val bytes = df.queryExecution.analyzed.collectWithSubqueries {
        case l: LogicalRelation => l.relation
      }.collect { case r: HadoopFsRelation => r.sizeInBytes }.sum
      s"${q(name)}: {\"mode\": ${q(GraftSessions.mode(df.sparkSession))}, " +
        s"\"scanned_rows\": ${GraftSessions.scannedRows(df).fold("null")(_.toString)}, " +
        s"\"scanned_bytes\": $bytes, " +
        s"\"jobs\": ${sc.statusTracker.getJobIdsForGroup(name).length}}"
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/exec_modes.json"), modes.mkString("{", ",\n", "}"))
    spark.stop()
  }
}
