package graft

import org.apache.spark.sql.{DataFrame, GraftSessions}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.{FileSourceScanExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Execution mode of the query surface: each SparkEntry.queries entry runs
  * in its own step session, interpreted when its input is small, with rows
  * identical to compiled runs and the caller's session left as it was.
  * Plan shape: a table read starts no Spark job, and a query spread by its
  * final order key runs its heavy chain once, under one range exchange. */
class QueryExecModeSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  private val Sf = "/root/testdata/sf0.001" // the sf0.001 tables of TESTDATA.md
  private val WholeStage = "spark.sql.codegen.wholeStage"
  private val FactoryMode = "spark.sql.codegen.factoryMode"

  private def codegenKeys = spark.sessionState.conf.getAllConfs.keySet.filter(_.startsWith("spark.sql.codegen."))

  private def withConfs[A](confs: Map[String, String])(f: => A): A = {
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally confs.keys.foreach(spark.conf.unset)
  }

  private def wholeStageCodegen(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])

  test("every query returns the same rows interpreted and compiled; the caller keeps its settings") {
    val before = codegenKeys
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val gated = fn(spark, Sf)
      assert(GraftSessions.mode(gated.sparkSession) === "interpreted", name)
      assert(gated.sparkSession ne spark, s"$name runs in the caller's session")
      val rows = gated.collect().map(_.toString).toSeq
      val compiled = withConfs(Map(WholeStage -> "true", FactoryMode -> "FALLBACK")) {
        val df = fn(spark, Sf)
        assert(GraftSessions.mode(df.sparkSession) === "compiled", name)
        df.collect().map(_.toString).toSeq
      }
      assert(rows === compiled, s"$name rows differ between the modes")
    }
    assert(codegenKeys === before, "a query call set a codegen key on the caller")
  }

  test("a caller-set key wins; a frame over the bound runs compiled") {
    withConfs(Map(WholeStage -> "true")) {
      val df = SparkEntry.queries("q1_agg")(spark, Sf)
      assert(df.sparkSession.conf.get(WholeStage) === "true")
      assert(df.sparkSession.conf.get(FactoryMode) === "NO_CODEGEN")
      assert(spark.conf.get(WholeStage) === "true")
    }
    val dir = Files.createTempDirectory("bigScan").toString
    // ~64 incompressible bytes a row: a few MB of parquet
    spark.range(100000).select(col("id"), sha2(col("id").cast("string"), 256).as("h"))
      .write.parquet(s"$dir/wide.parquet")
    val big = GraftSessions.query((s, d) => Queries.t(s, d, "wide").where(col("id") > 10))(spark, dir)
    assert(GraftSessions.scannedBytes(big) > (1L << 20), "the frame is not over the bound")
    assert(GraftSessions.mode(big.sparkSession) === "compiled")
    assert(wholeStageCodegen(big))
    val small = SparkEntry.queries("q1_agg")(spark, Sf)
    assert(GraftSessions.scannedBytes(small) === Files.size(java.nio.file.Paths.get(Sf, "lineitem.parquet")))
    assert(!wholeStageCodegen(small))
  }

  test("graft functions resolve on the caller after a query call") {
    val caller = spark.newSession()
    def sig() = caller.range(1).select(call_function("minhash_sig", lit("a b c d e"))).collect()
    assert(intercept[Exception](sig()).getMessage.contains("minhash_sig"))
    SparkEntry.queries("q_dedup_minhash")(caller, Sf).collect()
    assert(sig().length === 1)
  }

  test("query calls add no listener to the SparkContext") {
    // a caller without query-execution listeners: a clone copies its
    // parent's listeners, and each copy brings an ExecutionListenerBus
    val caller = spark.newSession()
    val before = executionListenerBuses()
    for (i <- 0 until 20) {
      val df = SparkEntry.queries(if (i % 2 == 0) "q_c5_pipeline" else "q_dedup_minhash")(caller, Sf)
      df.collect()
      assert(df.queryExecution.observedMetrics.nonEmpty, "the query observes its drops")
    }
    assert(executionListenerBuses() <= before)
  }

  test("a table read has Spark's inferred schema and starts no job") {
    val tables = Files.list(Paths.get(Sf)).toArray.map(_.toString).toSeq
      .map(p => Paths.get(p).getFileName.toString.stripSuffix(".parquet")).sorted
    assert(tables.size === 10)
    for (name <- tables) {
      val inferred = spark.read.parquet(s"$Sf/$name.parquet").schema
      val (df, jobs) = jobsDuring(Queries.t(spark, Sf, name))
      assert(df.schema === inferred, name)
      assert(df.schema.fields.map(_.nullable).toSeq === inferred.fields.map(_.nullable).toSeq, name)
      assert(df.schema.fields.map(_.metadata).toSeq === inferred.fields.map(_.metadata).toSeq, name)
      assert(jobs === 0, s"$name: reading the table started $jobs job(s)")
    }
  }

  test("a query spread by its final order key plans one range exchange and no round-robin") {
    for (name <- Seq("q_c5_pipeline", "q_license_extract", "q_license_struct",
        "q_image_roundtrip", "q_dedup_embedding")) {
      val plan = SparkEntry.queries(name)(spark, Sf).queryExecution.executedPlan
      val parts = collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning }
      assert(parts.count(_.isInstanceOf[RangePartitioning]) === 1, s"$name: $parts")
      assert(!parts.exists(_.isInstanceOf[RoundRobinPartitioning]), s"$name: $parts")
    }
  }

  test("q_license_filter_agg runs the extract kernel above the spread, not in the scan") {
    val df = SparkEntry.queries("q_license_filter_agg")(spark, Sf)
    val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    for (s <- scans)
      assert(!s.dataFilters.exists(_.toString.contains("extract_cc_licenses")), s.dataFilters)
  }
}
