package graft

import org.apache.spark.sql.{DataFrame, GraftSessions}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.{FileSourceScanExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Execution mode of the query surface: each SparkEntry.queries entry runs
  * in its own step session, interpreted when its input has few rows, with
  * rows identical to compiled runs and the caller's session left as it was.
  * Plan shape: a table read starts no Spark job, a query spread by its final
  * order key runs its heavy chain once, under one range exchange, and a
  * bounded result sorts in one partition, under none. */
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
      // q_warc_read reads WARC files (binaryFile): no footer, rows unknown
      val expected = if (name == "q_warc_read") "compiled" else "interpreted"
      assert(GraftSessions.mode(gated.sparkSession) === expected, name)
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

  test("a caller-set key wins; the gate counts rows, not bytes") {
    withConfs(Map(WholeStage -> "true")) {
      val df = SparkEntry.queries("q1_agg")(spark, Sf)
      assert(df.sparkSession.conf.get(WholeStage) === "true")
      assert(df.sparkSession.conf.get(FactoryMode) === "NO_CODEGEN")
      assert(spark.conf.get(WholeStage) === "true")
    }
    val dir = Files.createTempDirectory("rowsGate").toString
    def bytes(name: String) = Files.list(Paths.get(dir, s"$name.parquet")).toArray
      .map(p => Files.size(p.asInstanceOf[java.nio.file.Path])).sum
    def read(name: String) =
      GraftSessions.query((s, d) => Queries.t(s, d, name).where(col("id") > 10))(spark, dir)
    // few wide rows: 100 rows of ~25 KB of hex digests, over 1 MiB of parquet
    spark.range(100).select(col("id"), concat_ws("", (0 until 400).map(i =>
      sha2((col("id") * 1000 + i).cast("string"), 256)): _*).as("text"))
      .write.parquet(s"$dir/wide.parquet")
    val wide = read("wide")
    assert(bytes("wide") > (1L << 20), "the wide table is not over 1 MiB")
    assert(GraftSessions.scannedRows(wide) === Some(100L))
    assert(GraftSessions.mode(wide.sparkSession) === "interpreted")
    assert(!wholeStageCodegen(wide))
    // many narrow rows, well under 1 MiB
    spark.range(20000).write.parquet(s"$dir/narrow.parquet")
    val narrow = read("narrow")
    assert(bytes("narrow") < (1L << 20), "the narrow table is not under 1 MiB")
    assert(GraftSessions.scannedRows(narrow) === Some(20000L))
    assert(GraftSessions.mode(narrow.sparkSession) === "compiled")
    assert(wholeStageCodegen(narrow))
    // a relation that is not parquet: rows unknown, compiled
    spark.range(3).write.json(s"$dir/tiny.json")
    val json = GraftSessions.query((s, d) => s.read.json(s"$d/tiny.json"))(spark, dir)
    assert(GraftSessions.scannedRows(json) === None)
    assert(GraftSessions.mode(json.sparkSession) === "compiled")
  }

  test("the scanned rows of each table equal its count, and are read with no job") {
    val tables = Files.list(Paths.get(Sf)).toArray.map(_.toString).toSeq
      .map(p => Paths.get(p).getFileName.toString.stripSuffix(".parquet")).sorted
    assert(tables.size === 10)
    for (name <- tables) {
      val ((df, rows), jobs) = jobsDuring {
        val df = Queries.t(spark, Sf, name)
        (df, GraftSessions.scannedRows(df))
      }
      assert(jobs === 0, s"$name: counting its rows started $jobs job(s)")
      assert(rows === Some(df.count()), name)
    }
    // a table read twice counts twice
    val docs = Queries.t(spark, Sf, "documents")
    assert(GraftSessions.scannedRows(docs.union(docs)) === Some(2 * docs.count()))
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

  test("a bounded result sorts in one partition: no range exchange, rows unchanged") {
    val keys = Seq(
      "q1_agg" -> Seq("l_returnflag", "l_linestatus"),
      "q_license_filter_agg" -> Seq("license_abbr"),
      "q_ann_topk" -> Seq("q_id", "rank"),
      "q_rollup" -> Seq("o_orderstatus", "o_orderpriority"),
      "q_union" -> Seq("event_type"),
      "q_cube" -> Seq("event_type", "user_mod"))
    for ((name, by) <- keys) {
      val df = SparkEntry.queries(name)(spark, Sf)
      val parts = collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }
      assert(!parts.exists(_.isInstanceOf[RangePartitioning]), s"$name: $parts")
      val rows = df.collect().toSeq
      // the same result range-sorted over several partitions, as before
      val ranged = df.repartition(4).orderBy(by.map(col): _*).collect().toSeq
      assert(rows.nonEmpty, name)
      assert(rows === ranged, s"$name rows differ from a range-partitioned sort")
    }
  }
}
