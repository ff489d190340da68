package graft

import graft.crawl.{CrawlEpoch, PageStore}
import graft.gen.SyntheticCorpus
import graft.table.SnapshotTable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{GraftSessions, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Execution mode of crawl steps: epochs and requeues under CrawlEpoch's
  * interpreted-row bound run on Spark's interpreted path in their own step
  * session, with results identical to compiled runs. */
class ExecModeSpec extends SparkSpecBase {

  private val WholeStage = "spark.sql.codegen.wholeStage"
  private val FactoryMode = "spark.sql.codegen.factoryMode"
  private val BroadcastTimeout = "spark.sql.broadcastTimeout"

  private def explicitConfs = spark.sessionState.conf.getAllConfs

  private def callerUntouched(when: String): Unit =
    for (k <- Seq(WholeStage, FactoryMode, BroadcastTimeout))
      assert(!explicitConfs.contains(k), s"$k set on the caller's session $when")

  private lazy val corpus = {
    val pages = SyntheticCorpus.pages(spark, 400).cache()
    val images = SyntheticCorpus.images(spark, 400).cache()
    // seeds aimed past the 400-page corpus: some fetches 404 and requeue
    val seeds = SyntheticCorpus.seedUrls(spark, 300, pageCount = 600)
    (pages, images, seeds, SyntheticCorpus.robots(spark))
  }

  /** Seed `root`, then run `epochs` epochs, each followed by its requeue. */
  private def crawl(root: String, epochs: Int, pageStore: Option[String] = None): Unit = {
    val (pages, images, seeds, robots) = corpus
    CrawlEpoch.seed(root, spark, seeds)
    (1 to epochs).foreach { e =>
      CrawlEpoch.run(root, spark, pages, images, Some(robots), budgetPerHost = 5,
        epoch = e, pageStore = pageStore)
      CrawlEpoch.requeueFailures(root, spark, e, retryBudget = 1)
    }
  }

  /** The lineage of the epoch's schedule commit under `root`. */
  private def schedLineage(root: String, epoch: Long): Map[String, String] = {
    val t = new SnapshotTable(s"$root/scheduled", spark)
    t.snapshotForLineage("epoch", epoch.toString).map(t.lineage).getOrElse(Map.empty)
  }

  /** Whether `session` plans a simple projection with whole-stage codegen. */
  private def wholeStageCodegen(session: SparkSession): Boolean =
    session.range(1000).selectExpr("id * 2 AS x").where("x > 10").queryExecution
      .executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])

  private def withConfs[A](confs: Map[String, String])(f: => A): A = {
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally confs.keys.foreach(spark.conf.unset)
  }

  test("small crawl steps run interpreted with state identical to compiled runs") {
    val (pages, _, _, _) = corpus
    val store = Files.createTempDirectory("execStore").toString
    PageStore.write(pages, store, nBuckets = 8)
    val rootI = Files.createTempDirectory("execInterp").toString
    val rootC = Files.createTempDirectory("execCompiled").toString
    crawl(rootI, 2, Some(store))
    // both keys explicitly at Spark's defaults: the size gate leaves them
    withConfs(Map(WholeStage -> "true", FactoryMode -> "FALLBACK"))(crawl(rootC, 2, Some(store)))

    for (t <- Seq("frontier", "scheduled", "seen", "seen/tombstones", "out")) {
      val a = new SnapshotTable(s"$rootI/$t", spark)
      val b = new SnapshotTable(s"$rootC/$t", spark)
      assert(a.currentSnapshotId.isDefined, s"$t has no snapshot")
      assert(a.currentSnapshotId === b.currentSnapshotId, s"$t snapshot ids differ")
      (1L to a.currentSnapshotId.get).foreach { id =>
        assert(a.rowCount(id) === b.rowCount(id), s"$t v$id manifest row counts differ")
        def rows(x: SnapshotTable) = x.readAt(id).collect().map(_.toString).sorted.toSeq
        assert(rows(a) === rows(b), s"$t v$id rows differ")
      }
    }

    // the gate explains itself in the lineage of the schedule and requeue commits
    def lineageOf(root: String, t: String, stage: String, epoch: Long) = {
      val table = new SnapshotTable(s"$root/$t", spark)
      (1L to table.currentSnapshotId.get).map(table.lineage)
        .find(l => l.get("stage").contains(stage) && l.get("epoch").contains(epoch.toString))
        .getOrElse(fail(s"no $stage commit for epoch $epoch under $root/$t"))
    }
    for (e <- 1L to 2L; (t, stage) <- Seq("scheduled" -> "scheduled", "frontier" -> "requeue")) {
      val li = lineageOf(rootI, t, stage, e)
      val lc = lineageOf(rootC, t, stage, e)
      assert(li.get("exec").contains("interpreted"), s"epoch $e $stage: $li")
      assert(lc.get("exec").contains("compiled"), s"epoch $e $stage: $lc")
      assert(li("exec_rows").toLong > 0 && li("exec_rows") === lc("exec_rows"))
    }
  }

  test("a repeated small epoch and requeue compile (almost) no classes") {
    crawl(Files.createTempDirectory("execWarm").toString, 1)
    val root = Files.createTempDirectory("execCount").toString
    val (pages, images, seeds, robots) = corpus
    CrawlEpoch.seed(root, spark, seeds)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    CrawlEpoch.run(root, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = 1)
    CrawlEpoch.requeueFailures(root, spark, 1, retryBudget = 1)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    info(s"$compiled Janino compiles")
    // compiled execution recompiles most of the epoch's classes here
    assert(compiled < 10, s"$compiled Janino compiles in a small epoch + requeue")
  }

  test("the settings are scoped to the crawl step; a user-set key is left alone") {
    val (pages, images, seeds, robots) = corpus
    val root = Files.createTempDirectory("execScope").toString
    CrawlEpoch.seed(root, spark, seeds)
    val r = CrawlEpoch.start(root, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = 1)
    // in flight: the out stage may still run in its step session
    callerUntouched("while the out stage is in flight")
    assert(wholeStageCodegen(spark), "a caller's query runs interpreted during the epoch")
    CrawlEpoch.finish(r)
    assert(schedLineage(root, 1).get("exec").contains("interpreted"))
    assert(schedLineage(root, 1).get("exec_rows").contains("300"), "the seed frontier's 300 rows decide")
    callerUntouched("after finish")
    CrawlEpoch.requeueFailures(root, spark, 1, retryBudget = 1)
    callerUntouched("after requeueFailures")

    withConfs(Map(WholeStage -> "true")) {
      CrawlEpoch.run(root, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = 2)
      assert(explicitConfs.get(WholeStage).contains("true"), "a user-set key was changed")
    }
    assert(schedLineage(root, 2).get("exec").contains("compiled"), "whole-stage codegen set by the user")
    assert(!explicitConfs.contains(FactoryMode))

    // pipelined epochs: each decides in its own step session
    val piped = Files.createTempDirectory("execPiped").toString
    CrawlEpoch.seed(piped, spark, seeds)
    val p1 = CrawlEpoch.start(piped, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = 1)
    val p2 = CrawlEpoch.start(piped, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = 2)
    callerUntouched("while pipelined epochs are in flight")
    CrawlEpoch.finish(p1)
    CrawlEpoch.finish(p2)
    for (e <- 1L to 2L)
      assert(schedLineage(piped, e).get("exec").contains("interpreted"), s"pipelined epoch $e")
    callerUntouched("after the pipelined epochs")
  }

  test("a step above the bound runs compiled while small steps are in flight") {
    import CrawlEpoch.{stepSettings, withStepSettings}
    // a small and a large step session alive at once (a pipelined crawl)
    val small = withStepSettings(GraftSessions.cloneOf(spark), 1000L)
    val large = withStepSettings(GraftSessions.cloneOf(spark), 2000000L)
    def confs(s: SparkSession) = s.sessionState.conf.getAllConfs
    assert(confs(small).get(FactoryMode).contains("NO_CODEGEN"))
    assert(confs(small).get(WholeStage).contains("false"))
    assert(!confs(large).contains(FactoryMode) && !confs(large).contains(WholeStage),
      "the large step runs under the small one's interpreted settings")
    for (s <- Seq(small, large)) assert(confs(s).get(BroadcastTimeout).contains("3600"))
    assert(!wholeStageCodegen(small) && wholeStageCodegen(large) && wholeStageCodegen(spark))
    callerUntouched("while both step sessions are alive")
    // a key the caller set is inherited by a later step session and kept
    withConfs(Map(WholeStage -> "true")) {
      val small2 = withStepSettings(GraftSessions.cloneOf(spark), 1000L)
      assert(confs(small2).get(WholeStage).contains("true"))
      assert(confs(small2).get(FactoryMode).contains("NO_CODEGEN"))
    }
    // unknown counts run compiled
    assert(!stepSettings(Long.MaxValue).contains(FactoryMode))
  }

  test("the sidecar probe's generated code is shared by every snapshot of a root") {
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    val root = Files.createTempDirectory("probeCode").toString
    // planning and code generation only: no sidecar is read
    def code(snapshotId: Long): Seq[String] =
      codegenStringSeq(spark.range(1000)
        .where(call_function("bloom_might_contain", col("id"), lit(root), lit(snapshotId)))
        .queryExecution.executedPlan).map(_._2)
    val (a, b) = (code(1L), code(2L))
    assert(a.nonEmpty && a.exists(_.contains("BloomProbe.probe")))
    assert(a === b, "the snapshot id is embedded in the generated code")
  }
}
