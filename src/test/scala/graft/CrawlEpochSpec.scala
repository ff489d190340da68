package graft

import graft.crawl.CrawlEpoch
import graft.frontier.{Scheduler, ShardFiles}
import graft.gen.SyntheticCorpus
import graft.table.SnapshotTable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

class CrawlEpochSpec extends SparkSpecBase {

  private def corpus(): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val pages = SyntheticCorpus.pages(spark, 400).cache()
    val images = SyntheticCorpus.images(spark, 400).cache()
    val seeds = SyntheticCorpus.seedUrls(spark, 300, pageCount = 400)
    val robots = SyntheticCorpus.robots(spark)
    (pages, images, seeds, robots)
  }

  private def outSorted(root: String): Seq[String] = {
    new SnapshotTable(s"$root/out", spark).read()
      .select(col("canon_url"), col("fetch_status"), col("license_abbr"),
        col("phash_ok"), col("pixels_ok"), col("host_rank"))
      .collect()
      .map(_.toString)
      .sorted.toSeq
  }

  test("two crawl epochs: fetch, decode invariants, license annotation, frontier growth") {
    val (pages, images, seeds, robots) = corpus()
    val root = Files.createTempDirectory("crawlA").toString
    CrawlEpoch.seed(root, spark, seeds)
    val m1 = CrawlEpoch.run(root, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = 1)
    assert(m1.scheduled > 0)
    assert(m1.fetched > 0)
    assert(m1.licensed > 0, "license-bearing pages expected at ~3.5% rate")
    // every fetched row decodes and round-trips (the per-row payload invariant)
    val out = new SnapshotTable(s"$root/out", spark).read()
    val fetched = out.filter(col("fetch_status") === 200)
    assert(fetched.filter(!col("phash_ok") || !col("pixels_ok")).count() === 0)
    assert(fetched.filter(col("decoded_w") =!= col("w") || col("decoded_h") =!= col("h")).count() === 0)
    // captions byte-equal to the corpus table's
    val capMismatch = fetched.join(images.select(col("image_id"), col("caption").as("expected_caption")), "image_id")
      .filter(col("caption") =!= col("expected_caption")).count()
    assert(capMismatch === 0)

    val m2 = CrawlEpoch.run(root, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = 2)
    assert(m2.scheduled > 0, "epoch 2 schedules newly discovered links")
    // seen-set grows monotonically and epoch-2 scheduled no epoch-1 url
    val sch1 = new SnapshotTable(s"$root/scheduled", spark).readAt(1)
      .select("url_hash").collect().map(_.getLong(0)).toSet
    val sch2 = new SnapshotTable(s"$root/scheduled", spark).readAt(2)
      .select("url_hash").collect().map(_.getLong(0)).toSet
    assert(sch1.intersect(sch2).isEmpty, "an already-crawled URL was rescheduled")
  }

  test("frontier sheds scheduled and seen URLs: exact per-epoch accounting") {
    import graft.functions.GraftFunctions
    val (pages, images, seeds, robots) = corpus()
    val root = Files.createTempDirectory("crawlShed").toString
    CrawlEpoch.seed(root, spark, seeds)
    CrawlEpoch.run(root, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = 1)
    val schedT = new SnapshotTable(s"$root/scheduled", spark)
    val sch1 = schedT.readAt(1)
    val frontier1 = CrawlEpoch.frontierTable(root, spark).read()
      .withColumn("h", GraftFunctions.urlHash64(col("url")))
    // (a) nothing scheduled this epoch stays in the frontier
    assert(frontier1.join(sch1.select(col("url_hash").as("h")), Seq("h")).count() === 0)
    // (b) exact accounting: |frontier| = |dedup(backlog ∪ links) \ scheduled|
    // recomputed independently from the corpus
    val links = pages
      .withColumn("page_hash", GraftFunctions.urlHash64(col("url")))
      .join(sch1.select(col("url_hash"), col("canon_url")),
        col("page_hash") === col("url_hash") && col("url") === col("canon_url"),
        "left_semi")
      .select(explode(GraftFunctions.extractLinks(col("html"))).as("url"))
    val expected = seeds.select(col("url")).unionByName(links)
      .select(GraftFunctions.urlHash64(col("url")).as("h")).distinct()
      .join(sch1.select(col("url_hash").as("h")), Seq("h"), "left_anti")
      .count()
    assert(frontier1.count() === expected)
    // (c) after epoch 2 the frontier is still disjoint from EVERYTHING seen
    CrawlEpoch.run(root, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = 2)
    val seenAll = new graft.frontier.SeenSet(s"$root/seen", spark).keys()
    val frontier2 = CrawlEpoch.frontierTable(root, spark).read()
      .withColumn("h", GraftFunctions.urlHash64(col("url")))
    assert(frontier2.join(seenAll.withColumnRenamed("url_hash", "h"), Seq("h")).count() === 0)
  }

  test("robots cache: negative caching, delta-only fetch for new hosts") {
    import spark.implicits._
    val pages = SyntheticCorpus.pages(spark, 100).cache()
    val images = SyntheticCorpus.images(spark, 100).cache()
    // pick two REAL corpus pages: one to disallow via robots, one to fetch
    def hostOf(u: String) = u.stripPrefix("http://").takeWhile(_ != '/')
    val urls = pages.select("url").collect().map(_.getString(0)).sorted
    val uDis = urls.head
    val uOk = urls.find(u => hostOf(u) != hostOf(uDis)).get
    val pathDis = uDis.stripPrefix("http://" + hostOf(uDis))
    val robotsSrc = Seq((hostOf(uDis), Seq(pathDis))).toDF("host", "disallowed")
    val seeds = Seq(
      (uDis, 9.0), // disallowed by robots
      (uOk, 5.0), // real page: fetches + yields links
      ("http://nobots.example/x", 4.0) // host absent from the robots source
    ).toDF("url", "priority")
    val root = Files.createTempDirectory("crawlRobots").toString
    CrawlEpoch.seed(root, spark, seeds)
    CrawlEpoch.run(root, spark, pages, images, Some(robotsSrc), budgetPerHost = 5, epoch = 1)
    val cache = new SnapshotTable(s"$root/robots", spark)
    // every frontier host cached, including the no-robots host (null verdict)
    val cached = cache.read().collect()
      .map(r => r.getString(0) -> r.isNullAt(1)).toMap
    assert(cached.contains(hostOf(uDis)) && !cached(hostOf(uDis)))
    assert(cached.contains("nobots.example") && cached("nobots.example"))
    // the robots gate actually applied from the cache
    val sch1 = new SnapshotTable(s"$root/scheduled", spark).readAt(1)
      .select("canon_url").collect().map(_.getString(0)).toSet
    assert(!sch1.contains(uDis), "disallowed URL scheduled")
    assert(sch1.contains("http://nobots.example/x"), "no-robots host must not be gated")
    // epoch 2 discovers new hosts only through new links; its robots commit
    // is a DELTA whose rows are exactly the newly appearing hosts
    CrawlEpoch.run(root, spark, pages, images, Some(robotsSrc), budgetPerHost = 5, epoch = 2)
    val m2 = cache.manifest(cache.currentSnapshotId.get).get
    assert(m2.has("data_dirs"), "epoch-2 robots commit must be a delta")
    val newHosts = m2.get("delta_rows").asLong
    assert(newHosts > 0, "epoch-2 links must surface new hosts to fetch robots for")
    assert(newHosts === cache.read().count() - cached.size,
      "delta must hold only newly-seen hosts")
  }

  test("drained epoch (zero scheduled) completes with empty-but-typed snapshots") {
    import spark.implicits._
    val pages = SyntheticCorpus.pages(spark, 50).cache()
    val images = SyntheticCorpus.images(spark, 50).cache()
    // a single seed whose page does not exist: fetch 404s, no links, epoch 2
    // schedules nothing — the crawl drains instead of crashing
    val seeds = Seq(("http://site1.example/page/999999", 1.0)).toDF("url", "priority")
    val root = Files.createTempDirectory("crawlDrain").toString
    CrawlEpoch.seed(root, spark, seeds)
    val m1 = CrawlEpoch.run(root, spark, pages, images, None, budgetPerHost = 5, epoch = 1)
    assert(m1.scheduled === 1 && m1.fetched === 0)
    val m2 = CrawlEpoch.run(root, spark, pages, images, None, budgetPerHost = 5, epoch = 2)
    assert(m2.scheduled === 0 && m2.fetched === 0 && m2.newFrontier === 0)
    // the empty out snapshot reads back with its full schema intact
    val out2 = new SnapshotTable(s"$root/out", spark).read()
    assert(out2.count() === 0)
    assert(out2.schema.fieldNames.contains("fetch_status"))
  }

  test("drained epoch after the first: ZERO Spark jobs, lineage still advances per table") {
    import spark.implicits._
    val pages = SyntheticCorpus.pages(spark, 50).cache()
    val images = SyntheticCorpus.images(spark, 50).cache()
    val robots = SyntheticCorpus.robots(spark)
    val seeds = Seq(("http://site1.example/page/999999", 1.0)).toDF("url", "priority")
    val root = Files.createTempDirectory("crawlEmptyJobs").toString
    CrawlEpoch.seed(root, spark, seeds)
    CrawlEpoch.run(root, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = 1)
    CrawlEpoch.run(root, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = 2)
    // epoch 3: frontier AND schedule provably empty — every stage commits
    // manifest-only; the epoch's serial floor owes the cluster nothing
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = CrawlEpoch.start(root, spark, pages, images, Some(robots),
        budgetPerHost = 5, epoch = 3)
      scala.concurrent.Await.result(r.outDone,
        scala.concurrent.duration.Duration.Inf)
      Thread.sleep(300) // listener bus is async; drain before reading the count
      assert(jobs.get() === 0, s"empty epoch launched ${jobs.get()} Spark jobs")
      assert(r.scheduled === 0 && r.newFrontier === 0)
      val m3 = CrawlEpoch.finish(r)
      assert(m3.fetched === 0 && m3.licensed === 0 && m3.decodeOk === 0)
    } finally spark.sparkContext.removeSparkListener(listener)
    // lineage advanced in every table the epoch owns
    for (t <- Seq("scheduled", "out", "frontier"))
      assert(new SnapshotTable(s"$root/$t", spark)
        .snapshotForLineage("epoch", "3").isDefined, s"$t missing epoch-3 lineage")
    // and the sink snapshot stays typed + readable
    val out = new SnapshotTable(s"$root/out", spark).read()
    assert(out.count() === 0 && out.schema.fieldNames.contains("fetch_status"))
  }

  test("two-epoch crawl: identical outputs and final seen-set across parallelism") {
    val (pages, images, seeds, robots) = corpus()
    def runAt(shuffleParts: Int, root: String): (Seq[String], Seq[Long]) = {
      spark.conf.set("spark.sql.shuffle.partitions", shuffleParts)
      try {
        CrawlEpoch.seed(root, spark, seeds.repartition(shuffleParts))
        CrawlEpoch.run(root, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = 1)
        CrawlEpoch.run(root, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = 2)
        val seen = new graft.frontier.SeenSet(s"$root/seen", spark)
          .keys().collect().map(_.getLong(0)).sorted.toSeq
        (outSorted(root), seen)
      } finally spark.conf.set("spark.sql.shuffle.partitions", 4)
    }
    val a = runAt(3, Files.createTempDirectory("crawlP1").toString)
    val b = runAt(16, Files.createTempDirectory("crawlP2").toString)
    assert(a._2 === b._2, "final URL-seen set differs across parallelism")
    assert(a._1 === b._1, "crawl outputs differ across parallelism")
    assert(a._2.nonEmpty)
  }

  test("pipelined epochs: byte-identical state vs sequential execution") {
    val (pages, images, seeds, robots) = corpus()
    val rootA = Files.createTempDirectory("crawlSeq").toString
    val rootB = Files.createTempDirectory("crawlPipe").toString
    CrawlEpoch.seed(rootA, spark, seeds)
    CrawlEpoch.seed(rootB, spark, seeds)
    val seq = (1 to 3).map(e =>
      CrawlEpoch.run(rootA, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = e))
    // pipelined: epoch N+1 starts while epoch N's out stage is still running
    val handles = (1 to 3).map(e =>
      CrawlEpoch.start(rootB, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = e))
    val pipe = handles.map(CrawlEpoch.finish)
    assert(pipe === seq, "metrics differ between pipelined and sequential")
    // per-epoch out snapshots byte-identical (located by lineage: pipelined
    // commits may land out of order)
    (1 to 3).foreach { e =>
      def outOf(root: String) = {
        val t = new SnapshotTable(s"$root/out", spark)
        t.readAt(t.snapshotForLineage("epoch", e.toString).get)
          .select(col("canon_url"), col("fetch_status"), col("license_abbr"),
            col("phash_ok"), col("host_rank"))
          .collect().map(_.toString).sorted.toSeq
      }
      assert(outOf(rootA) === outOf(rootB), s"epoch $e out differs")
    }
    // final seen sets identical
    val seenA = new graft.frontier.SeenSet(s"$rootA/seen", spark)
      .keys().collect().map(_.getLong(0)).sorted.toSeq
    val seenB = new graft.frontier.SeenSet(s"$rootB/seen", spark)
      .keys().collect().map(_.getLong(0)).sorted.toSeq
    assert(seenA === seenB)
  }

  test("requeueFailures: per-URL retry budget — N retries then permanent drop") {
    import spark.implicits._
    val (pages, images, _, robots) = corpus()
    // one deterministic always-404 URL (no such page in the 400-page corpus)
    val deadUrl = "http://site1.example/page/9999"
    val deadHash = Seq(deadUrl).toDF("url")
      .select(graft.functions.GraftFunctions.urlHash64(col("url")))
      .head.getLong(0)
    val root = Files.createTempDirectory("crawlBudget").toString
    CrawlEpoch.seed(root, spark, Seq((deadUrl, 9.0)).toDF("url", "priority"))
    val schedT = new SnapshotTable(s"$root/scheduled", spark)
    def scheduledIn(epoch: Long): Boolean =
      schedT.readAt(schedT.snapshotForLineage("epoch", epoch.toString).get)
        .filter(col("url_hash") === deadHash).count() === 1L
    var requeued = 0L
    (1L to 4L).foreach { e =>
      CrawlEpoch.run(root, spark, pages, images, Some(robots), budgetPerHost = 10, epoch = e)
      requeued += CrawlEpoch.requeueFailures(root, spark, epoch = e, retryBudget = 2)
    }
    // budget 2: initial attempt (epoch 1) + exactly 2 retries (epochs 2, 3),
    // then the URL is permanently dropped — epoch 4 must not schedule it
    assert(scheduledIn(1) && scheduledIn(2) && scheduledIn(3), "retries within budget")
    assert(!scheduledIn(4), "URL past its retry budget must never be rescheduled")
    assert(requeued === 2L, "exactly retryBudget re-queues for a persistent failure")
    // dropped URL stays in the seen set (not retracted) and off the frontier
    val seen = new graft.frontier.SeenSet(s"$root/seen", spark)
    assert(seen.filterUnseen(Seq(deadHash).toDF("url_hash")).count() === 0L)
    assert(CrawlEpoch.frontierTable(root, spark).read()
      .filter(col("url") === deadUrl).count() === 0L)
  }

  test("requeueFailures: failed fetches are retracted from the seen set and rescheduled") {
    val (pages, images, _, robots) = corpus()
    // seeds aimed past the 400-page corpus: targets 400..599 fetch as 404
    val seeds = SyntheticCorpus.seedUrls(spark, 300, pageCount = 600)
    val root = Files.createTempDirectory("crawlRetry").toString
    CrawlEpoch.seed(root, spark, seeds)
    CrawlEpoch.run(root, spark, pages, images, Some(robots), budgetPerHost = 1000, epoch = 1)
    val outT = new SnapshotTable(s"$root/out", spark)
    val failedHashes = outT.readAt(outT.snapshotForLineage("epoch", "1").get)
      .filter(col("fetch_status") === 404)
      .select("url_hash").collect().map(_.getLong(0)).toSet
    assert(failedHashes.nonEmpty, "corpus must produce some 404s (seeds 2x pages)")
    // a LATER epoch commits to the frontier before the requeue: the requeue
    // delta (older epoch lineage) must still advance the frontier pointer —
    // state tables always read latest-commit
    CrawlEpoch.run(root, spark, pages, images, Some(robots), budgetPerHost = 1000, epoch = 2)
    val n = CrawlEpoch.requeueFailures(root, spark, epoch = 1)
    assert(n === failedHashes.size.toLong)
    val frontierNow = CrawlEpoch.frontierTable(root, spark).read()
      .select(graft.functions.GraftFunctions.urlHash64(col("url")).as("h"))
      .collect().map(_.getLong(0)).toSet
    assert(failedHashes.subsetOf(frontierNow),
      "requeued URLs must be visible in the frontier even after a later epoch's commit")
    // replay is a no-op (idempotence marker)
    assert(CrawlEpoch.requeueFailures(root, spark, epoch = 1) === 0L)
    // the retry epoch schedules exactly the requeued URLs again (ample budget)
    CrawlEpoch.run(root, spark, pages, images, Some(robots), budgetPerHost = 1000, epoch = 3)
    val schedT = new SnapshotTable(s"$root/scheduled", spark)
    val sch1 = schedT.readAt(schedT.snapshotForLineage("epoch", "1").get)
      .select("url_hash").collect().map(_.getLong(0)).toSet
    val sch3 = schedT.readAt(schedT.snapshotForLineage("epoch", "3").get)
      .select("url_hash").collect().map(_.getLong(0)).toSet
    assert(failedHashes.subsetOf(sch3), "every requeued URL must be rescheduled")
    assert(sch1.intersect(sch3) === failedHashes,
      "ONLY the requeued URLs may be scheduled twice")
    // after the retry epoch re-adds them, the tombstones are cleared: nothing
    // from epoch 3's schedule is unseen anymore
    val seen = new graft.frontier.SeenSet(s"$root/seen", spark)
    import spark.implicits._
    assert(seen.filterUnseen(sch3.toSeq.toDF("url_hash")).count() === 0)
    assert(seen.keys().count() === seen.liveKeys().count(), "no tombstones left")
  }

  test("large-schedule fallback fetch join: byte-identical to the broadcast path") {
    val (pages, images, _, robots) = corpus()
    // seeds past the corpus so the 404/miss recovery is exercised on both paths
    val seeds = SyntheticCorpus.seedUrls(spark, 300, pageCount = 600)
    val rootA = Files.createTempDirectory("crawlBcast").toString
    val rootB = Files.createTempDirectory("crawlShuf").toString
    CrawlEpoch.seed(rootA, spark, seeds)
    CrawlEpoch.seed(rootB, spark, seeds)
    val a = CrawlEpoch.run(rootA, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = 1)
    spark.conf.set("graft.bcastSchedMax", "1") // force the bloom-prefiltered shuffle join
    val b = try CrawlEpoch.run(rootB, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = 1)
    finally spark.conf.unset("graft.bcastSchedMax")
    assert(a === b, "metrics differ between fetch-join strategies")
    assert(outSorted(rootA) === outSorted(rootB), "out rows differ between fetch-join strategies")
    // the schedule Bloom sidecar was written next to the schedule snapshot
    val schedT = new SnapshotTable(s"$rootB/scheduled", spark)
    val sid = schedT.snapshotForLineage("epoch", "1").get
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"$rootB/scheduled", "snapshots", s"bloom-v$sid-s0.bin")))
  }

  test("bucketed page store: byte-identical crawl, fetch scan pruned to the schedule's buckets") {
    import graft.crawl.PageStore
    val (pages, images, _, robots) = corpus()
    val seeds = SyntheticCorpus.seedUrls(spark, 300, pageCount = 600) // incl. misses
    val storePath = Files.createTempDirectory("pagestore").toString
    PageStore.write(pages, storePath, nBuckets = 16)
    val rootA = Files.createTempDirectory("crawlDf").toString
    val rootB = Files.createTempDirectory("crawlStore").toString
    CrawlEpoch.seed(rootA, spark, seeds)
    CrawlEpoch.seed(rootB, spark, seeds)
    val a = CrawlEpoch.run(rootA, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = 1)
    val b = CrawlEpoch.run(rootB, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = 1,
      pageStore = Some(storePath))
    assert(a === b, "metrics differ between corpus-frame and page-store paths")
    assert(outSorted(rootA) === outSorted(rootB), "out rows differ with the page store")
    // frontier (link re-derivation) also byte-equal
    def frontierRows(r: String) = CrawlEpoch.frontierTable(r, spark).read()
      .select("url").collect().map(_.getString(0)).sorted.toSeq
    assert(frontierRows(rootA) === frontierRows(rootB))
    // store + LARGE schedule (forced): the narrow-ids path — the fetched
    // image-id set derives from the pruned key semi join with NO licensed
    // persist — must also be byte-equal to the frame path
    val rootC = Files.createTempDirectory("crawlStoreNarrow").toString
    CrawlEpoch.seed(rootC, spark, seeds)
    spark.conf.set("graft.bcastSchedMax", "1")
    val c = try CrawlEpoch.run(rootC, spark, pages, images, Some(robots),
      budgetPerHost = 5, epoch = 1, pageStore = Some(storePath))
    finally spark.conf.unset("graft.bcastSchedMax")
    assert(a === c, "metrics differ on the store narrow-ids path")
    assert(outSorted(rootA) === outSorted(rootC), "out rows differ on the store narrow-ids path")
    assert(frontierRows(rootA) === frontierRows(rootC))

    // pruning proof: a tiny schedule reads ONLY its buckets' files
    val sched = new SnapshotTable(s"$rootB/scheduled", spark).read()
      .limit(5).select(col("url_hash")).cache()
    try {
      val n = PageStore.bucketCount(storePath)
      val wantBuckets = sched
        .select(PageStore.bucketOf(col("url_hash"), n).as("b"))
        .collect().map(_.getInt(0)).toSet
      val filesRead = PageStore.readForSchedule(spark, storePath, sched, schedRows = 5)
        .select(input_file_name().as("f")).distinct()
        .collect().map(_.getString(0)).toSet
      assert(filesRead.nonEmpty)
      val bucketsRead = filesRead.map { f =>
        "bucket=([0-9]+)".r.findFirstMatchIn(f).get.group(1).toInt
      }
      assert(bucketsRead.subsetOf(wantBuckets),
        s"read buckets $bucketsRead beyond the schedule's $wantBuckets")
    } finally sched.unpersist(blocking = false)
  }

  test("expireState between epochs: byte-identical crawl, old state generations gone") {
    val (pages, images, seeds, robots) = corpus()
    val rootA = Files.createTempDirectory("crawlNoExp").toString
    val rootB = Files.createTempDirectory("crawlExp").toString
    Seq(rootA, rootB).foreach(r => CrawlEpoch.seed(r, spark, seeds))
    (1 to 3).foreach { e =>
      CrawlEpoch.run(rootA, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = e)
      CrawlEpoch.run(rootB, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = e)
      val n = CrawlEpoch.expireState(rootB, spark, keepLast = 1)
      if (e > 1) assert(n > 0, s"epoch $e should have expired some state snapshots")
    }
    assert(outSorted(rootA) === outSorted(rootB), "expiry changed crawl output")
    val seenA = new graft.frontier.SeenSet(s"$rootA/seen", spark).keys()
      .collect().map(_.getLong(0)).sorted.toSeq
    val seenB = new graft.frontier.SeenSet(s"$rootB/seen", spark).keys()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(seenA === seenB, "expiry changed the seen set")
    // the expired root keeps only the newest frontier generation's manifest
    val fB = CrawlEpoch.frontierTable(rootB, spark)
    val cur = fB.currentSnapshotId.get
    assert(fB.manifest(cur - 1).isEmpty, "old frontier manifest should be expired")
  }

  test("expireState: expired snapshots' sidecars are deleted under all four sidecar roots") {
    val (pages, images, _, robots) = corpus()
    // seeds past the corpus: their 404s are retracted into seen/tombstones
    val seeds = SyntheticCorpus.seedUrls(spark, 300, pageCount = 600)
    val root = Files.createTempDirectory("crawlExpSidecars").toString
    CrawlEpoch.seed(root, spark, seeds)
    // (sidecar root, kind, table whose snapshot ids key the files): the
    // image-id filters are keyed by the schedule snapshot id
    val roots = Seq(
      ("seen", ShardFiles.Bloom, "seen"),
      ("seen/tombstones", ShardFiles.Cuckoo, "seen/tombstones"),
      ("scheduled", ShardFiles.Bloom, "scheduled"),
      ("imgbloom", ShardFiles.Bloom, "scheduled"))
    def sidecarIds(r: String): Set[Long] =
      Option(new java.io.File(s"$root/$r/snapshots").listFiles).toSeq.flatten
        .flatMap(f => ShardFiles.snapshotOf(f.getName)).toSet
    val written = scala.collection.mutable.Map[String, Set[Long]]()
    spark.conf.set("graft.bcastSchedMax", "1") // builds the schedule + image-id sidecars
    try (1 to 3).foreach { e =>
      CrawlEpoch.run(root, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = e)
      CrawlEpoch.requeueFailures(root, spark, epoch = e)
      roots.foreach { case (r, _, _) =>
        written(r) = written.getOrElse(r, Set.empty[Long]) ++ sidecarIds(r) }
      CrawlEpoch.expireState(root, spark, keepLast = 1)
    } finally spark.conf.unset("graft.bcastSchedMax")
    roots.foreach { case (r, kind, owner) =>
      val t = new SnapshotTable(s"$root/$owner", spark)
      val expired = written(r).filter(id => t.manifest(id).isEmpty)
      assert(expired.nonEmpty, s"$r: no sidecar generation was expired")
      assert(sidecarIds(r).intersect(expired).isEmpty,
        s"$r: sidecars of expired snapshots ${sidecarIds(r).intersect(expired)} remain")
      assert(ShardFiles.allPresent(kind, s"$root/$r", t.currentSnapshotId.get),
        s"$r: the current generation's sidecars are gone")
    }
  }

  test("snapshot pointer never regresses to an older epoch; rollback never clobbers snapshots") {
    import spark.implicits._
    // out-of-order pipelined commits: epoch 3's out lands before epoch 2's
    val root = Files.createTempDirectory("snapOrder").toString
    val t = new SnapshotTable(s"$root/out", spark, epochOrdered = true)
    t.commit(Seq((1L, "a")).toDF("epoch_row", "v"), Map("epoch" -> "1"))
    t.commit(Seq((3L, "c")).toDF("epoch_row", "v"), Map("epoch" -> "3"))
    val lateId = t.commit(Seq((2L, "b")).toDF("epoch_row", "v"), Map("epoch" -> "2"))
    // plain readers see the NEWEST epoch, not the last-landed commit
    assert(t.read().select("epoch_row").as[Long].collect().toSeq === Seq(3L))
    // the late commit is still fully recorded and locatable by lineage
    assert(t.snapshotForLineage("epoch", "2") === Some(lateId))
    assert(t.readAt(lateId).select("v").as[String].collect().toSeq === Seq("b"))
    // a STATE table (not epochOrdered) must always advance: a maintenance
    // commit for an old epoch (e.g. a requeue delta) is still the truth
    val st = new SnapshotTable(s"$root/state", spark)
    st.commit(Seq((3L, "c")).toDF("epoch_row", "v"), Map("epoch" -> "3"))
    st.commit(Seq((1L, "r")).toDF("epoch_row", "v"), Map("epoch" -> "1"))
    assert(st.read().select("v").as[String].collect().toSeq === Seq("r"),
      "state-table pointer must follow the latest commit regardless of epoch lineage")

    // rollback then re-add: new ids allocate past the max manifest, the
    // rolled-back-over snapshot stays intact
    val seen = new graft.frontier.SeenSet(s"$root/seen", spark)
    seen.add(Seq(10L, 11L).toDF("url_hash"))
    val idB = seen.add(Seq(12L).toDF("url_hash"))
    seen.rollbackTo(1L)
    val idC = seen.add(Seq(13L).toDF("url_hash"))
    assert(idC > idB, "post-rollback commit must not reuse a live snapshot id")
    assert(seen.table.readAt(idB).count() === 3, "rolled-back-over snapshot was clobbered")
    val cur = seen.keys().as[Long].collect().toSet
    assert(cur === Set(10L, 11L, 13L))
  }

  test("mid-epoch resume: pre-completed schedule stage is not redone and output matches a clean run") {
    val (pages, images, seeds, robots) = corpus()
    val rootA = Files.createTempDirectory("crawlB1").toString
    val rootB = Files.createTempDirectory("crawlB2").toString
    CrawlEpoch.seed(rootA, spark, seeds)
    CrawlEpoch.seed(rootB, spark, seeds)
    // clean run on A
    CrawlEpoch.run(rootA, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = 1)
    // on B: simulate a crash after stage 1 committed (schedule done, marker set)
    val schedB = new SnapshotTable(s"$rootB/scheduled", spark)
    val seenB = new graft.frontier.SeenSet(s"$rootB/seen", spark)
    val sch = Scheduler.scheduleEpoch(
      CrawlEpoch.frontierTable(rootB, spark).read(), seenB, Some(robots), 5)
    schedB.commit(sch, Map("epoch" -> "1", "stage" -> "scheduled"))
    schedB.markStage(1, "scheduled")
    val schedSnapshotBefore = schedB.currentSnapshotId.get
    // resume
    CrawlEpoch.run(rootB, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = 1)
    assert(schedB.currentSnapshotId.get === schedSnapshotBefore, "schedule stage was redone")
    assert(outSorted(rootA) === outSorted(rootB), "resumed run diverged from clean run")
  }

  test("mid-epoch resume at the publish boundaries: manifest without pointer flip, pointer without marker") {
    val (pages, images, _, robots) = corpus()
    // seeds past the corpus: their 404s give the requeue rows to append
    val seeds = SyntheticCorpus.seedUrls(spark, 300, pageCount = 600)
    def crawl(root: String, epoch: Long) =
      CrawlEpoch.run(root, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = epoch)
    def requeue(root: String) = CrawlEpoch.requeueFailures(root, spark, epoch = 2)
    def state(root: String) = (
      outSorted(root),
      CrawlEpoch.frontierTable(root, spark).read()
        .select(col("url"), col("priority"), col("retries"))
        .collect().map(_.toString).sorted.toSeq,
      new graft.frontier.SeenSet(s"$root/seen", spark)
        .keys().collect().map(_.getLong(0)).sorted.toSeq,
      new SnapshotTable(s"$root/robots", spark).read().collect().map(_.toString).sorted.toSeq)
    val clean = Files.createTempDirectory("crawlPubClean").toString
    CrawlEpoch.seed(clean, spark, seeds)
    crawl(clean, 1)
    val cleanMetrics = crawl(clean, 2)
    val cleanRequeued = requeue(clean)
    assert(cleanRequeued > 0, "epoch 2 must have failures to requeue")
    val cleanState = state(clean)
    // A crash inside the publish of `stage` to `table`, simulated by editing
    // files after the complete step: epoch 2 for its stages, else epoch 2's
    // requeue. The marker is always lost; with `flipped = false` the pointer
    // is also put back to the snapshot before the step, leaving the step's
    // manifest on disk unreferenced. The schedule is left out: no later
    // stage can have run while its marker is missing.
    val stages = Seq("out" -> "out", "seen" -> "seen", "frontier" -> "frontier",
      "robots" -> "robots", "requeue" -> "frontier")
    for ((stage, table) <- stages; flipped <- Seq(false, true)) {
      val label = s"$stage stage, " +
        (if (flipped) "pointer flipped, marker missing" else "manifest written, pointer not flipped")
      val root = Files.createTempDirectory(s"crawlPub-$stage").toString
      val pointer = java.nio.file.Paths.get(root, table, "snapshots", "current")
      CrawlEpoch.seed(root, spark, seeds)
      crawl(root, 1)
      if (stage == "requeue") crawl(root, 2)
      val before = Files.readAllBytes(pointer)
      if (stage == "requeue") requeue(root) else crawl(root, 2)
      val orphan = new SnapshotTable(s"$root/$table", spark).currentSnapshotId.get
      if (!flipped) Files.write(pointer, before)
      Files.delete(java.nio.file.Paths.get(root, table, "stages", s"e2-$stage"))
      val replayed =
        if (stage == "requeue") requeue(root)
        else {
          assert(crawl(root, 2) === cleanMetrics, s"$label: resumed metrics differ from the clean run")
          requeue(root)
        }
      assert(state(root) === cleanState, s"$label: resumed state differs from the clean run")
      val t = new SnapshotTable(s"$root/$table", spark)
      assert(t.stageDone(2, stage), s"$label: marker not rewritten")
      if (stage == "requeue" && flipped) {
        assert(replayed === 0L, s"$label: the replay re-queued URLs")
        assert(t.currentSnapshotId === Some(orphan), s"$label: the replay committed")
      } else {
        assert(replayed === cleanRequeued, s"$label: re-queued count differs from the clean run")
        assert(t.currentSnapshotId.exists(_ > orphan),
          s"$label: the redone stage must publish past the unreferenced manifest")
      }
    }
  }

  test("finished epochs run again after their requeues report the same metrics") {
    val (pages, images, _, robots) = corpus()
    // seeds past the corpus: their 404s give the requeues rows to append
    val seeds = SyntheticCorpus.seedUrls(spark, 300, pageCount = 600)
    val root = Files.createTempDirectory("crawlRerun").toString
    CrawlEpoch.seed(root, spark, seeds)
    def crawl(e: Long) =
      CrawlEpoch.run(root, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = e)
    val first = (1L to 2L).map { e =>
      val m = crawl(e)
      assert(CrawlEpoch.requeueFailures(root, spark, epoch = e) > 0, s"epoch $e requeued nothing")
      m
    }
    // as a crawl restarted on its state root runs them: epoch 1 now reads a
    // frontier two epochs and two requeues past its own
    assert((1L to 2L).map(crawl) === first)
  }

  test("a crawl adds no listener to the SparkContext: 10 epochs, each with its requeue") {
    // a caller without query-execution listeners: a step session copies its
    // caller's, so any bus added here is one the crawl added
    val caller = spark.newSession()
    val (pages, images, _, robots) = corpus()
    // seeds past the corpus: their 404s are re-queued every epoch, so no
    // epoch drains
    val seeds = SyntheticCorpus.seedUrls(spark, 300, pageCount = 600)
    val root = Files.createTempDirectory("crawlListeners").toString
    CrawlEpoch.seed(root, caller, seeds)
    val before = executionListenerBuses()
    (1L to 10L).foreach { e =>
      val m = CrawlEpoch.run(root, caller, pages, images, Some(robots), budgetPerHost = 5, epoch = e)
      assert(m.scheduled > 0, s"epoch $e scheduled nothing")
      CrawlEpoch.requeueFailures(root, caller, epoch = e)
    }
    assert(executionListenerBuses() <= before)
  }
}
