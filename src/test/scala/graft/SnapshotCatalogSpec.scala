package graft

import graft.crawl.CrawlEpoch
import graft.gen.SyntheticCorpus
import graft.table.SnapshotTable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The snapshot manifest is the read catalog: reads plan from its file
  * entries, never from a directory listing, and a root written before the
  * entries carried sizes still reads and resumes. */
class SnapshotCatalogSpec extends SparkSpecBase {

  /** Spark jobs started by `f` on this thread. A fence job after `f` is
    * awaited on the listener, so every job of `f` has been delivered when
    * the count is read (the listener bus is asynchronous). */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("catalog-under-test", "")
      val a = try f finally sc.clearJobGroup()
      sc.setJobGroup("catalog-fence", "")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("catalog-fence") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("catalog-fence"), "fence job never reached the listener")
      (a, groups.asScala.count(_ == "catalog-under-test"))
    } finally sc.removeSparkListener(listener)
  }

  test("commitDelta bounds every chain at 64 dirs: the commit onto a full chain compacts it") {
    val t = new SnapshotTable(Files.createTempDirectory("chain70").toString, spark)
    def urls(df: DataFrame): Seq[Long] = df.orderBy("url_hash").collect().map(_.getLong(0)).toSeq
    val ids = (0 until 70).map { i =>
      val id = t.commitDelta(spark.range(i * 10L, i * 10L + 10).toDF("url_hash"))
      assert(t.dataDirs(id).size <= 64, s"commit ${i + 1} chains ${t.dataDirs(id).size} dirs")
      id
    }
    assert(ids.take(64).map(t.dataDirs(_).size) === (1 to 64))
    // the 65th commit found a 64-dir chain: parent + delta in one dir
    val c = ids(64)
    val mc = t.manifest(c).get
    assert(t.dataDirs(c) === Seq(mc.get("data_dir").asText) && !mc.has("data_dirs"))
    assert(t.lineage(c) === Map("compaction" -> "true"))
    assert(t.rowCount(c) === Some(650L) && t.deltaRows(c) === Some(10L))
    assert(mc.get("files").elements().asScala.forall(_.get("path").asText
      .startsWith(mc.get("data_dir").asText + "/")), "a compacting commit lists its own files only")
    assert(ids.drop(65).map(t.dataDirs(_).size) === (2 to 6))
    assert(t.rowCount(ids.last) === Some(700L) && t.deltaRows(ids.last) === Some(10L))
    assert(urls(t.read()) === (0L until 700L))
    // time travel below the compaction is unchanged
    val pre = ids(63)
    assert(urls(t.readAt(pre)) === (0L until 640L))
    // once no retained manifest lists the old chain, expiry deletes it
    val oldChain = t.dataDirs(pre)
    assert(t.expireSnapshots(2) === 68)
    assert(oldChain.forall(d => !Files.exists(Paths.get(d))), "pre-compaction dirs survived expiry")
    assert(urls(t.read()) === (0L until 700L))
  }

  test("a delta chain of 34 data dirs is read with no Spark job before its first action") {
    val t = new SnapshotTable(Files.createTempDirectory("chain34").toString, spark)
    t.commit(spark.range(0, 10).toDF("url_hash"))
    (1 to 33).foreach(i => t.commitDelta(spark.range(i * 10L, i * 10L + 10).toDF("url_hash")))
    val id = t.currentSnapshotId.get
    // past 32 directories Spark lists them with a distributed job
    assert(t.dataDirs(id).size === 34)
    val (df, jobs) = jobsDuring {
      val d = t.read()
      d.queryExecution.executedPlan
      d
    }
    assert(jobs === 0, s"reading the snapshot ran $jobs Spark jobs")
    assert(df.orderBy("url_hash").collect().map(_.getLong(0)).toSeq === (0L until 340L))
    // the delta's own rows alone
    assert(t.readDelta(id).collect().map(_.getLong(0)).sorted.toSeq === (330L until 340L))
    // two reads of one snapshot are the same relation (exchange reuse and
    // cache lookups match them)
    assert(t.read().queryExecution.analyzed.sameResult(t.readAt(id).queryExecution.analyzed))
  }

  test("an empty snapshot reads typed like a non-empty one: nullable columns, partition column last") {
    val t = new SnapshotTable(Files.createTempDirectory("emptyTyped").toString, spark)
    val df = spark.range(5).select(col("id").as("k"), lit(200).as("fetch_status"),
      col("id").cast("string").as("v"))
    val full = t.commit(df, Map("epoch" -> "1"), partitionBy = Seq("fetch_status"))
    val empty = t.commitEmpty(Map("epoch" -> "2")).get
    assert(t.readAt(full).schema.fieldNames.toSeq === Seq("k", "v", "fetch_status"))
    assert(t.readAt(empty).schema === t.readAt(full).schema)
    assert(t.readAt(empty).count() === 0L)
  }

  private val mapper = new ObjectMapper()

  private def manifestsUnder(root: String): Seq[Path] = {
    val w = Files.walk(Paths.get(root))
    try w.iterator().asScala.filter(_.getFileName.toString.matches("v[0-9]+\\.json")).toSeq
    finally w.close()
  }

  /** Rewrite every manifest under `root` to the format written before the
    * manifest was the read catalog: file entries without sizes or partition
    * values, and a delta listing only its own files. */
  private def toPreCatalogFormat(root: String): Int = {
    val ms = manifestsUnder(root)
    ms.foreach { p =>
      val m = mapper.readTree(p.toFile).asInstanceOf[ObjectNode]
      m.remove("partition_col")
      val own = Paths.get(m.get("data_dir").asText)
      val kept = m.get("files").elements().asScala.toSeq
        .filter(e => !m.has("data_dirs") || Paths.get(e.get("path").asText).startsWith(own))
      val files: ArrayNode = m.putArray("files")
      kept.foreach { e =>
        val o = e.deepCopy[ObjectNode]()
        o.remove("bytes")
        o.remove("partition")
        files.add(o)
      }
      Files.write(p, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(m))
    }
    ms.size
  }

  private def rows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
  }

  private val tables = Seq("frontier", "scheduled", "seen", "out", "robots")

  test("a root whose manifests are in the pre-catalog format still reads and resumes like a clean one") {
    val pages = SyntheticCorpus.pages(spark, 400).cache()
    val images = SyntheticCorpus.images(spark, 400).cache()
    val seeds = SyntheticCorpus.seedUrls(spark, 300, pageCount = 600) // incl. 404s
    val robots = SyntheticCorpus.robots(spark)
    val clean = Files.createTempDirectory("catalogClean").toString
    val old = Files.createTempDirectory("catalogOld").toString
    def epoch(root: String, e: Long) =
      CrawlEpoch.run(root, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = e)
    Seq(clean, old).foreach { r =>
      CrawlEpoch.seed(r, spark, seeds)
      epoch(r, 1)
      epoch(r, 2)
    }
    // epoch 2 committed deltas (robots cache, seen set) over full commits
    assert(new SnapshotTable(s"$old/robots", spark).manifest(2).get.has("data_dirs"))
    assert(toPreCatalogFormat(old) > 10)
    for (t <- tables)
      assert(rows(new SnapshotTable(s"$old/$t", spark).read()) ===
        rows(new SnapshotTable(s"$clean/$t", spark).read()), s"$t reads differently")
    // resume on both: a requeue (a delta over a pre-catalog full commit,
    // reading a partitioned pre-catalog out snapshot), then one more epoch
    val requeued = Seq(clean, old).map(r => CrawlEpoch.requeueFailures(r, spark, 2, retryBudget = 3))
    assert(requeued.head > 0 && requeued.head === requeued(1))
    assert(epoch(old, 3) === epoch(clean, 3))
    for (t <- tables)
      assert(rows(new SnapshotTable(s"$old/$t", spark).read()) ===
        rows(new SnapshotTable(s"$clean/$t", spark).read()), s"$t differs after resuming")
  }
}
