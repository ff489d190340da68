package graft.app

import graft.crawl.CrawlEpoch
import graft.gen.SyntheticCorpus

import org.apache.spark.sql.SparkSession

/** spark-submit entry point: run (or resume) a multi-epoch crawl against the
  * synthetic corpus, with all state snapshot-committed under `--state`.
  *
  * {{{
  *   spark-submit --class graft.app.CrawlMain <jar> \
  *     --state /data/crawl --pages 1000000 --images 100000 \
  *     --seeds 2000000 --budget 125000 --epochs 3 \
  *     --retry-budget 100 --expire-keep 2
  * }}}
  *
  * Re-invoking with the same `--state` resumes: completed epochs (and
  * completed stages inside a killed epoch) are skipped via markers.
  * On a real deployment the corpus tables would be Iceberg/parquet paths
  * instead of the generator (swap `pages`/`images` for `spark.read`).
  */
object CrawlMain {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val state = opts.getOrElse("--state", sys.error("--state required"))
    val nPages = opts.getOrElse("--pages", "100000").toLong
    val nImages = opts.getOrElse("--images", (nPages / 10).toString).toLong
    val nSeeds = opts.getOrElse("--seeds", (nPages * 2).toString).toLong
    val budget = opts.getOrElse("--budget", math.max(100, nPages / 8).toString).toInt
    val epochs = opts.getOrElse("--epochs", "1").toInt
    // retry failed fetches after each epoch, bounded per URL (0 = off)
    val retryBudget = opts.getOrElse("--retry-budget", "0").toInt
    val expireKeep = opts.getOrElse("--expire-keep", "0").toInt // 0 = never
    // lay the corpus out as a bucketed PageStore and run epochs against it
    // (fetch/link scans prune to the schedule's buckets — the shape for a
    // store too large to cache); 0 = keep the in-memory corpus frame
    val storeBuckets = opts.getOrElse("--page-store-buckets", "0").toInt

    val spark = graft.Graft.withCodegenCache(SparkSession.builder())
      .appName("graft-crawl")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val pages = SyntheticCorpus.pages(spark, nPages)
    val images = SyntheticCorpus.images(spark, nImages)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val robots = SyntheticCorpus.robots(spark)

    if (!CrawlEpoch.frontierTable(state, spark).exists)
      CrawlEpoch.seed(state, spark, SyntheticCorpus.seedUrls(spark, nSeeds, nPages))

    val pageStore =
      if (storeBuckets > 0) {
        val p = s"$state/pagestore"
        // reuse ONLY a store written for this exact corpus + layout: a
        // stale store silently 404s every page it lacks. Corpus IDENTITY is
        // row count + generator version + a checksum of a deterministic row
        // sample — row count alone would pass a store whose generator
        // changed under it across versions of this code.
        val fp = {
          import org.apache.spark.sql.functions.{col, sha2}
          val sampleImgs = Seq(0L, nPages / 2, math.max(0L, nPages - 1))
            .distinct.map(i => f"img-$i%08d")
          val probe = pages
            .filter(col("image_id").isin(sampleImgs: _*))
            .select(col("url"), sha2(col("html"), 256))
            .collect().map(r => s"${r.getString(0)}#${r.getString(1)}")
            .sorted.mkString("|")
          s"pages=$nPages;gen=${SyntheticCorpus.Version};" +
            s"probe=${Integer.toHexString(probe.hashCode)}"
        }
        if (!graft.crawl.PageStore.matches(p, storeBuckets, fp))
          graft.crawl.PageStore.write(pages, p, storeBuckets, fp)
        Some(p)
      } else None

    (1 to epochs).foreach { e =>
      val m = CrawlEpoch.run(state, spark, pages, images, Some(robots), budget, e,
        pageStore = pageStore)
      // the execution mode the epoch's schedule commit recorded
      val sched = new graft.table.SnapshotTable(s"$state/scheduled", spark)
      val lineage = sched.snapshotForLineage("epoch", e.toString)
        .map(sched.lineage).getOrElse(Map.empty)
      val requeued =
        if (retryBudget > 0)
          CrawlEpoch.requeueFailures(state, spark, e, retryBudget = retryBudget)
        else 0L
      if (expireKeep > 0) CrawlEpoch.expireState(state, spark, expireKeep)
      println(s"epoch $e: scheduled=${m.scheduled} fetched=${m.fetched} " +
        s"licensed=${m.licensed} decodeOk=${m.decodeOk} frontier=${m.newFrontier} " +
        s"exec=${lineage.getOrElse("exec", "?")} exec_rows=${lineage.getOrElse("exec_rows", "?")}" +
        (if (retryBudget > 0) s" requeued=$requeued" else ""))
    }
    spark.stop()
  }
}
