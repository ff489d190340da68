package graft.crawl

import graft.frontier.{Scheduler, SeenSet, ShardFiles}
import graft.functions.GraftFunctions
import graft.table.SnapshotTable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** One crawl epoch as a typed DataFrame job (north rule): frontier →
  * seen-set dedupe → politeness-budget scheduling → simulated fetch → image
  * decode + invariant checks → license annotation → snapshot-committed
  * outputs, with per-stage markers so a killed run resumes mid-epoch.
  *
  * State layout under `stateRoot`: `frontier/`, `seen/`, `scheduled/`,
  * `out/` — each a [[SnapshotTable]] with atomic commits. Every stage is
  * idempotent (pure function of committed inputs), so re-running an epoch
  * after a crash cannot corrupt state: the reference's resume-at-record-index
  * (`retry_warc.py:80-101`) maps to "redo the uncommitted stage".
  */
object CrawlEpoch {

  /** The epoch's out-table counts (fetched, licensed, decode_ok): observed
    * on the out commit's write, or aggregated over a resumed epoch's
    * committed snapshot. */
  private def outCounts: Seq[org.apache.spark.sql.Column] = Seq(
    count(when(col("fetch_status") === 200, 1)).as("fetched"),
    count(when(col("license_abbr").isNotNull, 1)).as("licensed"),
    count(when(col("pixels_ok") && col("phash_ok"), 1)).as("decode_ok"))

  /** Pool for the concurrent epoch stages (Spark actions are
    * driver-blocking). Cached: pipelined execution keeps one out-stage per
    * in-flight epoch outstanding. Daemon threads: the pool must not keep
    * the JVM alive after main returns. */
  private lazy val stageEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-epoch-stage")
        t.setDaemon(true)
        t
      }))

  /** Broadcast-timeout raise, SCOPED to the set of in-flight epochs:
    * [[start]] raises the session's `spark.sql.broadcastTimeout` (only when
    * the user never set the key themselves), [[finish]] restores the default
    * once no epoch remains in flight — pipelined epochs share one raise via
    * this refcount, so an application embedding CrawlEpoch on a long-lived
    * session gets its 300 s broadcast hang safety net back between crawls.
    * An epoch that is started but never finished (abandoned) leaves the
    * raise in place — there is no safe point to restore under it. */
  private val raiseLock = new Object
  private var activeEpochs = 0
  private var raisedOn: Option[SparkSession] = None

  final case class EpochMetrics(
      epoch: Long,
      scheduled: Long,
      fetched: Long,
      licensed: Long,
      decodeOk: Long,
      newFrontier: Long)

  /** An epoch whose crawl-STATE stages (robots, schedule, seen, frontier)
    * are committed — the next epoch may start — while the fetch/decode/
    * annotate sink stage may still be running. See [[start]]/[[finish]]. */
  final case class RunningEpoch(
      epoch: Long,
      scheduled: Long,
      newFrontier: Long,
      // (fetched, licensed, decode_ok) observed ON the out commit's write
      // action (no separate scan job); None when the stage was resumed as
      // already-committed — finish() then falls back to the snapshot scan
      outDone: scala.concurrent.Future[Option[(Long, Long, Long)]],
      private[crawl] val outTable: SnapshotTable)

  def frontierTable(stateRoot: String, spark: SparkSession) =
    new SnapshotTable(s"$stateRoot/frontier", spark)

  /** Install the epoch-0 frontier from a seed list (url, priority).
    * A `retries` column (per-URL retry count, see [[requeueFailures]]) is
    * added as 0 when absent so the frontier schema is stable from epoch 0. */
  def seed(stateRoot: String, spark: SparkSession, seeds: DataFrame): Unit = {
    val withRetries =
      if (seeds.columns.contains("retries")) seeds
      else seeds.withColumn("retries", lit(0))
    frontierTable(stateRoot, spark).commit(withRetries, Map("stage" -> "seed"))
  }

  /** Run (or resume) epoch `epoch`, awaiting every stage. */
  def run(
      stateRoot: String,
      spark: SparkSession,
      pages: DataFrame,
      images: DataFrame,
      robots: Option[DataFrame],
      budgetPerHost: Int,
      epoch: Long,
      linkPriorityDecay: Double = 0.8,
      pageStore: Option[String] = None): EpochMetrics =
    finish(start(stateRoot, spark, pages, images, robots, budgetPerHost,
      epoch, linkPriorityDecay, pageStore))

  /** PIPELINED epoch entry: returns once the crawl-STATE stages (robots
    * cache, schedule, seen set, next frontier) are committed — everything
    * epoch N+1 depends on — while the fetch/decode/annotate sink stage keeps
    * running in `outDone`. Calling `start(N+1)` immediately after `start(N)`
    * overlaps N+1's scheduling with N's fetch work: sustained multi-epoch
    * throughput is then bounded by max(state-stage time, out-stage time)
    * instead of their sum. Out-of-order out commits are safe: commits are
    * serialized per table root, [[finish]] locates the epoch's snapshot by
    * manifest lineage, and the out table's `current` pointer never regresses
    * to an older epoch (a late-landing earlier epoch is recorded but does not
    * steal the pointer), so plain readers always see the newest epoch. */
  /** @param pageStore path of a [[PageStore]]-bucketed corpus layout; when
    *        given, the fetch/link corpus scans read the store PRUNED to the
    *        schedule's hash buckets instead of scanning `pages` — the
    *        scan-∝-schedule shape a 100 TB store requires. `pages` is then
    *        ignored by this epoch. */
  def start(
      stateRoot: String,
      spark: SparkSession,
      pages: DataFrame,
      images: DataFrame,
      robots: Option[DataFrame],
      budgetPerHost: Int,
      epoch: Long,
      linkPriorityDecay: Double = 0.8,
      pageStore: Option[String] = None): RunningEpoch = {
    GraftFunctions.register(spark)
    // Batch crawl epochs prefer late success over spurious broadcast aborts:
    // every broadcast here is threshold-gated in ROWS (robots, schedule,
    // maybes, tombstones), but a broadcast whose input subplan is the FIRST
    // materializer of a cold cache (the keys-side prune's maybes over the
    // just-persisted frontier, when the gating count was skipped) runs the
    // whole upstream under spark.sql.broadcastTimeout — 300 s default, a
    // flaky failure mode in a degraded I/O window. Raised ONLY when the user
    // never set the key themselves (getAllConfs holds explicitly-set entries
    // only — an explicit 300 is respected), and restored by finish() once no
    // epoch is in flight (see raiseLock above): the out-stage future
    // outlives start(), so the refcount — not this call — scopes the raise.
    raiseLock.synchronized {
      activeEpochs += 1
      if (raisedOn.isEmpty &&
          !spark.sessionState.conf.getAllConfs.contains("spark.sql.broadcastTimeout")) {
        spark.conf.set("spark.sql.broadcastTimeout", "3600")
        raisedOn = Some(spark)
      }
    }
    val frontier = frontierTable(stateRoot, spark)
    val seen = new SeenSet(s"$stateRoot/seen", spark)
    val schedTable = new SnapshotTable(s"$stateRoot/scheduled", spark)
    val outTable = new SnapshotTable(s"$stateRoot/out", spark, epochOrdered = true)

    def timed[A](name: String)(f: => A): A = {
      // Job-group label per stage thread (thread-local in SparkContext):
      // lets a listener attribute every Spark job to its epoch+stage — the
      // floor-attack measurement map. Always set (cheap, thread-local);
      // only a listener (e.g. Bench's SPARK_GRAFT_JOBSTATS=1) consumes it.
      // The CALLER's group is restored afterwards, not cleared — a caller
      // wrapping run() in its own job group (e.g. for cancelJobGroup
      // watchdogs) must keep it on this thread after we return.
      val sc = spark.sparkContext
      val prev = Seq("spark.jobGroup.id", "spark.job.description",
        "spark.job.interruptOnCancel").map(k => k -> sc.getLocalProperty(k))
      sc.setJobGroup(s"e$epoch-$name", s"epoch $epoch $name")
      try f
      finally prev.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }

    // --- stage 0: robots cache (north rule "robots.txt caching") -------------
    // The robots source models the live web: fetching is per-host work, so
    // the cache stores every host's verdict (including "no robots.txt", as a
    // null disallow-list — negative caching) and each epoch fetches ONLY the
    // hosts newly appearing in the frontier, committed as a DELTA snapshot
    // (the table compacts its chain, so the cache's dirs stay bounded).
    // Cost discipline: the SCHEDULE gates against `cache ∪ (source \ cached
    // hosts)` — gating never needs the frontier's host set, because a host
    // with no row on the broadcast side is simply not disallowed — so robots
    // work on the schedule path is O(|cache| + |source|), no frontier scan.
    // The cache COMMIT (which does scan the frontier once to record negative
    // verdicts for new hosts) gates nothing and runs in the concurrent stage
    // block, hidden under the fetch/decode stage's wall clock.
    // Gating-table host-count bound for the broadcast decision: |cache ∪
    // (src \ cache)| ≤ cacheRows (known exactly from the current manifest) +
    // srcRows (known only when the source plan PROVES an exact count — an
    // in-memory relation or a range, through projections/aliases; the
    // optimizer's stats.rowCount is an ESTIMATE that can undercount by
    // orders of magnitude and must never enable a broadcast. No counting
    // job is ever run for this). Unknown ⇒ Long.MaxValue ⇒
    // Scheduler.applyRobots stays unhinted (safe at 10^8 hosts; AQE still
    // broadcast-converts a genuinely small gate at runtime).
    def exactRowCount(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[Long] = {
      import org.apache.spark.sql.catalyst.plans.logical._
      plan match {
        case p: Project       => exactRowCount(p.child)
        case a: SubqueryAlias => exactRowCount(a.child)
        case l: LocalRelation => Some(l.data.length.toLong)
        case r: Range         => Some(r.numElements.longValue)
        case _                => None
      }
    }
    val robotsCache: Option[(SnapshotTable, DataFrame, DataFrame, Long)] = robots.map { src =>
      val cacheT = new SnapshotTable(s"$stateRoot/robots", spark)
      val known = if (cacheT.exists) Some(cacheT.read()) else None
      val forSchedule = known.fold(src)(k =>
        k.unionByName(src.join(k.select(col("host")), Seq("host"), "left_anti")))
      val cacheRows = cacheT.currentRowCount
      val srcRows = exactRowCount(src.queryExecution.optimizedPlan)
      val hostBound = (known, cacheRows, srcRows) match {
        case (None, _, Some(s))          => s
        case (Some(_), Some(c), Some(s)) => c + s
        case _                           => Long.MaxValue
      }
      val hosts = frontier.read()
        .select(GraftFunctions.urlHost(col("url")).as("host")).distinct()
      val missing = known.fold(hosts)(k =>
        hosts.join(k.select(col("host")), Seq("host"), "left_anti"))
      val fetched = missing.join(src, Seq("host"), "left") // null = no robots.txt
      (cacheT, fetched, forSchedule, hostBound)
    }

    def runRobotsStage(emptyFrontier: => Boolean): Unit =
      robotsCache.foreach { case (cacheT, fetched, _, _) =>
        if (!cacheT.stageDone(epoch, "robots")) {
          // empty frontier ⇒ no hosts ⇒ no new verdicts: marker only
          if (emptyFrontier && cacheT.exists) cacheT.markStage(epoch, "robots")
          else {
            cacheT.commitDelta(fetched, Map("epoch" -> epoch.toString))
            cacheT.markStage(epoch, "robots")
          }
        }
      }

    // --- stage 1: schedule ---------------------------------------------------
    // The normalized frontier is PERSISTED for the stage: it feeds both the
    // maybes count (the keys-side prune gate in filterUnseenPersisted — at
    // 10^10 seen keys the prune keeps the key table out of the exchange)
    // and the schedule plan itself, then is dropped once the schedule is
    // committed. Epoch-frontier sized by the shedding invariant.
    // Manifest-exact frontier row count (normalize only dedupes): bounds
    // the Bloom maybes so the keys-side prune's gating count job is
    // skipped whenever the whole frontier fits the broadcast cap — the
    // per-epoch-floor case. No counting job is ever run for this. Also
    // drives the empty-epoch short-circuits below: 0 frontier rows means
    // the schedule/robots/frontier stages provably have nothing to compute.
    val frontierRowsExact = frontier.currentRowCount.getOrElse(Long.MaxValue)
    if (!schedTable.stageDone(epoch, "scheduled")) timed("schedule") {
      // empty frontier ⇒ empty schedule: typed manifest-only commit from
      // the parent schedule's recorded schema (first epoch has no parent —
      // the general path writes the schema then)
      if (frontierRowsExact == 0L && schedTable.commitEmpty(
          Map("epoch" -> epoch.toString, "stage" -> "scheduled")).isDefined)
        schedTable.markStage(epoch, "scheduled")
      else {
        val normalized = Scheduler.normalize(frontier.read())
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val sch = Scheduler.scheduleFromNormalized(normalized, seen,
            robotsCache.map(_._3), budgetPerHost,
            robotsHosts = robotsCache.map(_._4).getOrElse(Long.MaxValue),
            persisted = true, frontierRows = frontierRowsExact)
          schedTable.commit(sch, Map("epoch" -> epoch.toString, "stage" -> "scheduled"))
          schedTable.markStage(epoch, "scheduled")
        } finally normalized.unpersist(blocking = false)
      }
    }
    val scheduled = schedTable.read()

    // Stages 2 (out), 3 (seen) and 4 (frontier) depend only on the committed
    // schedule + static corpus tables — run them as CONCURRENT Spark jobs so
    // the epoch's wall clock is schedule + max(2,3,4), not the sum, and tasks
    // from one stage fill cores the others leave idle.
    val schedSnap = schedTable.snapshotForLineage("epoch", epoch.toString).getOrElse(
      sys.error(s"epoch $epoch: no schedule snapshot under $stateRoot/scheduled " +
        "after its schedule stage"))
    val schedRows = schedTable.rowCount(schedSnap).get
    // EMPTY-EPOCH SHORT-CIRCUITS (manifest-exact counts, never a job): a
    // drained epoch must still advance lineage — resume markers, metrics
    // and the next epoch all look state up by epoch — but owes no Spark
    // jobs for stages whose inputs are provably empty. With 0 scheduled
    // rows the fetch/decode sink is empty (manifest-only typed commit) and
    // the seen set gains nothing (marker only); the frontier/robots stages
    // additionally need the FRONTIER empty (a non-empty frontier with an
    // empty schedule still sheds seen URLs / may cache new hosts).
    val emptySchedule = schedRows == 0L
    // Fetch joins key on the 64-bit url hash instead of the URL string: the
    // epoch's widest shuffle then sorts/hashes longs, not ~40-char strings.
    // Exactness is kept by re-checking string equality after the hash match
    // (a hash collision yields a dropped match, never a wrong one).
    // With a bucketed PageStore, the corpus read is PRUNED to the schedule's
    // hash buckets (exact: every corpus join keys on page_hash = url_hash,
    // so matches can only live in the schedule's buckets) — a tail epoch
    // stops paying full-corpus scans, and at the 100 TB store scale the
    // fetch I/O is ∝ schedule, not ∝ store.
    lazy val pagesHashed = pageStore match {
      case Some(path) =>
        PageStore.readForSchedule(spark, path, scheduled, schedRows)
      case None => pages
        .withColumnsRenamed(Map("url" -> "page_url"))
        .withColumn("page_hash", GraftFunctions.urlHash64(col("page_url")))
    }
    // Default lowered 4M → 1M rows in round 5: at 3.2M scheduled rows the
    // fallback (Bloom-sidecar prefilter, no persist) measured FASTER than
    // the schedule broadcast at both local[8] (75.5 vs 95.9 s) and local[32]
    // (51.0 vs 57.7 s) — a multi-hundred-MB broadcast build costs more than
    // the sidecar it avoids. ~1M rows ≈ the tens-of-MB broadcast region
    // where the broadcast path still wins.
    val broadcastMax = graft.core.GraftConf.longKnob(spark,
      "graft.bcastSchedMax", "SPARK_GRAFT_BCAST_SCHED_MAX", 1000000L)
    // Schedule-keyed Bloom sidecar for schedules too large to broadcast (the
    // NORMAL case at a 10^10-URL frontier): written next to the schedule
    // snapshot (GC'd by expireSnapshots), probed by the codegen'd
    // bloom_might_contain inside the corpus scan so both corpus-joining
    // stages (fetch, link re-derivation) see ~schedule-sized candidates and
    // html never crosses their exchanges. Built at most once — `lazy val` is
    // the thread-safety barrier, stages 2 and 4 run concurrently. Bloom
    // false positives die in the exact joins; false negatives do not exist.
    lazy val scheduleBloom: String = {
      val schedRoot = s"$stateRoot/scheduled"
      if (!ShardFiles.allPresent(ShardFiles.Bloom, schedRoot, schedSnap))
        SeenSet.buildWriteShards(schedRoot, schedSnap,
          scheduled.select(col("url_hash")),
          math.max(1000L, schedRows / SeenSet.ShardCount),
          knownRows = schedRows) // exact, from the schedule manifest
      schedRoot
    }
    def bloomPrefiltered(df: DataFrame): DataFrame =
      df.where(call_function("bloom_might_contain",
        col("page_hash"), lit(scheduleBloom), lit(schedSnap)))

    // --- stage 2: fetch + decode + annotate → out ---------------------------
    // returns the epoch's out counts; None when the stage was already done
    def runOutStage(): Option[(Long, Long, Long)] = {
      if (outTable.stageDone(epoch, "out")) return None
      // 0 scheduled rows ⇒ the sink is empty by construction: commit the
      // typed empty snapshot from the parent's recorded schema, no job.
      // (First-ever epoch with an empty schedule has no parent schema to
      // copy — fall through to the general path, which writes one.)
      if (emptySchedule &&
          outTable.commitEmpty(Map("epoch" -> epoch.toString, "stage" -> "out")).isDefined) {
        outTable.markStage(epoch, "out")
        return Some((0L, 0L, 0L))
      }
      // Fetch join, 100 TB shape: html NEVER crosses an exchange on either
      // path. Broadcast path (schedule fits a broadcast): hits stream
      // straight out of the corpus scan; license extraction runs inside
      // that scan stage and html is projected away before the union; misses
      // (404s) are recovered by anti-joining scheduled against the corpus
      // KEY columns only (column pruning keeps that scan narrow). Fallback
      // path (schedule too large — the NORMAL case at a 10^10-URL
      // frontier): a schedule-keyed Bloom sidecar, written next to the
      // schedule snapshot (probed through the executor-cached
      // bloom_might_contain, GC'd by expireSnapshots), prefilters the
      // corpus scan to ~schedule-sized candidates; license extraction runs
      // on the candidates pre-exchange, so only narrow metadata shuffles
      // into the hash join. Bloom false positives are dropped by the exact
      // join; false negatives do not exist, so no hit is lost. Round 1
      // shuffled the full corpus, html included.
      // License columns computed WHERE THE HTML LIVES (pre-exchange, before
      // the image join): html stays inside its stage's codegen span and is
      // projected away; everything else passes through.
      def annotateLicenses(df: DataFrame): DataFrame = {
        val keep = df.columns.filterNot(_ == "html").map(col).toSeq
        df.withColumn("__lic", when(col("html").isNotNull,
            GraftFunctions.extractCcLicenses(col("html"))))
          .select(keep ++ GraftFunctions.licenseMetadataColumns(col("__lic")): _*)
      }
      // The fetched image-id set needs licensed's non-null ids; deriving it
      // either materializes the hit rows (persist, then the final join reads
      // the cache) or re-touches the corpus with a NARROW key semi join (the
      // links stage's shape: url/image_id columns only, Bloom-prefiltered).
      // Which is cheaper depends on what the corpus IS:
      //   - PageStore + large schedule (the 10^10 shape): narrow join — the
      //     store read is bucket-PRUNED and column-pruned, ∝ schedule by
      //     construction, while a schedule-sized wide persist per epoch is
      //     storage the frontier doesn't have.
      //   - cached-frame corpus: persist — "re-scan" means re-reading the
      //     whole cached frame (measured +48% on the 16M DISK_ONLY corpus),
      //     and the licensed persist is bounded by the schedule, which in
      //     any frame-cacheable deployment fits the same storage.
      //   - broadcast-small schedule: persist — deriving by re-scan would
      //     build a SECOND large broadcast (measured +50% on the 4M epoch).
      val smallSchedule = schedRows <= broadcastMax
      val narrowIds = !smallSchedule && pageStore.isDefined
      // (licensed rows for the sink, the persisted frame to unpersist, the
      // frame the fetched-image-id derivation reads)
      val (licensed, persistedFrame) = if (smallSchedule) {
        // Broadcast path: ONE corpus scan. Hits stream out of the scan,
        // license-annotated in-scan, and are persisted; the 404 side is
        // derived by anti-joining the schedule against the persisted hit
        // KEYS. Round 5 derived misses by anti-joining against the corpus —
        // a SECOND full-corpus pass (project + url-hash over every page)
        // that the hit cache already answers: hit keys are exactly the
        // scheduled keys present in the corpus, so
        // scheduled ∖ hit-keys ≡ scheduled ∖ corpus-keys (guide §2.4).
        val hit = annotateLicenses(pagesHashed.join(
          broadcast(scheduled),
          col("url_hash") === col("page_hash") &&
            col("canon_url") === col("page_url"), "inner"))
          .withColumn("fetch_status", lit(200))
          .drop("page_url", "page_hash")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val miss = scheduled.join(
          hit.select(col("url_hash").as("__h_hash"), col("canon_url").as("__h_url")),
          col("url_hash") === col("__h_hash") && col("canon_url") === col("__h_url"),
          "left_anti")
          .withColumn("fetch_status", lit(404))
        (hit.unionByName(miss, allowMissingColumns = true), Some(hit))
      } else {
        val joined = scheduled.join(annotateLicenses(bloomPrefiltered(pagesHashed)),
          scheduled("url_hash") === col("page_hash") &&
            scheduled("canon_url") === col("page_url"), "left")
          .withColumn("fetch_status",
            when(col("page_url").isNotNull, 200).otherwise(404))
          .drop("page_url", "page_hash")
        if (narrowIds) (joined, None)
        else {
          val p = joined.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          (p, Some(p))
        }
      }
      try {
        // Decode ∝ FETCHED images, never ∝ the image corpus: an epoch whose
        // schedule touches 0.1% of the store must not decode the other
        // 99.9%. Small epochs broadcast the exact fetched-id set into the
        // images scan (a semi join the corpus streams through); large
        // epochs write an image-id Bloom sidecar (probed in-scan; false
        // positives decode wastefully at ~1% and then vanish in the final
        // left join — the exact check; false negatives do not exist). Blobs
        // are projected away pre-exchange either way.
        // The narrow semi join yields exactly licensed's non-null image
        // ids: hash matches are re-checked on the URL string, and 404 rows
        // carry no image_id.
        // persistedFrame: on the broadcast path this is the hit-only cache
        // (miss rows carry no image_id anyway, so reading hits alone is
        // equivalent and skips the anti-join branch for this derivation)
        val fetchedIds = (
          if (narrowIds) bloomPrefiltered(pagesHashed).join(
            scheduled.select(col("url_hash"), col("canon_url")),
            col("page_hash") === col("url_hash") &&
              col("page_url") === col("canon_url"), "left_semi")
          else persistedFrame.getOrElse(licensed))
          .select(col("image_id"))
          .where(col("image_id").isNotNull).distinct()
        // The sidecar is keyed by the SCHEDULE snapshot id: unique per
        // epoch, so a filter under imgbloom/ is never another epoch's.
        val wantedImages =
          if (smallSchedule) // fetched ids are broadcast-small with the schedule
            images.join(broadcast(fetchedIds), Seq("image_id"), "left_semi")
          else {
            val imgRoot = s"$stateRoot/imgbloom"
            if (!ShardFiles.allPresent(ShardFiles.Bloom, imgRoot, schedSnap))
              SeenSet.buildWriteShards(imgRoot, schedSnap,
                fetchedIds.select(xxhash64(col("image_id")).as("url_hash")),
                math.max(1000L, schedRows / SeenSet.ShardCount))
            images.where(call_function("bloom_might_contain",
              xxhash64(col("image_id")), lit(imgRoot), lit(schedSnap)))
          }
        val imgSeed = substring(col("image_id"), 5, 8).cast("long")
        val chk = GraftFunctions.imageCheck(col("bytes"), imgSeed, col("w"), col("h"))
        val checkedImages = wantedImages
          .select(col("image_id"), col("caption"), col("w"), col("h"),
            col("fmt"), col("phash"), col("bytes"))
          .withColumn("__chk", when(col("bytes").isNotNull, chk))
          .select(col("image_id"), col("caption"), col("w"), col("h"), col("fmt"),
            col("__chk").getField("decoded_w").as("decoded_w"),
            col("__chk").getField("decoded_h").as("decoded_h"),
            when(col("bytes").isNotNull,
              col("__chk").getField("phash") === col("phash")).as("phash_ok"),
            when(col("bytes").isNotNull,
              col("__chk").getField("psnr") >= 40.0).as("pixels_ok"))
        // Epoch metrics ride the commit's ONE write action via observe —
        // finish() previously re-scanned the freshly written snapshot for
        // the same three counts, a full out-table read on the epoch's
        // serial tail (guide §1.5 metrics-on-the-action; the resume path
        // still falls back to the scan).
        val obs = org.apache.spark.sql.Observation()
        // Small-schedule epochs: broadcast the checked-images side (it is
        // bounded by the fetched-image set, itself bounded by the schedule
        // that already fit a broadcast; blobs were projected away by the
        // check) so the wide licensed frame — text and license columns —
        // never crosses an exchange on its way to the sink (guide §2.4/
        // §3.1). Large-schedule epochs keep the unhinted join: AQE picks.
        val checkedSide =
          if (smallSchedule) broadcast(checkedImages) else checkedImages
        val out = licensed.join(checkedSide, Seq("image_id"), "left")
          .withColumn("epoch", lit(epoch))
          .observe(obs, outCounts.head, outCounts.tail: _*)
        outTable.commit(out,
          Map("epoch" -> epoch.toString, "stage" -> "out"),
          partitionBy = Seq("fetch_status"))
        outTable.markStage(epoch, "out")
        val m = obs.get
        Some((m("fetched").asInstanceOf[Long], m("licensed").asInstanceOf[Long],
          m("decode_ok").asInstanceOf[Long]))
      } finally persistedFrame.foreach(_.unpersist(blocking = false))
    }

    // --- stage 3: seen-set update (incremental: delta snapshot + merged
    // Bloom shards; per-epoch cost is O(scheduled), not O(all keys ever)) ----
    def runSeenStage(): Unit =
      if (!seen.table.stageDone(epoch, "seen")) {
        // 0 scheduled rows ⇒ no new keys: the set is unchanged, marker only
        if (!emptySchedule)
          seen.add(scheduled.select(col("url_hash")), Map("epoch" -> epoch.toString))
        seen.table.markStage(epoch, "seen")
      }

    // --- stage 4: next frontier (discovered links + unscheduled backlog) ----
    def runFrontierStage(): Unit = if (!frontier.stageDone(epoch, "frontier")) {
      // empty schedule AND empty frontier ⇒ no links, nothing to shed: a
      // typed empty snapshot, manifest-only (its parent is empty too). A
      // NON-empty frontier with an empty schedule must still run the full
      // stage — its rows are all seen/disallowed and shedding the seen
      // ones is the stage's job.
      if (emptySchedule && frontierRowsExact == 0L && frontier.commitEmpty(
          Map("epoch" -> epoch.toString, "stage" -> "frontier")).isDefined) {
        frontier.markStage(epoch, "frontier")
        return
      }
      // html is not persisted in the output snapshot; re-derive links from
      // the fetch corpus via a semi join on the scheduled set. Past the
      // broadcast threshold the schedule-Bloom prefilter runs in the corpus
      // scan and link extraction happens PRE-exchange, so the semi join
      // moves narrow link arrays of ~schedule-sized candidates instead of
      // every page's html. Below the threshold the plain hash-keyed semi
      // join stands: an explicit broadcast hint was measured SLOWER here
      // (multi-million-row broadcast hash relations cost more than the
      // shuffle they avoid on matched pairs), and the Bloom path's extra
      // jobs only pay for themselves once the corpus exchange is the wall.
      val schedKeys = scheduled.select(col("url_hash"), col("canon_url"))
      val semiCond = col("page_hash") === col("url_hash") &&
        col("page_url") === col("canon_url")
      val links0 =
        if (schedRows <= broadcastMax)
          pagesHashed.join(schedKeys, semiCond, "left_semi")
            .select(explode(GraftFunctions.extractLinks(col("html"))).as("url"))
        else
          bloomPrefiltered(pagesHashed)
            .select(col("page_hash"), col("page_url"),
              GraftFunctions.extractLinks(col("html")).as("__links"))
            .join(schedKeys, semiCond, "left_semi")
            .select(explode(col("__links")).as("url"))
      val links = links0.withColumn("priority", lit(linkPriorityDecay))
        .withColumn("retries", lit(0)) // discovered URLs start a fresh budget
      val backlog0 = frontier.read() // URLs not scheduled this epoch stay queued
      val backlog = // legacy pre-retries frontiers read as retries = 0; a
        // MIXED delta chain (legacy parent dirs + new deltas) reads legacy
        // rows as NULL, which must also mean 0 — an unguarded null would
        // null max(retries) and silently drop the URL at the budget filter
        if (backlog0.columns.contains("retries"))
          backlog0.withColumn("retries", coalesce(col("retries"), lit(0)))
        else backlog0.withColumn("retries", lit(0))
      // The frontier SHEDS: (a) everything scheduled this epoch, (b) links to
      // already-crawled pages — without this the table grows monotonically
      // with every URL ever crawled (round-1 scale bug: compounding commit
      // I/O + seen-probe work forever). Plan shape: ONE shuffle of the
      // merged rows on url_hash (groupBy), which the two anti-joins then
      // reuse (left side already hash-partitioned on the join key); the
      // scheduled set and the Bloom-filtered "maybe seen" survivors are the
      // only other shuffle inputs, both epoch-sized. Keys are the same
      // 64-bit canonical-url hashes the seen set stores, so shedding is
      // membership-consistent with scheduling.
      val merged = backlog.select(col("url"), col("priority"), col("retries"))
        .unionByName(links)
        .withColumn("url_hash", GraftFunctions.urlHash64(col("url")))
        .groupBy(col("url_hash"))
        .agg(max(col("priority")).as("priority"), min(col("url")).as("url"),
          max(col("retries")).as("retries"))
      val unscheduled = merged.join(
        scheduled.select(col("url_hash")), Seq("url_hash"), "left_anti")
      val next = seen.filterUnseen(unscheduled)
        .select(col("url"), col("priority"), col("retries"))
      frontier.commit(next, Map("epoch" -> epoch.toString, "stage" -> "frontier"))
      frontier.markStage(epoch, "frontier")
    }

    // Stages 2-4 depend only on the committed schedule + static corpus
    // tables: run them as CONCURRENT Spark jobs, so epoch wall clock is
    // schedule + max(2,3,4) instead of the sum, and one stage's tasks fill
    // cores another leaves idle. Resume markers stay per-stage. The STATE
    // stages (seen, frontier, robots) are awaited here — epoch N+1 needs
    // them — while the out SINK stage is handed back as a future.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec = CrawlEpoch.stageEc
    val outF = Future(timed("out")(runOutStage()))
    // Robots marker-only shortcut guard: frontierRowsExact reads the
    // CURRENT frontier snapshot — after a crash between the frontier-stage
    // commit and the robots marker, resume sees the POST-epoch frontier,
    // and if that one is empty the shortcut would silently skip the
    // epoch's robots verdict delta (ADVICE r5). The shortcut is only
    // justified when the observed frontier is still this epoch's INPUT,
    // i.e. the frontier stage has not yet committed for this epoch.
    val robotsEmptyOk = frontierRowsExact == 0L &&
      !frontier.stageDone(epoch, "frontier")
    Await.result(Future.sequence(Seq(
      Future(timed("seen")(runSeenStage())),
      Future(timed("frontier")(runFrontierStage())),
      Future(timed("robots")(runRobotsStage(robotsEmptyOk))))),
      Duration.Inf)

    RunningEpoch(
      epoch = epoch,
      scheduled = schedRows,
      newFrontier = frontier.snapshotForLineage("epoch", epoch.toString)
        .flatMap(frontier.rowCount).getOrElse(0L),
      outDone = outF,
      outTable = outTable)
  }

  /** Expire old crawl-STATE snapshots (storage maintenance between epochs):
    * frontier, schedule, seen set (+ tombstones) and robots cache keep only
    * the newest `keepLast` generations — without this, per-epoch full
    * commits (the frontier rewrites itself every epoch by design: shedding
    * IS the feature) accumulate O(epochs × table size) on disk forever at a
    * 10^10-URL frontier. The OUT table is never expired: its snapshots are
    * the crawl's output, one per epoch. Keep `keepLast >= 2` if you want
    * one epoch of rollback headroom. Safe under pipelining as long as it
    * runs between [[finish]] and the next [[start]] (expiry and commits
    * serialize on the same per-root locks, but expiring a schedule the
    * in-flight out stage still reads would race the data files). */
  def expireState(stateRoot: String, spark: SparkSession, keepLast: Int): Int = {
    val seen = new SeenSet(s"$stateRoot/seen", spark)
    val schedT = new SnapshotTable(s"$stateRoot/scheduled", spark)
    val n = frontierTable(stateRoot, spark).expireSnapshots(keepLast) +
      schedT.expireSnapshots(keepLast) +
      seen.expire(keepLast) +
      new SnapshotTable(s"$stateRoot/robots", spark).expireSnapshots(keepLast)
    // GC image-id Bloom sidecars (written by the out stage, keyed by the
    // schedule snapshot id) whose schedule snapshot was just expired
    val imgSnap = java.nio.file.Paths.get(s"$stateRoot/imgbloom", "snapshots")
    if (java.nio.file.Files.exists(imgSnap)) {
      val stream = java.nio.file.Files.list(imgSnap)
      val stale =
        try stream.iterator().asScala.toSeq finally stream.close()
      stale.filter(p => ShardFiles.snapshotOf(p.getFileName.toString)
        .exists(id => schedT.manifest(id).isEmpty))
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    n
  }

  /** Re-queue an epoch's FAILED fetches for retry (the reference retries
    * transient HTTP failures up to 100 times, `retry_warc.py:54-57`; at
    * 10^10-URL scale transient failures are the norm, and without this a
    * URL that 404'd once is lost forever): failed URLs still inside their
    * per-URL retry budget have their keys RETRACTED from the seen set
    * ([[SeenSet.retract]] — exact tombstones + cuckoo sidecar, cleared
    * automatically when the retry epoch re-adds them) and are appended to
    * the frontier as a delta with `retries` incremented, so the next
    * epoch's schedule sees them again. A URL whose `retries` has reached
    * `retryBudget` is PERMANENTLY dropped — it stays in the seen set and is
    * never rescheduled — matching the reference's 100-attempt cap; the drop
    * count is recorded as `requeue_dropped` in the committed delta's
    * lineage (durable in the manifest, next to the rows it explains).
    * IDEMPOTENT per epoch (a stage marker makes a replay a 0-row no-op).
    * Returns the number of URLs re-queued. */
  def requeueFailures(
      stateRoot: String,
      spark: SparkSession,
      epoch: Long,
      retryStatuses: Seq[Int] = Seq(404),
      retryPriority: Double = 1.0,
      retryBudget: Int = 100): Long = {
    val outTable = new SnapshotTable(s"$stateRoot/out", spark)
    val frontier = frontierTable(stateRoot, spark)
    val seen = new SeenSet(s"$stateRoot/seen", spark)
    if (frontier.stageDone(epoch, "requeue")) return 0L
    val snap = outTable.snapshotForLineage("epoch", epoch.toString)
      .getOrElse(sys.error(s"no out snapshot for epoch $epoch under $stateRoot"))
    val outSnap = outTable.readAt(snap)
    val prior = // legacy out snapshots (pre-retries schedules) count as 0;
      // coalesce also covers null retries from mixed-schema delta chains —
      // a null here would fail BOTH the < budget filter (not retried) and
      // the >= budget drop counter (not counted): silent URL loss
      if (outSnap.columns.contains("retries"))
        coalesce(col("retries"), lit(0)) else lit(0)
    // Persist the failed set: it feeds the drop/keep accounting, the seen
    // retraction AND the frontier delta — unpersisted, each action would
    // re-scan and re-distinct the epoch's out snapshot, and at 10^10-URL
    // scale transient failures are the norm, not the exception.
    val failed = outSnap
      .filter(col("fetch_status").isin(retryStatuses: _*))
      .select(col("canon_url").as("url"), col("url_hash"),
        prior.as("retries")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dropped = failed.filter(col("retries") >= retryBudget).count()
      val within = failed.filter(col("retries") < retryBudget)
      seen.retract(within.select(col("url_hash")),
        Map("epoch" -> epoch.toString, "stage" -> "requeue"))
      // the drop count rides the delta's LINEAGE so it is durably recorded
      // in the manifest, queryable next to the rows it explains
      val fid = frontier.commitDelta(
        within.select(col("url"), lit(retryPriority).as("priority"),
          (col("retries") + 1).as("retries")),
        Map("epoch" -> epoch.toString, "stage" -> "requeue",
          "requeue_dropped" -> dropped.toString))
      frontier.markStage(epoch, "requeue")
      frontier.deltaRows(fid).getOrElse(0L)
    } finally failed.unpersist(blocking = false)
  }

  /** Await the epoch's sink stage and assemble its metrics. The out-table
    * breakdown is ONE aggregate job over the epoch's own snapshot (located
    * by lineage — pipelined later epochs may have committed after it). */
  def finish(r: RunningEpoch): EpochMetrics = {
    // metrics were observed on the commit's own write action; the scan
    // below only runs when this epoch RESUMED over an already-committed out
    // stage (no fresh action to observe)
    val observed =
      scala.concurrent.Await.result(r.outDone, scala.concurrent.duration.Duration.Inf)
    val outStats = if (observed.isDefined) None else
      r.outTable.snapshotForLineage("epoch", r.epoch.toString)
      .map(id => r.outTable.readAt(id).agg(outCounts.head, outCounts.tail: _*).collect()(0))
    // last epoch out: restore the broadcast-timeout default we raised in
    // start() — unless someone set their own value over ours in between
    raiseLock.synchronized {
      activeEpochs -= 1
      if (activeEpochs == 0 && raisedOn.isDefined) {
        val s = raisedOn.get
        if (s.conf.get("spark.sql.broadcastTimeout", "3600") == "3600")
          s.conf.unset("spark.sql.broadcastTimeout")
        raisedOn = None
      }
    }
    EpochMetrics(
      epoch = r.epoch,
      scheduled = r.scheduled,
      fetched = observed.map(_._1).orElse(outStats.map(_.getLong(0))).getOrElse(0L),
      licensed = observed.map(_._2).orElse(outStats.map(_.getLong(1))).getOrElse(0L),
      decodeOk = observed.map(_._3).orElse(outStats.map(_.getLong(2))).getOrElse(0L),
      newFrontier = r.newFrontier)
  }
}
