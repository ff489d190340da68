package perfbench

import graft.crawl.{CrawlEpoch, PageStore}
import graft.functions.GraftFunctions
import graft.gen.SyntheticCorpus
import graft.table.SnapshotTable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Metric names. The end-to-end ones are reported with tracing off, the
  * per-layer ones by the traced run; `BENCHMARK.json` lists the same. */
object Metrics {
  val Stages = Seq("schedule", "out", "seen", "frontier", "robots")
  val Concurrent = Seq("out", "seen", "frontier", "robots")
  val Tables = Seq("frontier", "scheduled", "seen", "out", "robots", "imgbloom")
  val Kernels = Seq("extract_cc_licenses", "image_check", "canonicalize_url", "url_hash64",
    "bloom_might_contain", "minhash_sig")
  val Drops = Seq("url_filter", "cc_gate", "license_filter", "language_filter")

  val perLayer: Seq[String] =
    (for (s <- Stages; f <- "wall_s" +: GroupListener.Fields) yield s"crawl.$s.$f") ++
      Seq("crawl.unattributed_s", "crawl.requeue_s", "crawl.expire_s", "crawl.pagestore_write_s",
        "crawl.fetch_404", "crawl.requeued", "crawl.retry_dropped",
        "frontier.rows", "seen.keys", "seen.fp_rate", "seen.fpp_design") ++
      Tables.map(t => s"table.$t.mb") ++
      Seq("table.snapshots", "table.expired", "table.bytes_per_url") ++
      Kernels.map(k => s"kernel.$k.rows_per_s") ++
      Workloads.C5.map(q => s"query.${q}_s") ++ Seq("query.total_s", "query.p75_s") ++
      Drops.map(d => s"pipeline.drop.$d") ++ Seq("ops.minhash_bucket_cap") ++
      Seq("jvm.gc_s", "host.steal_ticks", "spark.jobs", "spark.tasks", "trace.overhead")
}

object Workloads {
  import Main.median

  /** epoch_full inputs: Bench's sf0.1 (400k pages, 40k images, 800k seeds,
    * 50k/host), so that seed 0 reproduces the golden counts. At 4 cores one
    * run takes minutes, not seconds: epoch_full runs by name only, and
    * BENCHMARK.json keeps the two workloads whose runs fit the benchmark's
    * time budget and together cover every layer (see README.md). */
  final case class Full(pages: Long = 400000, images: Long = 40000, seeds: Long = 800000,
      budget: Int = 50000)

  /** crawl_drain inputs: a PageStore-laid corpus, a tenth of the seeds dead,
    * and a per-host budget far under the hot hosts' share of the frontier. */
  final case class Drain(pages: Long = 12000, images: Long = 1200, seeds: Long = 12000,
      budget: Int = 40, deadShare: Double = 0.10, buckets: Int = 8, epochs: Int = 2,
      retryBudget: Int = 1, keepLast: Int = 2)

  /** The C5 queries the workload times: read-only analytics over parquet that
    * touch no crawl state (the C5 annotate pipeline, license filter, minhash
    * dedup, ANN, relational). The rest of the 45 are left out because a warm
    * run of each needs a cold one first, and 45 cold runs take a minute at 4
    * cores, more than the benchmark's time budget leaves a run. */
  val C5: Seq[String] = Seq(
    "q_c5_pipeline", "q_license_filter_agg", "q_dedup_minhash", "q_ann_topk", "q1_agg")

  /** The ops one timed window ran, the wall-clock interval of each, and
    * the health of the ops alone. */
  final case class Win[A](health: Window.Health, ops: Seq[A], spans: Seq[(Long, Long)])

  /** Runs `prep` then `op` until `c.o.seconds` have passed, and at least
    * once. Only `op` is measured: untimed preparation (a fresh state root,
    * an untimed first epoch) counts in neither its health nor its spans. */
  private def timedWindow[P, A](c: Ctx)(prep: => P)(op: P => A): Win[A] = {
    val ops = mutable.ArrayBuffer[A]()
    val health = mutable.ArrayBuffer[Window.Health]()
    val spans = mutable.ArrayBuffer[(Long, Long)]()
    val t = System.nanoTime()
    while (ops.isEmpty || (System.nanoTime() - t) / 1e9 < c.o.seconds) {
      val p = prep
      val from = System.currentTimeMillis()
      val (a, h) = Window.measure(c.o.cores)(op(p))
      spans += ((from, System.currentTimeMillis()))
      ops += a
      health += h
    }
    Win(Window.Health.sum(health.toSeq), ops.toSeq, spans.toSeq)
  }

  private def healthInfo(h: Window.Health) = mutable.LinkedHashMap(
    "wall_s" -> h.wallS, "gc_s" -> h.gcS, "steal_ticks" -> h.steal, "window_ok" -> h.ok)

  /** The workload's timed window. The traced run runs it three times,
    * untraced, traced, untraced, and returns the traced one: the listener is
    * registered only around it, and `trace.overhead` is its median op wall
    * over that of the untraced repeats, - 1. The repeats bracket the traced
    * window, so the JVM still warming up biases the overhead neither way. */
  private def measured[A](c: Ctx, wall: A => Double)(window: => Win[A]): Win[A] =
    if (!c.o.trace) {
      val w = window
      c.info("window") = healthInfo(w.health)
      w
    } else {
      val before = window
      c.traceOn()
      val traced = window
      c.traceOff()
      val after = window
      val t = median(traced.ops.map(wall))
      val u = median((before.ops ++ after.ops).map(wall))
      c.layer("trace.overhead") = t / u - 1
      println(f"[ledger] trace.overhead ${t / u - 1}%.3f (median op wall traced $t%.3f s, " +
        f"untraced before and after $u%.3f s)")
      c.info("window") = healthInfo(traced.health)
      c.info("windows_untraced") = Seq(healthInfo(before.health), healthInfo(after.health))
      c.layer("jvm.gc_s") = traced.health.gcS
      c.layer("host.steal_ticks") = traced.health.steal.toDouble
      c.listener.foreach { l =>
        val js = traced.spans.flatMap { case (from, to) => l.jobsIn(from, to) }.distinctBy(_.id)
        c.layer("spark.jobs") = js.size.toDouble
        c.layer("spark.tasks") = js.map(_.tasks).sum.toDouble
      }
      traced
    }

  /** Per-epoch stage ledger from the listener: a stage's wall is the span of
    * its job group's jobs inside the epoch's `run` call, and what the stage
    * walls leave of the epoch wall is `unattributed` (driver-side planning
    * and manifest I/O). Prints one line per epoch and sums into the layer
    * metrics. */
  private def crawlLedger(c: Ctx, epochs: Seq[(Long, Span)]): Seq[mutable.LinkedHashMap[String, Any]] =
    c.listener.toSeq.flatMap { l =>
      epochs.zipWithIndex.map { case ((epoch, span), i) =>
        val jobs = l.jobsIn(span.startMs, span.endMs)
        val walls = Metrics.Stages.map { st =>
          val js = jobs.filter(_.group == s"e$epoch-$st")
          val wall = if (js.isEmpty) 0.0 else (js.map(_.endMs).max - js.map(_.startMs).min) / 1e3
          c.layer(s"crawl.$st.wall_s") += wall
          GroupListener.Fields.zipWithIndex.foreach { case (f, k) =>
            c.layer(s"crawl.$st.$f") += js.map(_.m(k)).sum
          }
          st -> wall
        }.toMap
        val concurrent = Metrics.Concurrent.map(walls).max
        val unattributed = span.wallS - walls("schedule") - concurrent
        c.layer("crawl.unattributed_s") += unattributed
        println(f"[ledger] op ${i + 1} epoch $epoch: wall ${span.wallS}%.3f s = schedule " +
          f"${walls("schedule")}%.3f + max(${Metrics.Concurrent.map(s => f"$s ${walls(s)}%.3f").mkString(", ")}) " +
          f"$concurrent%.3f + unattributed $unattributed%.3f")
        mutable.LinkedHashMap[String, Any]("op" -> (i + 1), "epoch" -> epoch, "wall_s" -> span.wallS) ++
          walls.map { case (k, v) => s"${k}_s" -> v } ++
          Seq("unattributed_s" -> unattributed)
      }
    }

  /** Times `expr` as a narrow projection plus aggregate over `input` (warm,
    * median of three), the method of `graft.MicroBench`. */
  private def kernel(c: Ctx, name: String, input: DataFrame, expr: Column): Unit = {
    val q = input.select(expr.as("k")).agg(count(lit(1)), max(xxhash64(col("k"))))
    c.call(s"kernel-$name")(q.collect())
    val runs = (1 to 3).map(_ => c.call(s"kernel-$name")(q.collect()))
    c.layer(s"kernel.$name.rows_per_s") = runs.head._1(0).getLong(0) / median(runs.map(_._2.wallS))
  }

  /** Seen-set, frontier and table state of a crawl root, read from its
    * manifests and files; the seen-set Bloom probe is timed on keys never
    * seen, and its admitted share is the realized false-positive rate. */
  private def stateLayers(c: Ctx, root: String, scheduled: Long, expired: Long): Unit = {
    val seenRoot = s"$root/seen"
    def rowCount(t: String) =
      Checks.manifest(c.spark, t).map(_.get("row_count").asDouble).getOrElse(0.0)
    c.layer("frontier.rows") = rowCount(s"$root/frontier")
    c.layer("seen.keys") = rowCount(seenRoot)
    val meta = Paths.get(seenRoot, "snapshots", "bloom-meta.json")
    if (Files.exists(meta)) {
      val m = Main.mapper.readTree(meta.toFile)
      if (m.has("fpp")) c.layer("seen.fpp_design") = m.get("fpp").asDouble
    }
    new SnapshotTable(seenRoot, c.spark).currentSnapshotId
      .filter(id => Files.exists(Paths.get(seenRoot, "snapshots", s"bloom-v$id-s0.bin")))
      .foreach { id =>
        val keys = Inputs.neverSeenKeys(c.spark, 200000).persist()
        keys.count()
        val probe = call_function("bloom_might_contain", col("url_hash"), lit(seenRoot), lit(id))
        kernel(c, "bloom_might_contain", keys, probe)
        c.layer("seen.fp_rate") = keys.where(probe).count() / 200000.0
        keys.unpersist()
      }
    Metrics.Tables.foreach(t =>
      c.layer(s"table.$t.mb") = Checks.bytesUnder(Paths.get(root, t)) / 1e6)
    c.layer("table.snapshots") = Checks.manifestsUnder(Paths.get(root)).toDouble
    c.layer("table.expired") = expired.toDouble
    c.layer("table.bytes_per_url") = Checks.bytesUnder(Paths.get(root)).toDouble / scheduled
  }

  /** The out stage's kernels, over a persisted corpus and image table. */
  private def outKernels(c: Ctx, pages: DataFrame, images: DataFrame): Unit = {
    kernel(c, "extract_cc_licenses", pages, GraftFunctions.extractCcLicenses(col("html")))
    kernel(c, "image_check", images, GraftFunctions.imageCheck(col("bytes"),
      substring(col("image_id"), 5, 8).cast("long"), col("w"), col("h")))
  }

  private def urlKernels(c: Ctx, seeds: DataFrame): Unit = {
    val urls = seeds.select(col("url")).persist()
    urls.count()
    kernel(c, "canonicalize_url", urls, GraftFunctions.canonicalizeUrl(col("url")))
    kernel(c, "url_hash64", urls, GraftFunctions.urlHash64(col("url")))
    urls.unpersist()
  }

  // --- epoch_full ------------------------------------------------------------

  def epochFull(c: Ctx): Unit = {
    val spark = c.spark
    val size = Full()
    val ((pages, images), _) = c.call("inputs") {
      val p = SyntheticCorpus.pages(spark, size.pages).persist(StorageLevel.MEMORY_AND_DISK)
      val i = SyntheticCorpus.images(spark, size.images).persist(StorageLevel.MEMORY_AND_DISK)
      p.count(); i.count()
      (p, i)
    }
    val robots = SyntheticCorpus.robots(spark)
    val seeds = Inputs.seedList(spark, size.seeds, size.pages, c.o.seed, 0.0)
    c.info("inputs") = mutable.LinkedHashMap("pages" -> size.pages,
      "images" -> size.images, "seeds" -> size.seeds, "budget_per_host" -> size.budget,
      "dead_share" -> 0.0, "hosts" -> Inputs.Hosts, "corpus" -> "cached DataFrames")
    // one small epoch over the same corpus frames compiles the epoch's plans
    val w = c.freshDir("warmup")
    c.call("warmup") {
      CrawlEpoch.seed(w, spark, Inputs.seedList(spark, 4000, size.pages, c.o.seed, 0.0))
      CrawlEpoch.run(w, spark, pages, images, Some(robots), size.budget, 1)
    }
    c.wipe(w)
    c.setupDone()

    val all = mutable.ArrayBuffer[CrawlEpoch.EpochMetrics]()
    var last: Option[String] = None
    def freshRoot(): String = {
      last.foreach(c.wipe)
      val root = c.freshDir("epoch")
      last = Some(root)
      c.call("seed")(CrawlEpoch.seed(root, spark, seeds))
      root
    }
    def epochOnce(root: String): (CrawlEpoch.EpochMetrics, Span) = {
      c.attempted += 1
      val r = c.call("run")(CrawlEpoch.run(root, spark, pages, images, Some(robots),
        size.budget, 1))
      all += r._1
      r
    }
    val timed = measured[(CrawlEpoch.EpochMetrics, Span)](c, _._2.wallS) {
      timedWindow(c)(freshRoot())(epochOnce)
    }.ops
    val walls = timed.map(_._2.wallS)
    val m = timed.head._1
    c.e2e("items_per_s") = m.scheduled / median(walls)
    c.e2e("op_p50_s") = median(walls)
    c.info("counts") = mutable.LinkedHashMap("scheduled" -> m.scheduled, "fetched" -> m.fetched,
      "licensed" -> m.licensed, "decode_ok" -> m.decodeOk, "new_frontier" -> m.newFrontier,
      "epochs" -> timed.size, "epoch_walls_s" -> walls)
    if (c.o.trace) c.info("ledger") = crawlLedger(c, timed.map(t => (1L, t._2)))

    c.check("epochs_identical", all.forall(_ == m),
      s"${all.distinct.size} distinct outcomes of ${all.size} identical epochs")
    val root = last.get
    val (inv, n404) = Checks.crawlInvariants(spark, root,
      Seq(Checks.Epoch(1, m.scheduled, m.fetched)), size.budget, retryBudget = 0)
    inv.foreach { case (n, ok, d) => c.check(n, ok, d) }
    if (c.o.seed == 0) {
      val got = (m.scheduled, m.licensed, m.decodeOk, m.newFrontier)
      c.check("golden_counts", got == Checks.Golden,
        s"(scheduled, licensed, decode_ok, new_frontier) = $got, golden ${Checks.Golden}")
    }
    if (c.o.trace) {
      c.layer("crawl.fetch_404") = n404.toDouble
      stateLayers(c, root, m.scheduled, 0L)
      outKernels(c, pages, images)
      urlKernels(c, seeds)
    }
  }

  // --- crawl_drain -----------------------------------------------------------

  def crawlDrain(c: Ctx): Unit = {
    val spark = c.spark
    val d = Drain()
    val pages = SyntheticCorpus.pages(spark, d.pages)
    val store = c.freshDir("pagestore")
    val (_, storeSpan) = c.call("pagestore_write")(PageStore.write(pages, store, d.buckets))
    val (images, _) = c.call("inputs") {
      val i = SyntheticCorpus.images(spark, d.images).persist(StorageLevel.MEMORY_AND_DISK)
      i.count(); i
    }
    val robots = SyntheticCorpus.robots(spark)
    val seeds = Inputs.seedList(spark, d.seeds, d.pages, c.o.seed, d.deadShare)
    c.info("inputs") = mutable.LinkedHashMap("pages" -> d.pages, "images" -> d.images,
      "seeds" -> d.seeds, "budget_per_host" -> d.budget, "dead_share" -> d.deadShare,
      "hosts" -> Inputs.Hosts, "corpus" -> s"PageStore, ${d.buckets} buckets",
      "epochs_per_round" -> d.epochs, "retry_budget" -> d.retryBudget,
      "expire_keep_last" -> d.keepLast)

    final case class Step(m: CrawlEpoch.EpochMetrics, run: Span, requeued: Long, dropped: Long,
        requeue: Span, expired: Int, expire: Span)
    final case class Round(first: Step, timed: Seq[Step]) {
      def all: Seq[Step] = first +: timed
      def outcome: Seq[(CrawlEpoch.EpochMetrics, Long, Long)] =
        all.map(s => (s.m, s.requeued, s.dropped))
    }

    /** One CrawlMain step on `root`: run → requeueFailures → expireState. */
    def step(root: String, e: Int): Step = {
      val (m, rs) = c.call("run")(CrawlEpoch.run(root, spark, pages, images, Some(robots),
        d.budget, e, pageStore = Some(store)))
      val (rq, qs) = c.call("requeue")(
        CrawlEpoch.requeueFailures(root, spark, e, retryBudget = d.retryBudget))
      val dropped = Checks.manifest(spark, s"$root/frontier")
        .flatMap(m => Option(m.get("lineage"))).flatMap(l => Option(l.get("requeue_dropped")))
        .map(_.asLong).getOrElse(0L)
      val (ex, xs) = c.call("expire")(CrawlEpoch.expireState(root, spark, d.keepLast))
      c.attempted += 3
      Step(m, rs, rq, dropped, qs, ex, xs)
    }

    // A round drains one fresh state root for `epochs` steps. Its first step
    // is untimed: in the first round it is the warm-up (it compiles the
    // epoch's plans); later steps add a non-empty seen set, tombstones,
    // retries and expiry, and are timed.
    val rounds = mutable.ArrayBuffer[Round]()
    var last: Option[String] = None
    def firstStep(): Step = {
      last.foreach(c.wipe)
      val root = c.freshDir("drain")
      last = Some(root)
      c.call("seed")(CrawlEpoch.seed(root, spark, seeds))
      step(root, 1)
    }
    var pending: Option[Step] = Some(c.call("warmup")(firstStep())._1)
    c.setupDone()

    def untimedStep(): Step = {
      val first = pending.getOrElse(firstStep())
      pending = None
      first
    }
    def roundOnce(first: Step): Round = {
      val r = Round(first, (2 to d.epochs).map(step(last.get, _)))
      rounds += r
      r
    }
    def wall(s: Step) = s.run.wallS + s.requeue.wallS + s.expire.wallS
    val timed = measured[Round](c, _.timed.map(wall).sum) {
      timedWindow(c)(untimedStep())(roundOnce)
    }.ops
    val steps = timed.flatMap(_.timed)
    val opWalls = steps.map(_.run.wallS)
    c.e2e("op_p50_s") = median(opWalls)
    c.e2e("items_per_s") = median(timed.map(r => r.timed.map(_.m.scheduled).sum / r.timed.map(wall).sum))
    c.info("counts") = mutable.LinkedHashMap(
      "per_epoch" -> timed.head.all.map(s => mutable.LinkedHashMap(
        "epoch" -> s.m.epoch, "scheduled" -> s.m.scheduled, "fetched" -> s.m.fetched,
        "licensed" -> s.m.licensed, "decode_ok" -> s.m.decodeOk, "new_frontier" -> s.m.newFrontier,
        "requeued" -> s.requeued, "retry_dropped" -> s.dropped, "expired" -> s.expired)),
      "rounds" -> timed.size, "epoch_walls_s" -> opWalls)

    if (c.o.trace) {
      c.info("ledger") = crawlLedger(c, steps.map(s => (s.m.epoch, s.run)))
      c.layer("crawl.requeue_s") = steps.map(_.requeue.wallS).sum
      c.layer("crawl.expire_s") = steps.map(_.expire.wallS).sum
      c.layer("crawl.pagestore_write_s") = storeSpan.wallS
      c.layer("crawl.fetch_404") = steps.map(s => s.m.scheduled - s.m.fetched).sum.toDouble
      c.layer("crawl.requeued") = steps.map(_.requeued).sum.toDouble
      c.layer("crawl.retry_dropped") = steps.map(_.dropped).sum.toDouble
    }

    val outcomes = rounds.map(_.outcome).distinct
    c.check("rounds_identical", outcomes.size == 1, s"${outcomes.size} distinct outcomes")
    val root = last.get
    val lastRound = rounds.last.all
    val (inv, _) = Checks.crawlInvariants(spark, root,
      lastRound.map(s => Checks.Epoch(s.m.epoch, s.m.scheduled, s.m.fetched)), d.budget, d.retryBudget)
    inv.foreach { case (n, ok, dd) => c.check(n, ok, dd) }
    c.check("dead_seeds_404", lastRound.exists(s => s.m.scheduled > s.m.fetched),
      "dead seed URLs must produce 404s")
    // epoch 2 retries epoch 1's 404s; the dead ones fail again and must be
    // dropped at the retry budget, not requeued
    c.check("retry_budget_drops", lastRound.last.dropped > 0,
      s"epoch ${lastRound.last.m.epoch} requeue dropped ${lastRound.last.dropped} URLs at retry budget ${d.retryBudget}")
    if (c.o.trace) {
      stateLayers(c, root, lastRound.map(_.m.scheduled).sum, lastRound.map(_.expired.toLong).sum)
      val corpus = pages.persist()
      corpus.count()
      outKernels(c, corpus, images)
      corpus.unpersist()
      urlKernels(c, seeds)
    }
  }

  // --- c5_queries ------------------------------------------------------------

  def c5Queries(c: Ctx): Unit = {
    val spark = c.spark
    val dir = c.o.data
    val pins = Checks.readPins(Paths.get(c.o.data, "pins.tsv"))
    c.info("inputs") = mutable.LinkedHashMap("tables" -> dir, "queries" -> C5)
    val fns = graft.SparkEntry.queries
    val mismatches = mutable.LinkedHashMap[String, String]()
    val seen = mutable.LinkedHashMap[String, (Long, Long)]()

    /** One query: plan, run to completion (collect), and compare with its pin. */
    def runQuery(q: String): (DataFrame, Span) = {
      c.attempted += 1
      val ((df, rows), s) = c.call(s"query-$q") {
        val df = fns(q)(spark, dir)
        (df, df.collect())
      }
      val got = (rows.length.toLong, Checks.contentHash(df, rows))
      seen(q) = got
      if (!pins.get(q).contains(got))
        mismatches(q) = s"(rows, hash) = $got, pinned ${pins.get(q)}"
      (df, s)
    }

    // each query once, untimed: compiles its plans
    val observed = C5.map(q => q -> runQuery(q)._1).toMap
    c.setupDone()

    /** One pass over the queries: their walls. */
    def pass(): Map[String, Double] = C5.map(q => q -> runQuery(q)._2.wallS).toMap
    val passes = measured[Map[String, Double]](c, _.values.sum)(timedWindow(c)(())(_ => pass())).ops
    val med = C5.map(q => q -> median(passes.map(_(q)))).toMap
    val total = med.values.sum
    c.e2e("items_per_s") = C5.size / total
    // the op is a pass over the set: the median of five different queries
    // would jump between queries (its spread across runs was 0.21)
    c.e2e("op_p50_s") = median(passes.map(_.values.sum))
    c.info("counts") = mutable.LinkedHashMap("passes" -> passes.size,
      "rows_hash" -> seen.map { case (q, (n, h)) => q -> Seq(n, h) })

    if (c.o.trace) {
      C5.foreach(q => c.layer(s"query.${q}_s") = med(q))
      c.layer("query.total_s") = total
      c.layer("query.p75_s") = Main.quantile(med.values.toSeq, 0.75)
      // a filter stage the query's plan does not contain (no banned
      // domains: no url_filter) observes nothing and counts 0 drops
      def observedSum(q: String, name: String): Double =
        observed(q).queryExecution.observedMetrics.get(name)
          .map(r => r.toSeq.map { case n: Number => n.doubleValue; case _ => 0.0 }.sum)
          .getOrElse(0.0)
      c.info("observed_metrics") = Seq("q_c5_pipeline", "q_dedup_minhash")
        .map(q => q -> observed(q).queryExecution.observedMetrics.keys.toSeq.sorted).toMap
      Metrics.Drops.foreach(d => c.layer(s"pipeline.drop.$d") = observedSum("q_c5_pipeline", d))
      c.layer("ops.minhash_bucket_cap") = observedSum("q_dedup_minhash", "minhash_bucket_cap")
      val docs = spark.read.parquet(s"$dir/documents.parquet").select(col("text")).persist()
      docs.count()
      kernel(c, "minhash_sig", docs, GraftFunctions.minhashSig(col("text")))
      docs.unpersist()
    }
    C5.foreach(q => c.check(s"pinned_$q", !mismatches.contains(q),
      mismatches.getOrElse(q, s"every run matches (rows, hash) = ${seen(q)}")))
  }
}
