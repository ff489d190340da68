package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface.
  *
  * The reference has no streaming operators (SURVEY §1.4) — its incremental
  * behavior is resumable batch. The engine therefore treats batch epochs as
  * primary, but exposes the two streaming shapes a continuous crawl needs:
  *
  *  1. an incremental frontier: `readStream` over the frontier snapshot
  *     directory, per-host politeness enforced ACROSS micro-batches with
  *     `flatMapGroupsWithState` (the stateful analog of the epoch window),
  *  2. watermarked event-time aggregation over the crawl metrics stream.
  */
object StreamingOps {

  final case class FrontierRow(url: String, host: String, priority: Double)
  final case class HostBudgetState(emitted: Long)
  final case class ScheduledRow(url: String, host: String, priority: Double, hostSlot: Long)

  /** Per-host lifetime cap enforced statefully across micro-batches: each
    * host emits at most `budgetPerHost` rows over the stream's lifetime,
    * highest priority first within each batch (deterministic tiebreak on
    * url). State is just one counter per host — O(hosts) not O(urls) — and
    * per-batch memory is a BOUNDED heap of the remaining budget, not the
    * host's whole group: a hot host with 10^8 frontier rows in one
    * micro-batch costs O(budget) memory, never O(group). */
  def politenessStream(frontier: Dataset[FrontierRow], budgetPerHost: Long): Dataset[ScheduledRow] = {
    import frontier.sparkSession.implicits._
    budgeted(frontier, budgetPerHost)(_.host, byUrlRank) { (host, r, slot) =>
      ScheduledRow(r.url, host, r.priority, slot)
    }
  }

  /** The scheduler's rank over frontier rows: smaller = better (priority
    * desc, url asc). */
  private val byUrlRank = Ordering.by[FrontierRow, (Double, String)](r => (-r.priority, r.url))

  /** Per-group lifetime budget: across the stream's whole lifetime each
    * group emits at most `budget` rows, best `rank` first within a batch,
    * numbered 1, 2, … per group (`emit(group, row, slot)`). State is one
    * counter per group; per-batch memory is a bounded heap of the remaining
    * budget, never the group. */
  private def budgeted[R, K: Encoder, O: Encoder](rows: Dataset[R], budget: Long)(
      groupOf: R => K, rank: Ordering[R])(emit: (K, R, Long) => O): Dataset[O] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(groupOf)
      .flatMapGroupsWithState[HostBudgetState, O](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (group, batch, state: GroupState[HostBudgetState]) =>
          val emitted = state.getOption.map(_.emitted).getOrElse(0L)
          // clamp BEFORE narrowing: budget = Long.MaxValue ("unlimited")
          // would wrap negative in toInt and silently emit zero rows for
          // every group (ADVICE r5)
          val take = math.min(Int.MaxValue.toLong, math.max(0L, budget - emitted)).toInt
          // the max-heap root is the worst kept row — the eviction victim
          val heap = new scala.collection.mutable.PriorityQueue[R]()(rank)
          batch.foreach { r =>
            if (take > 0) {
              if (heap.size < take) heap.enqueue(r)
              else if (rank.lt(r, heap.head)) { heap.dequeue(); heap.enqueue(r) }
            }
          }
          val kept: Seq[R] = heap.dequeueAll
          val chosen = kept.reverse // best-first emission order
            .zipWithIndex.map { case (r, i) => emit(group, r, emitted + i + 1) }
          state.update(HostBudgetState(emitted + chosen.size))
          chosen.iterator
      }
  }

  final case class SeenState(seen: Boolean)

  /** Streaming URL-seen dedup — the [[graft.frontier.SeenSet]] in streaming
    * form: the FIRST row per `url_hash` across the stream's whole lifetime
    * is emitted, every later arrival (same batch or any later micro-batch)
    * is dropped. State is one boolean per key, partitioned by Spark's state
    * store exactly like the batch seen set shards by url_hash — O(distinct
    * urls) state total, nothing per duplicate. The batch engine remains
    * primary (its Bloom-fronted exact set also RETRACTS — streaming state
    * here is insert-only, matching the Bloom half of the contract); this is
    * the shape for a continuously-arriving frontier between epoch commits.
    *
    * Within one micro-batch the winner is deterministic: the group's
    * minimum by `(priority DESC, url ASC)` — the scheduler's rank — not
    * partition arrival order. */
  def seenDedupStream(frontier: Dataset[FrontierRow])
      (hashOf: FrontierRow => Long): Dataset[FrontierRow] = {
    import frontier.sparkSession.implicits._
    firstPerKey(frontier)(hashOf, byUrlRank)
  }

  /** First arrival per key across the stream's lifetime wins; within its
    * batch the best-`rank` row is the witness. One boolean of state per key. */
  private def firstPerKey[R: Encoder, K: Encoder](rows: Dataset[R])(
      keyOf: R => K, rank: Ordering[R]): Dataset[R] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(keyOf)
      .flatMapGroupsWithState[SeenState, R](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, batch, state: GroupState[SeenState]) =>
          if (state.exists) Iterator.empty
          else { state.update(SeenState(seen = true)); Iterator.single(batch.min(rank)) }
      }
  }

  /** Watermarked sliding-window counts over an event stream (ts, event_type)
    * — late data beyond the watermark is dropped, state is bounded. */
  def windowedEventCounts(events: DataFrame, windowDur: String,
      watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** File-source incremental frontier: stream new snapshot files as they are
    * committed; `Trigger.AvailableNow` turns this into exactly the batch
    * epoch when drained (spec-asserted via [[epochScheduleStream]]). */
  def frontierFileStream(spark: SparkSession, frontierDataDir: String): DataFrame =
    spark.readStream
      .schema("url STRING, priority DOUBLE")
      .parquet(frontierDataDir + "/data/*")

  final case class NormalizedRow(canon_url: String, host: String,
      url_hash: Long, priority: Double)

  /** The END-TO-END epoch-schedule slice as ONE streaming query:
    * frontier snapshot files → canonicalize/hash → within-stream seen dedup
    * (first per url_hash, max-priority witness) → per-host politeness
    * budget. Ranking matches the batch [[graft.frontier.Scheduler]] contract
    * EXACTLY — `(priority DESC, url_hash ASC)` within host — so draining a
    * committed frontier with `Trigger.AvailableNow` yields the same
    * `(canon_url, host, priority, host_rank)` set as
    * `Scheduler.scheduleEpoch` on it (robots gating excepted: gate
    * upstream if needed). That equality is a StreamingSpec assertion, not
    * prose. Two stateful operators chain in one query (dedup state keyed by
    * url_hash, budget state keyed by host — both O(keys), exactly the
    * batch engine's state sharding). */
  def epochScheduleStream(spark: SparkSession, frontierDataDir: String,
      budgetPerHost: Long): Dataset[ScheduledRow] = {
    import spark.implicits._
    import graft.functions.UrlNormalize
    val norm = frontierFileStream(spark, frontierDataDir)
      .as[(String, Double)]
      .map { case (u, p) =>
        val canon = UrlNormalize.canonicalize(u)
        NormalizedRow(canon, UrlNormalize.hostOfCanonical(canon),
          UrlNormalize.urlHash64(canon), p)
      }
    val rank = Ordering.by[NormalizedRow, (Double, Long)](
      r => (-r.priority, r.url_hash))
    // stage 1: first arrival per url_hash wins, best-rank witness in-batch;
    // stage 2: per-host lifetime budget, bounded heap, batch-identical rank
    budgeted(firstPerKey(norm)(_.url_hash, rank), budgetPerHost)(_.host, rank) {
      (host, r, slot) => ScheduledRow(r.canon_url, host, r.priority, slot)
    }
  }
}
