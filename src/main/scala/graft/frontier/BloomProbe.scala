package graft.frontier

import java.io.ByteArrayInputStream

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.util.sketch.BloomFilter

/** Executor-resident cache keyed by (key, snapshot id), holding AT MOST TWO
  * generations per key, newest first. Shared by the Bloom and cuckoo shard
  * probes (identical eviction/race discipline — one implementation so the
  * two cannot drift).
  *
  * WHY two generations (not one, not per-id): keying by snapshot id alone
  * (as round 1 did) grew one full generation per epoch and would OOM an
  * executor after a few epochs at the ~750 MB/shard target scale, while a
  * SINGLE resident generation thrashes under pipelining — epoch N's
  * still-running out stage probes snapshot N of a schedule-Bloom root while
  * epoch N+1's stages concurrently probe snapshot N+1 of the same root, and
  * one-slot caching would re-read a shard file per probe. Two slots cover
  * the at-most-two in-flight epochs; older generations are evicted.
  * Updates go through `compute` so two tasks missing on DIFFERENT
  * generations at once cannot clobber each other's entry — a plain put
  * would evict the other loader's generation and thrash re-deserialization
  * per batch. */
/** ONE byte budget shared by every probe cache on the executor (Bloom AND
  * cuckoo — a per-cache cap would let combined residency reach caches × the
  * configured bound): `SPARK_GRAFT_PROBE_CACHE_MAX` bytes, default
  * unbounded (the historical behavior). Eviction is insertion-ordered
  * across all caches; the victim cache frees its own entry. */
private[frontier] object ProbeCacheBudget {
  private[frontier] val totalBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  private val insertOrder =
    new java.util.concurrent.ConcurrentLinkedQueue[(TwoGenCache[_], String)]()

  /** Test seam; production reads the env knob once. */
  @volatile private[frontier] var budgetOverride: Option[Long] = None
  private lazy val envBudget: Long =
    sys.env.get("SPARK_GRAFT_PROBE_CACHE_MAX") match {
      case None => Long.MaxValue
      case Some(v) =>
        try v.trim.toLong
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"SPARK_GRAFT_PROBE_CACHE_MAX='$v' is not a long " +
              "(plain bytes, no size suffixes)")
        }
    }
  private def budget: Long = budgetOverride.getOrElse(envBudget)

  private[frontier] def registered(cache: TwoGenCache[_], key: String): Unit =
    insertOrder.add((cache, key))

  /** Called after an insert grew `totalBytes` past the budget: evict
    * oldest-inserted keys across ALL caches, sparing the key just inserted
    * (evicting it would guarantee a reload on the very next row). */
  private[frontier] def enforce(current: (TwoGenCache[_], String)): Unit = {
    var spared: Option[(TwoGenCache[_], String)] = None
    while (totalBytes.get() > budget) {
      val victim = insertOrder.poll()
      if (victim == null) { spared.foreach(insertOrder.add); return }
      if (victim == current && spared.isEmpty) spared = Some(victim)
      else victim._1.removeForBudget(victim._2)
    }
    spared.foreach(insertOrder.add)
  }
}

/** @param sizer approximate resident bytes of one cached filter — drives
  *        the OPTIONAL executor-wide byte cap ([[ProbeCacheBudget]]). At a
  *        10^10-key seen set the full Bloom shard family is ~12 GB;
  *        executors whose rows probe arbitrary hashes fault in every shard
  *        over time, so a budget bounds residency at the cost of
  *        shard-file RE-READS on re-entry (an evicted probe is a cache
  *        miss, never a wrong answer). Enforcement is insertion-ordered
  *        and happens ONLY on insert — the per-row hit path stays a single
  *        lock-free map read with zero bookkeeping. */
private[frontier] final class TwoGenCache[F](sizer: F => Long = (_: F) => 0L) {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, List[(Long, F)]]()

  private[frontier] def entryCount: Int = cache.size()

  /** Budget-eviction callback: drop `key` and return its bytes to the
    * shared ledger. */
  private[frontier] def removeForBudget(key: String): Unit = {
    val removed = cache.remove(key)
    if (removed != null)
      ProbeCacheBudget.totalBytes.addAndGet(-removed.map(e => sizer(e._2)).sum)
  }

  def get(key: String, id: Long)(load: => F): F = {
    val cur = cache.get(key)
    val hit = if (cur != null) cur.find(_._1 == id) else None
    hit match {
      case Some((_, f)) => f
      case None =>
        val f = load
        val delta = new java.util.concurrent.atomic.AtomicLong(0L)
        val merged = cache.compute(key, (_, prev0) => {
          val prev = if (prev0 == null) Nil else prev0
          if (prev0 == null) ProbeCacheBudget.registered(this, key)
          val next = ((id, f) :: prev.filterNot(_._1 == id)).take(2)
          delta.set(next.map(e => sizer(e._2)).sum - prev.map(e => sizer(e._2)).sum)
          next
        })
        ProbeCacheBudget.totalBytes.addAndGet(delta.get())
        if (delta.get() > 0) ProbeCacheBudget.enforce((this, key))
        merged.find(_._1 == id).map(_._2).getOrElse(f)
    }
  }
}

/** Executor-side access to the [[SeenSet]] Bloom sidecars (shard files
  * loaded on demand through the shared [[TwoGenCache]]). */
object BloomProbe {

  private val cache = new TwoGenCache[BloomFilter](bf => bf.bitSize() / 8)

  /** Opt-in instrumentation for ShardRouteSpec: when on, every probe
    * records (taskPartitionId, shard) — the per-TASK shard working set, the
    * quantity shard-routed probing bounds at 1. Off (the default) costs one
    * static volatile read per row. */
  @volatile private[graft] var trackTouches: Boolean = false
  private[graft] val touches =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, Int)]()
  private[graft] def resetTracking(): Unit = touches.clear()

  private[graft] def filterFor(root: String, id: Long, shard: Int): BloomFilter =
    cache.get(s"$root#$shard", id) {
      BloomFilter.readFrom(new ByteArrayInputStream(
        ShardFiles.read(ShardFiles.Bloom, root, id, shard)))
    }

  // test seams for the byte-cap behavior (production budget comes from the
  // SPARK_GRAFT_PROBE_CACHE_MAX env knob, read once per executor)
  private[graft] def setBudgetForTest(b: Option[Long]): Unit =
    ProbeCacheBudget.budgetOverride = b
  private[graft] def cacheStats: (Int, Long) =
    (cache.entryCount, ProbeCacheBudget.totalBytes.get())

  /** Static probe entry point for generated code (whole-stage codegen calls
    * this directly — no boxing, no UDF wrapper). `shardCount` is resolved
    * ONCE at plan time from the root's shard-count record ([[ShardMeta]])
    * and baked into the generated call as an integer constant — the per-row
    * path stays a modulo + filter lookup, no metadata read. */
  def probe(root: String, id: Long, shardCount: Int, h: Long): Boolean = {
    val shard = SeenSet.shardOf(h, shardCount)
    if (trackTouches) {
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null) touches.add((tc.partitionId(), shard))
    }
    filterFor(root, id, shard).mightContainLong(h)
  }
}

/** Shared shape of the sidecar-probe expressions:
  * `(hash: LONG, root: string literal, snapshot_id: long literal) → boolean`,
  * evaluated through a static probe entry point that whole-stage codegen
  * calls directly — no boxing, no UDF wrapper. */
abstract class SidecarProbe extends TernaryExpression {
  def hash: Expression
  def rootExpr: Expression
  def idExpr: Expression
  /** Fully-qualified static method generated code calls. */
  protected def probeMethod: String
  /** The same probe for interpreted evaluation. */
  protected def probe(root: String, id: Long, shardCount: Int, h: Long): Boolean

  override def first: Expression = hash
  override def second: Expression = rootExpr
  override def third: Expression = idExpr

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = hash.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (hash.dataType != LongType) TypeCheckFailure("hash must be LONG")
    else if (rootExpr.dataType != StringType || !rootExpr.foldable)
      TypeCheckFailure("root must be a string literal")
    else if (idExpr.dataType != LongType || !idExpr.foldable)
      TypeCheckFailure("snapshot id must be a long literal")
    else TypeCheckSuccess
  }

  @transient protected lazy val root: String = rootExpr.eval().toString
  @transient protected lazy val snapId: Long = idExpr.eval().asInstanceOf[Long]
  /** Root's recorded shard fan-out, resolved at plan time (driver side —
    * same shared store the sidecars live in) and embedded as a constant in
    * generated code; never read per row. */
  @transient protected lazy val shardCount: Int = ShardMeta.countFor(root)

  override protected def nullSafeEval(h: Any, r: Any, i: Any): Any =
    java.lang.Boolean.valueOf(probe(root, snapId, shardCount, h.asInstanceOf[Long]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // root and snapshot id are references, not literals: every snapshot of
    // a root then shares one generated class instead of compiling its own
    val rootRef = ctx.addReferenceObj("probeRoot", root)
    val snapRef = ctx.addReferenceObj("probeSnap", snapId)
    defineCodeGen(ctx, ev, (h, _, _) =>
      s"$probeMethod($rootRef, $snapRef.longValue(), $shardCount, $h)")
  }
}

/** `bloom_might_contain(url_hash, root, snapshot_id)` — codegen'd membership
  * probe against the sharded seen-set Bloom sidecars. Replaces round 1's
  * Scala `udf` probe (interpreted, boxed, CodegenFallback) so the probe runs
  * inside the whole-stage-codegen span of the frontier scan. */
case class BloomMightContain(hash: Expression, rootExpr: Expression, idExpr: Expression)
    extends SidecarProbe {
  override def prettyName: String = "bloom_might_contain"
  override protected def probeMethod: String = "graft.frontier.BloomProbe.probe"
  override protected def probe(root: String, id: Long, shardCount: Int, h: Long): Boolean =
    BloomProbe.probe(root, id, shardCount, h)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(hash = newFirst, rootExpr = newSecond, idExpr = newThird)
}

/** Identity wrapper that BLOCKS constraint propagation of its child: it
  * forwards evaluation and codegen untouched but reports
  * `deterministic = false`, which the optimizer's constraint machinery
  * (alias substitution + InferFiltersFromConstraints) skips.
  *
  * Why it exists: [[SeenSet.filterUnseen]] probes the FRONTIER side of its
  * exact anti-join with `bloom_might_contain`; the join's equality
  * (`url_hash = __seen_hash`) otherwise lets InferFiltersFromConstraints
  * transpose the probe onto the KEY-TABLE side as an inferred scan filter —
  * re-probing every committed key every epoch, which at a 10^10-key set
  * means every executor touching the scan must hold the full ~12 GB shard
  * family in its probe cache. Spec-pinned in FrontierSpec ("the probe is
  * never inferred onto the key-table side"); the assertion FAILED on the
  * unwrapped plan, so this is a measured fix, not a precaution. Scoped to
  * the seen-set joins — a session-wide `excludedRules` would also disable
  * the rule where it genuinely helps. The flag's only other optimizer
  * effects (no collapse into a pushed filter, no reuse across plans) are
  * moot here: the probe column is projected once, right where it is used. */
case class ConstraintBarrier(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "constraint_barrier"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Executor-side access to the [[SeenSet]] tombstone cuckoo sidecars (the
  * deletion-capable companion of the Bloom shards: retracted keys live here
  * until re-added). Sharded like the Bloom sidecars — tasks load only the
  * shards their rows hash to — and, like [[BloomProbe]], the cache keeps
  * AT MOST TWO generations per (root, shard): pipelined epochs probe two
  * tombstone snapshot ids of the same root concurrently (stage-3 add's
  * clearTombstones commits a new tid while stage-4 probes the old one), and
  * a one-slot cache would re-read a shard file per mismatching row. */
object CuckooProbe {

  private val cache = new TwoGenCache[CuckooFilter](
    cf => cf.nBuckets.toLong * 4 * 2) // 4 Short slots per bucket

  private[graft] def filterFor(root: String, id: Long, shard: Int): CuckooFilter =
    cache.get(s"$root#$shard", id) {
      CuckooFilter.deserialize(ShardFiles.read(ShardFiles.Cuckoo, root, id, shard))
    }

  /** Static probe entry point for generated code (`shardCount` resolved at
    * plan time, see [[BloomProbe.probe]]). */
  def probe(root: String, id: Long, shardCount: Int, h: Long): Boolean =
    filterFor(root, id, SeenSet.shardOf(h, shardCount)).contains(h)
}

/** `cuckoo_might_contain(url_hash, root, snapshot_id)` — codegen'd probe of
  * the tombstone cuckoo sidecar. Gates the exact tombstone anti-join in
  * [[SeenSet.liveKeys]]: keys the filter rejects are definitely not
  * retracted and skip the join. */
case class CuckooMightContain(hash: Expression, rootExpr: Expression, idExpr: Expression)
    extends SidecarProbe {
  override def prettyName: String = "cuckoo_might_contain"
  override protected def probeMethod: String = "graft.frontier.CuckooProbe.probe"
  override protected def probe(root: String, id: Long, shardCount: Int, h: Long): Boolean =
    CuckooProbe.probe(root, id, shardCount, h)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(hash = newFirst, rootExpr = newSecond, idExpr = newThird)
}
