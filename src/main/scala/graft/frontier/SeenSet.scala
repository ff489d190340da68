package graft.frontier

import java.nio.file.{Files, Paths}

import graft.functions.GraftFunctions
import graft.table.{AtomicFile, SnapshotTable}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** The URL-seen set: an exact key table (snapshot-committed parquet of
  * `url_hash: long`) fronted by a PARTITIONED Bloom filter — `ShardCount`
  * sidecar filters, shard = url_hash mod ShardCount.
  *
  * Scale shape (north rule "partitioned Bloom-filter URL-seen set"): at a
  * 10^10-key frontier a single 1%-fpp filter is ~12 GB — unbroadcastable.
  * Sharding bounds each sidecar to total/ShardCount and probes load only the
  * shards their rows touch through a per-executor cache ([[BloomProbe]]) —
  * no driver materialization, no broadcast.
  *
  * INCREMENTAL updates (the 100×-scale property): [[add]] commits only the
  * epoch's NEW keys as a delta snapshot ([[SnapshotTable.commitDelta]] —
  * Iceberg fast-append), builds the Bloom shards from the delta alone, and
  * bitwise-ORs them into the previous generation's sidecars. Per-epoch cost
  * is O(delta), independent of the accumulated key count; round 1's
  * read-union-distinct-rewrite of the whole table was O(total) per epoch and
  * would rewrite ~80 GB every epoch at 10^10 keys. Shard capacity is fixed at
  * first build (OR-merge requires identical bit geometry) and recorded in a
  * meta sidecar; when the accumulated count outgrows it (fpp past design),
  * [[add]] rebuilds every shard from the key set at 4× the current size —
  * amortized O(1) per key. The key table's chain is bounded by the table
  * itself: [[SnapshotTable.commitDelta]] compacts it at 64 dirs, and that
  * add rebuilds the shards too. The key set never changes on a rebuild;
  * only the filters do.
  *
  * Membership discipline (reference J1 exactness,
  * `db_containment_annotator_single.py:50-67`):
  *   - `mightContain == false` ⇒ definitely unseen → kept with NO exact work;
  *   - `mightContain == true` ⇒ maybe seen → confirmed by an exact
  *     `left_anti` join, so no URL is ever falsely dropped.
  *
  * Bloom sidecars are insert-only (epoch replays are no-ops). DELETION has
  * two granularities: whole-epoch rollback = snapshot-pointer flip
  * ([[rollbackTo]], sidecars are per-snapshot), and per-key [[retract]]
  * (failed-fetch retry / forced recrawl) = exact tombstone table + a
  * deletion-capable [[CuckooFilter]] sidecar probed by [[liveKeys]] — the
  * north rule's "falling back to cuckoo for deletions": re-adding a key
  * deletes its tombstone fingerprint in place, which a Bloom filter cannot.
  *
  * @param expectedKeys sizing hint for the first Bloom build; underestimating
  *        only triggers an earlier shard rebuild, never wrong answers.
  * @param shardCount sidecar fan-out, a FIRST-BUILD parameter ([[ShardMeta]]):
  *        recorded under `root/snapshots/` at the first build and fixed for
  *        the root's life (merge geometry + file layout + probe routing all
  *        depend on it); on an existing root the recorded value wins and this
  *        argument is ignored. Size it to the deployment — shard-routed
  *        probing ([[filterUnseenRouted]]) runs one shard per task, so at
  *        cluster scale S should be ≥ the concurrent task slots you want the
  *        probe stage to use, and each task's resident filter bytes are
  *        `totalFilterBytes / S` (~750 MB at 10^10 keys with S=16; S=256
  *        brings it under 50 MB).
  * @param fpp Bloom false-positive rate, a FIRST-BUILD parameter like the
  *        fan-out (bit-array geometry must match for the parent-shard
  *        OR-merge): recorded in `bloom-meta.json`, recorded value wins on
  *        an existing root. The residency/confirm-work dial at scale —
  *        3% cuts resident filter bytes ~1.6× vs 1% at the cost of ~3× the
  *        exact-join confirms on unseen probes (measured: BASELINE.md
  *        round 5, Bloom fpp sweep).
  */
final class SeenSet(root: String, spark: SparkSession,
    expectedKeys: Long = SeenSet.DefaultExpectedKeys,
    shardCount: Int = SeenSet.ShardCount,
    fpp: Double = SeenSet.DefaultFpp) {

  /** Effective fan-out: the recorded value for an existing root, the
    * constructor's for a root this instance is about to build. */
  private def S: Int =
    if (ShardMeta.isRecorded(root)) ShardMeta.countFor(root) else shardCount

  /** Effective fpp (recorded value wins, like [[S]]). */
  private def F: Double = recordedFpp.getOrElse(fpp)

  val table = new SnapshotTable(root, spark)

  /** Tombstones: keys retracted from the set (forced recrawl / failed-fetch
    * retry) until re-added. Exact membership lives in this snapshot table;
    * the fast probe is a SHARDED cuckoo sidecar per tombstone snapshot
    * (shard = url_hash mod ShardCount, same fan-out as the Bloom shards) —
    * deletion-capable, so a re-add removes the key's fingerprint in place
    * instead of rebuilding (a Bloom filter cannot delete). Tombstone sets
    * are usually epoch-delta sized, but `requeueFailures` retracts an
    * epoch's whole FAILED set and at 10^10-URL scale transient failures are
    * the norm — so past the driver-build cap the filters are BUILT ON
    * EXECUTORS (one task per shard, nothing filter-sized reaches the
    * driver) and the exact
    * anti-join in [[liveKeys]] broadcasts only below a row-count threshold. */
  private val tombTable = new SnapshotTable(s"$root/tombstones", spark)
  private def tombRoot = s"$root/tombstones"

  private def metaPath = Paths.get(root, "snapshots", "bloom-meta.json")

  def isEmpty: Boolean = !table.exists

  /** Raw committed keys, INCLUDING retracted ones (the key table is
    * append-only; retraction is a tombstone). Effective membership is
    * [[liveKeys]]. */
  def keys(): DataFrame =
    if (table.exists) table.read().select(col("url_hash"))
    else spark.range(0).select(col("id").as("url_hash"))

  private def tombstoneCount: Long = tombTable.currentRowCount.getOrElse(0L)

  /** Effective membership: committed keys minus tombstones. The cuckoo probe
    * gates the exact tombstone anti-join — a key the filter rejects is
    * definitely not retracted and pays no join work, so the common case
    * (zero or few tombstones) adds nothing to the keys scan. */
  def liveKeys(): DataFrame = {
    val k = keys()
    val tid = tombTable.currentSnapshotId
    if (tombstoneCount == 0L || tid.isEmpty) k
    else {
      // Broadcast the exact tombstone table only while it is genuinely
      // small; a mostly-failed epoch at 10^10-URL scale retracts ~10^8 rows,
      // which must shuffle, not broadcast (the guard ADVICE asked for).
      val raw = tombTable.read().withColumnRenamed("url_hash", "__tomb_hash")
      val tombs =
        if (tombstoneCount <= SeenSet.broadcastMax(spark)) broadcast(raw) else raw
      if (ShardFiles.allPresent(ShardFiles.Cuckoo, tombRoot, tid.get)) {
        GraftFunctions.register(spark)
        val probe = call_function("cuckoo_might_contain",
          col("url_hash"), lit(tombRoot), lit(tid.get))
        k.withColumn("__maybe_retracted", probe)
          .join(tombs,
            col("url_hash") === col("__tomb_hash") && col("__maybe_retracted"),
            "left_anti")
          .drop("__maybe_retracted")
      } else { // sidecar lost (crash between commit and write): exact-only path
        k.join(tombs, col("url_hash") === col("__tomb_hash"), "left_anti")
      }
    }
  }

  /** RETRACT keys from the seen set (north rule "falling back to cuckoo for
    * deletions"): the keys become unseen — eligible for rescheduling — until
    * re-[[add]]ed. Keys not currently in the set are ignored. The exact
    * tombstone set is committed as a snapshot; its cuckoo sidecar serves the
    * fast probe in [[liveKeys]]. Returns the tombstone snapshot id. */
  def retract(urlHashes: DataFrame, lineage: Map[String, String] = Map.empty): Long = {
    require(table.exists, "cannot retract from an empty seen set")
    val toRetract = urlHashes.select(col("url_hash")).distinct()
      .join(keys(), Seq("url_hash"), "left_semi")
    val combined =
      if (tombTable.exists) tombTable.read().unionByName(toRetract).distinct()
      else toRetract
    val tid = tombTable.commit(combined, lineage)
    writeCuckoo(tid)
    tid
  }

  /** Build + write the sharded cuckoo sidecar for tombstone snapshot `tid`
    * ([[ShardFiles.build]]: small sets — the episodic-retraction common
    * case — on the driver, a mostly-failed epoch's one task per shard). */
  private def writeCuckoo(tid: Long): Unit = {
    val total = tombTable.rowCount(tid).getOrElse(0L)
    ShardFiles.build(ShardFiles.Cuckoo, tombRoot, tid, tombTable.readAt(tid), S,
      rowBound = total)(SeenSet.cuckooShard(SeenSet.cuckooPerShard(total, S)))
  }

  /** Re-adding a retracted key clears its tombstone: the exact set shrinks
    * by an anti-join and the cuckoo sidecar DELETES the fingerprints in
    * place — the capability a Bloom filter lacks and the reason the
    * tombstone probe is a cuckoo filter, not a 17th Bloom shard. Each shard
    * with deletions is edited in place; untouched shards are carried over
    * byte-for-byte. Beyond the driver-build cap neither the re-added keys
    * nor the filters reach the driver. */
  private def clearTombstones(newKeys: DataFrame): Unit = {
    val oldTid = tombTable.currentSnapshotId
    if (tombstoneCount == 0L || oldTid.isEmpty) return
    // Pin reads to the CURRENT snapshot: the deletion job below runs after
    // the `remaining` commit, and an unpinned read() would re-resolve to the
    // new snapshot and delete nothing.
    val old = tombTable.readAt(oldTid.get)
    // persist: this frame feeds the emptiness check AND the shard-delete
    // job below — unpersisted it would rescan tombstones + newKeys per use
    val reAdded = old.join(newKeys, Seq("url_hash"), "left_semi")
      .select(col("url_hash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nReAdded = reAdded.count()
      if (nReAdded == 0L) return
      val remaining = old.join(newKeys, Seq("url_hash"), "left_anti")
      val oldCount = tombstoneCount
      val newTid = tombTable.commit(remaining,
        Map("cleared" -> nReAdded.toString))
      if (ShardFiles.allPresent(ShardFiles.Cuckoo, tombRoot, oldTid.get))
        // the old tombstone count bounds both the re-added keys (a subset)
        // and the filters the edit reads
        ShardFiles.build(ShardFiles.Cuckoo, tombRoot, newTid, reAdded, S,
          rowBound = oldCount)(SeenSet.cuckooDelete(tombRoot, oldTid.get))
      else writeCuckoo(newTid)
    } finally reAdded.unpersist(blocking = false)
  }

  /** Per-shard Bloom capacity, fixed at first build (merge compatibility).
    * Format: JSON `{"per_shard":N,"shard_count":S,"fpp":F}`; a bare long is
    * the pre-shard-count legacy format (fan-out 16, fpp 1%). */
  private def bloomMeta: Option[com.fasterxml.jackson.databind.JsonNode] =
    if (Files.exists(metaPath)) {
      val s = new String(Files.readAllBytes(metaPath)).trim
      if (s.startsWith("{"))
        Some(new com.fasterxml.jackson.databind.ObjectMapper().readTree(s))
      else None
    } else None

  private def shardCapacity: Option[Long] =
    bloomMeta.map(_.get("per_shard").asLong).orElse {
      if (Files.exists(metaPath))
        Some(new String(Files.readAllBytes(metaPath)).trim.toLong)
      else None
    }

  private def recordedFpp: Option[Double] =
    bloomMeta.filter(_.has("fpp")).map(_.get("fpp").asDouble)

  private def writeShardCapacity(perShard: Long): Unit =
    AtomicFile.replace(metaPath,
      s"""{"per_shard":$perShard,"shard_count":$S,"fpp":$F}""".getBytes)

  /** Add `urlHashes` (column `url_hash`) as a DELTA: keys already present are
    * filtered out (Bloom fast path + exact anti-join on the maybes), and only
    * new keys are committed, in ONE [[SnapshotTable.commitDelta]] (which also
    * compacts the key table's chain when it is full). Bloom shards are built
    * from the delta alone and merged into the parent generation's sidecars,
    * or, when that cannot be done, rebuilt from the whole key set.
    * Idempotent under replay: a replayed add contributes an empty delta.
    * Returns the new snapshot id. */
  def add(urlHashes: DataFrame, lineage: Map[String, String] = Map.empty): Long = {
    val newKeys = urlHashes.select(col("url_hash")).distinct()
    // a re-added retracted key just loses its tombstone (it is already in
    // the key table); afterwards filterUnseen sees it as seen again, so the
    // delta below holds only genuinely-new keys
    clearTombstones(newKeys)
    // the delta's parent: this set's only writer is this call
    val parent = table.currentSnapshotId
    val id = table.commitDelta(filterUnseen(newKeys), lineage)
    val total = table.rowCount(id).get
    val perShard = shardCapacity.getOrElse(
      math.max(1000L, math.max(expectedKeys, 4 * total) / S))
    val outgrown = total > perShard * S
    // more than one dir: the commit chained onto the parent (a first add or
    // a compacting commit writes one)
    if (table.dataDirs(id).size > 1 && !outgrown &&
        parent.exists(ShardFiles.allPresent(ShardFiles.Bloom, root, _))) {
      // delta-only Bloom build, reading back the just-committed delta's
      // own files (columnar longs — no recompute of the filter plan, no
      // persist); each shard task merges the parent generation's shard in
      // place. delta_rows (exact, from the manifest) routes tiny deltas —
      // the steady-state late-epoch case — to the bounded driver fast path.
      SeenSet.buildWriteShards(root, id, table.readDelta(id),
        perShard, mergeParentId = parent,
        knownRows = table.deltaRows(id).get, shardCount = S, fpp = F)
    } else {
      // every shard from the whole key set: the first add, a compacting
      // commit, the parent's sidecars lost (crash recovery), or the fixed
      // capacity outgrown (fpp past design) — then at 4× the current size,
      // amortized O(1) per key
      val newPerShard = if (outgrown) math.max(perShard, 4 * total / S) else perShard
      writeShardCapacity(newPerShard)
      SeenSet.buildWriteShards(root, id, table.readAt(id), newPerShard,
        knownRows = total, shardCount = S, fpp = F)
    }
    id
  }

  /** Expire old key-table and tombstone snapshots (storage maintenance; see
    * [[SnapshotTable.expireSnapshots]]). Safe for incremental adds with any
    * `keepLast >= 1`: [[add]] merges into the CURRENT generation's Bloom
    * sidecars, which expiry always retains. Rollback below the horizon is
    * gone by design. */
  def expire(keepLast: Int): Int =
    table.expireSnapshots(keepLast) + tombTable.expireSnapshots(keepLast)

  /** Roll the seen set back to an earlier snapshot (epoch rollback). The
    * Bloom sidecars are per-snapshot, so the pointer flip restores the exact
    * earlier filters too — deletion without tombstones. */
  def rollbackTo(snapshotId: Long): Unit = table.rollbackTo(snapshotId)

  /** [[filterUnseen]] for a frontier the CALLER HAS PERSISTED (or that is
    * trivially cheap to recompute): additionally prunes the KEYS side of
    * the exact-confirm anti-join. One aggregate job over `frontier` counts
    * the Bloom maybes; when they fit the broadcast cap
    * (`graft.bcastSeenMax`), the key table is semi-joined against the
    * BROADCAST maybes — at 10^10 keys the keys are then filtered in their
    * scan instead of exchanging every accumulated key each epoch (~80 GB).
    * The maybes branch re-reads `frontier`, which is why persistence is the
    * caller's contract: measured UNPERSISTED, the column-pruned branch
    * defeats ReuseExchange and re-executes the frontier's upstream
    * (120→301 s on a matched 4M pair — BASELINE.md negative result).
    * Oversized maybe sets (mass-revisit epochs) fall back to the unpruned
    * plan unchanged.
    *
    * `rowBound` — an upper bound on `frontier`'s row count KNOWN WITHOUT A
    * JOB (a snapshot manifest's exact row_count; never an optimizer
    * estimate): maybes ⊆ frontier, so a bound under the broadcast cap
    * proves the prune safe and the gating count job is skipped — one fewer
    * serial job on the per-epoch floor. The broadcast then materializes
    * the persisted frontier instead. */
  def filterUnseenPersisted(frontier: DataFrame,
      rowBound: Long = Long.MaxValue): DataFrame = {
    if (isEmpty) return frontier
    GraftFunctions.register(spark)
    table.currentSnapshotId match {
      case Some(id) if ShardFiles.allPresent(ShardFiles.Bloom, root, id) =>
        // constraint_barrier: stops the optimizer transposing the probe onto
        // the key-table side through the joins' equalities (see the
        // [[ConstraintBarrier]] scaladoc — spec-pinned in FrontierSpec)
        val probe = call_function("constraint_barrier",
          call_function("bloom_might_contain",
            col("url_hash"), lit(root), lit(id)))
        val maybes = frontier.select(col("url_hash")).where(probe)
        val nMaybes =
          if (rowBound <= SeenSet.broadcastMax(spark)) rowBound
          else maybes.count()
        if (nMaybes <= SeenSet.broadcastMax(spark)) {
          val keysPruned = liveKeys().withColumnRenamed("url_hash", "__seen_hash")
            .join(broadcast(maybes), col("__seen_hash") === col("url_hash"),
              "left_semi")
          frontier.withColumn("__maybe_seen", probe)
            .join(keysPruned,
              col("url_hash") === col("__seen_hash") && col("__maybe_seen"),
              "left_anti")
            .drop("__maybe_seen")
        } else filterUnseen(frontier)
      case _ => filterUnseen(frontier)
    }
  }

  /** Rows of `frontier` whose `url_hash` is NOT in the seen set.
    *
    * Single pass over the frontier: the codegen'd [[BloomMightContain]] probe
    * is computed in the scan stage, and the exact anti-join's condition
    * requires it — rows failing the probe (definitely unseen) match nothing
    * and are kept with no comparison against the key table; only the maybes
    * (~fpp of the input + the truly seen) do exact work. Round 1's shape
    * (two complementary `udf` filters + union) scanned the frontier twice
    * and probed through an interpreted, boxing UDF. */
  def filterUnseen(frontier: DataFrame): DataFrame = {
    if (isEmpty) return frontier
    GraftFunctions.register(spark)
    table.currentSnapshotId match {
      case Some(id) if ShardFiles.allPresent(ShardFiles.Bloom, root, id) =>
        // constraint_barrier: see filterUnseenPersisted — without it the
        // probe is inferred onto the key table's scan via the anti-join
        // equality (O(all keys ever) probes per epoch at scale)
        val probe = call_function("constraint_barrier",
          call_function("bloom_might_contain",
            col("url_hash"), lit(root), lit(id)))
        frontier.withColumn("__maybe_seen", probe)
          .join(liveKeys().withColumnRenamed("url_hash", "__seen_hash"),
            col("url_hash") === col("__seen_hash") && col("__maybe_seen"),
            "left_anti")
          .drop("__maybe_seen")
      case _ =>
        frontier.join(liveKeys(), Seq("url_hash"), "left_anti")
    }
  }

  /** [[filterUnseen]] with SHARD-ROUTED probing: the frontier is first
    * repartitioned so every task's rows probe exactly ONE Bloom shard
    * ([[ShardRoute.routeByShard]]) — per-task resident filter bytes drop
    * from the whole family (~12 GB at 10^10 keys) to one shard
    * (`totalBytes / shardCount`), and a byte-capped probe cache stops
    * thrashing because consecutive rows never alternate shards. Costs one
    * exchange of the frontier; identical output to [[filterUnseen]]
    * (routing only moves rows). The shape for residency-bound clusters —
    * pair it with a shardCount ≥ the probe stage's task-slot count at build
    * time. `slotsPerShard` spreads each shard over that many tasks
    * (parallelism = shardCount × slotsPerShard). */
  def filterUnseenRouted(frontier: DataFrame, slotsPerShard: Int = 1): DataFrame = {
    if (isEmpty) return frontier
    table.currentSnapshotId match {
      case Some(id) if ShardFiles.allPresent(ShardFiles.Bloom, root, id) =>
        filterUnseen(ShardRoute.routeByShard(frontier, "url_hash", S, slotsPerShard))
      case _ => filterUnseen(frontier)
    }
  }
}

object SeenSet {

  /** DEFAULT shard fan-out for roots whose builder does not choose one (a
    * 10^10-key set at 1% fpp is ~750 MB/shard at 16). The real value is a
    * FIRST-BUILD PARAMETER (`SeenSet(shardCount = …)`, recorded per root by
    * [[ShardMeta]]): deployments that shard-route the probe size it to their
    * task-slot count instead. */
  val ShardCount: Int = 16

  /** Default first-build sizing hint (callers at larger scale pass their
    * own; outgrowing it only triggers a shard rebuild). */
  val DefaultExpectedKeys: Long = 4L * 1000 * 1000

  /** Default Bloom sidecar false-positive rate (a first-build parameter of
    * [[SeenSet]]; per-epoch schedule/image sidecars always use this). */
  val DefaultFpp: Double = 0.01

  def shardOf(h: Long, shardCount: Int): Int =
    (((h % shardCount) + shardCount) % shardCount).toInt

  /** The Bloom driver arm also READS filter-sized data (the parent shards
    * it merges into, or the fresh filters it allocates), so past this
    * per-shard capacity the build stays on executors however small the
    * input. ~4M keys/shard ≈ 5 MB/shard at 1% fpp. */
  private val DriverShardCapacityMax = 4L * 1000 * 1000

  /** Build AND write the Bloom shard sidecars of snapshot `id` through
    * [[ShardFiles.build]]: each shard starts from `mergeParentId`'s
    * same-capacity shard file (OR-merge of an incremental add) or a fresh
    * filter at `perShard` capacity, and takes its keys. Bit-identical on
    * either arm and at any parallelism — a Bloom filter's bits are the
    * OR-set of its keys' hash bits.
    *
    * `knownRows` is an upper bound on `keysDf`'s rows from a manifest
    * (never a count job); it routes bounded builds with driver-sized shards
    * to the driver arm. */
  private[graft] def buildWriteShards(root: String, id: Long, keysDf: DataFrame,
      perShard: Long, mergeParentId: Option[Long] = None,
      knownRows: Long = Long.MaxValue,
      shardCount: Int = ShardCount,
      fpp: Double = DefaultFpp): Unit =
    ShardFiles.build(ShardFiles.Bloom, root, id, keysDf, shardCount,
      rowBound = if (perShard <= DriverShardCapacityMax) knownRows else Long.MaxValue)(
      bloomShard(root, mergeParentId, perShard, fpp))

  private def bloomShard(root: String, parentId: Option[Long], perShard: Long,
      fpp: Double): (Int, Array[Long]) => Array[Byte] = { (shard, keys) =>
    val bf = parentId match {
      case Some(pid) => BloomFilter.readFrom(new java.io.ByteArrayInputStream(
        ShardFiles.read(ShardFiles.Bloom, root, pid, shard)))
      case None => BloomFilter.create(perShard, fpp)
    }
    keys.foreach(bf.putLong)
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  /** Row-count cap for broadcasting a set of seen-set `url_hash` longs:
    * the exact tombstone table in [[SeenSet.liveKeys]], and the frontier's
    * Bloom maybes for the keys-side prune in
    * [[SeenSet.filterUnseenPersisted]]. Beyond it the join shuffles. */
  private def broadcastMax(spark: SparkSession): Long =
    graft.core.GraftConf.longKnob(spark,
      "graft.bcastSeenMax", "SPARK_GRAFT_BCAST_SEEN_MAX", 4000000L)

  // --- sharded cuckoo sidecars (tombstone probe) ---------------------------

  /** One cuckoo shard from ITS (sorted) keys — insertion order fixes the
    * eviction walks, so sorted input makes the bytes path-independent.
    * Saturation (dup-heavy fingerprints) grows the shard and restarts its
    * inserts. */
  private def cuckooShard(perShard: Long): (Int, Array[Long]) => Array[Byte] = { (_, keys) =>
    var cf = CuckooFilter.forCapacity(math.max(perShard, keys.length.toLong))
    var i = 0
    while (i < keys.length) {
      if (!cf.insert(keys(i))) { cf = new CuckooFilter(cf.nBuckets * 2); i = -1 }
      i += 1
    }
    cf.serialize()
  }

  private def cuckooPerShard(total: Long, shardCount: Int): Long =
    math.max(64L, 2L * total / shardCount)

  /** One cuckoo shard of the next tombstone generation: snapshot `oldId`'s
    * shard with its re-added keys DELETED in place; a shard without
    * deletions is carried over byte-for-byte. */
  private def cuckooDelete(root: String, oldId: Long): (Int, Array[Long]) => Array[Byte] = {
    (shard, keys) =>
      val old = ShardFiles.read(ShardFiles.Cuckoo, root, oldId, shard)
      if (keys.isEmpty) old
      else {
        val cf = CuckooFilter.deserialize(old)
        keys.foreach(cf.delete)
        cf.serialize()
      }
  }
}
