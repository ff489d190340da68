package graft

import graft.frontier.{CuckooFilter, Scheduler, SeenSet, ShardFiles}
import graft.gen.SyntheticCorpus
import graft.table.SnapshotTable

import org.apache.spark.sql.functions._

import java.nio.file.Files

class FrontierSpec extends SparkSpecBase {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // --- cuckoo filter ---------------------------------------------------------

  test("cuckoo: insert/contains/delete, no false negatives") {
    val f = CuckooFilter.forCapacity(10000)
    val keys = (0L until 10000L).map(graft.functions.TextHashing.splitmix64)
    keys.foreach(k => assert(f.insert(k)))
    keys.foreach(k => assert(f.contains(k), s"false negative for $k"))
    // delete half, deleted keys report absent (no stray fingerprints here)
    val (del, keep) = keys.splitAt(5000)
    del.foreach(k => assert(f.delete(k)))
    keep.foreach(k => assert(f.contains(k)))
    val fpAfterDelete = del.count(f.contains)
    assert(fpAfterDelete < 100, s"too many post-delete positives: $fpAfterDelete")
  }

  test("cuckoo: saturation never corrupts prior membership (victim stash)") {
    // tiny filter, overfill far past capacity: every key whose insert
    // reported success must still be contained — the final eviction victim
    // is parked in the stash instead of silently dropped (Fan et al. §4)
    val f = new CuckooFilter(8) // 32 slots
    val accepted = scala.collection.mutable.ArrayBuffer[Long]()
    var k = 0L
    while (k < 200L) {
      if (f.insert(graft.functions.TextHashing.splitmix64(k))) accepted += k
      k += 1
    }
    assert(accepted.size < 200, "overfill should saturate the filter")
    accepted.foreach { key =>
      assert(f.contains(graft.functions.TextHashing.splitmix64(key)),
        s"accepted key $key lost after saturation")
    }
    assert(f.size === accepted.size.toLong)
    // stash survives serialization
    val g = CuckooFilter.deserialize(f.serialize())
    accepted.foreach(key => assert(g.contains(graft.functions.TextHashing.splitmix64(key))))
    // deleting a table-resident key frees space; stashed key stays visible
    assert(g.delete(graft.functions.TextHashing.splitmix64(accepted.head)))
    accepted.tail.foreach(key => assert(g.contains(graft.functions.TextHashing.splitmix64(key))))
  }

  test("cuckoo: serialization round-trip preserves state") {
    val f = CuckooFilter.forCapacity(1000)
    (0L until 1000L).foreach(i => f.insert(i * 7919L))
    val g = CuckooFilter.deserialize(f.serialize())
    (0L until 1000L).foreach(i => assert(g.contains(i * 7919L)))
    assert(g.size === f.size)
  }

  // --- snapshot table --------------------------------------------------------

  test("snapshot table: commit/read/time-travel/atomic current") {
    import spark.implicits._
    val root = tmpDir("snap")
    val t = new SnapshotTable(root, spark)
    assert(!t.exists)
    val id1 = t.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val id2 = t.commit(Seq((3L, "c")).toDF("k", "v"))
    assert(id1 === 1L && id2 === 2L)
    assert(t.read().count() === 1)
    assert(t.readAt(1).count() === 2)
    val m = t.manifest(2).get
    assert(m.get("row_count").asLong === 1L)
    assert(m.get("parent_id").asLong === 1L)
  }

  test("snapshotForLineage: incremental index equals a full scan; expiry and wipe fall back") {
    import spark.implicits._
    val root = tmpDir("lineageidx")
    val t = new SnapshotTable(root, spark)
    // the un-indexed reference: newest→oldest linear scan over manifests
    def scanRef(key: String, value: String): Option[Long] = {
      val cur = t.currentSnapshotId.getOrElse(return None)
      (cur to 1L by -1L).find(id => t.manifest(id).exists { m =>
        m.has("lineage") && m.get("lineage").has(key) &&
          m.get("lineage").get(key).asText == value
      })
    }
    def df = Seq((1L, "x")).toDF("k", "v")
    t.commit(df, Map("epoch" -> "1"))
    t.commit(df, Map("epoch" -> "2"))
    val dup = t.commit(df, Map("epoch" -> "2")) // duplicate: newest must win
    t.commit(df, Map("epoch" -> "3"))
    for (e <- Seq("1", "2", "3", "9"))
      assert(t.snapshotForLineage("epoch", e) === scanRef("epoch", e), s"epoch $e")
    assert(t.snapshotForLineage("epoch", "2") === Some(dup))
    // incremental: commits AFTER a lookup are folded in on the next lookup
    val late = t.commit(df, Map("epoch" -> "2"))
    assert(t.snapshotForLineage("epoch", "2") === Some(late))
    // expiry fallback: deleting the newest match's manifest falls back to
    // the next-newest, exactly like the scan would
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "snapshots", s"v$late.json"))
    assert(t.snapshotForLineage("epoch", "2") === Some(dup))
    // wipe + rebuild in place: restarting ids must reset the index, not
    // serve entries from the dead world
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    val t2 = new SnapshotTable(root, spark)
    val fresh = t2.commit(df, Map("epoch" -> "7"))
    assert(fresh === 1L)
    assert(t2.snapshotForLineage("epoch", "7") === Some(fresh))
    assert(t2.snapshotForLineage("epoch", "2") === None, "stale index served a dead world")
  }

  // --- seen set --------------------------------------------------------------

  test("snapshot table: mixed-schema delta chain reads legacy rows as null in new columns") {
    import spark.implicits._
    val t = new SnapshotTable(tmpDir("mixed"), spark)
    // legacy 2-column full commit, then a delta that adds a column — the
    // frontier migration shape (pre-retries dirs under a retries delta)
    t.commit(Seq(("u1", 1.0)).toDF("url", "priority"))
    t.commitDelta(Seq(("u2", 2.0, 5)).toDF("url", "priority", "retries"))
    val r = t.read()
    assert(r.columns.contains("retries"),
      "chain read must use the newest manifest schema, not a sampled footer")
    val byUrl = r.collect().map(row =>
      row.getString(row.fieldIndex("url")) ->
        (if (row.isNullAt(row.fieldIndex("retries"))) None
         else Some(row.getInt(row.fieldIndex("retries"))))).toMap
    assert(byUrl("u1") === None, "legacy rows read the new column as null")
    assert(byUrl("u2") === Some(5))
  }

  test("seen set: exact semantics — no false drops, no leaks") {
    import spark.implicits._
    val root = tmpDir("seen")
    val seen = new SeenSet(root, spark)
    val first = (0L until 5000L).toDF("url_hash")
    seen.add(first)
    val probe = (0L until 10000L).toDF("url_hash")
    val unseen = seen.filterUnseen(probe).as[Long].collect().sorted
    assert(unseen.toSeq === (5000L until 10000L).toSeq)
    // replay safety: re-adding is a no-op on the key count
    seen.add(first)
    assert(seen.keys().count() === 5000L)
  }

  test("seen set: adds are incremental deltas; compaction keeps exactness") {
    import spark.implicits._
    val root = tmpDir("seeninc")
    val seen = new SeenSet(root, spark, expectedKeys = 1000)
    seen.add((0L until 5000L).toDF("url_hash"))
    val m1 = seen.table.manifest(seen.table.currentSnapshotId.get).get
    assert(!m1.has("data_dirs"), "first add is a full commit")
    // second add: only the delta is committed — parent files untouched
    seen.add((4000L until 8000L).toDF("url_hash"))
    val m2 = seen.table.manifest(seen.table.currentSnapshotId.get).get
    assert(m2.has("data_dirs") && m2.get("data_dirs").size() === 2,
      "second add must be a delta commit chaining the parent dir")
    assert(m2.get("delta_rows").asLong === 3000L, "delta holds only NEW keys")
    assert(m2.get("row_count").asLong === 8000L)
    assert(seen.keys().count() === 8000L)
    // replayed add: empty delta, no key-count change
    seen.add((0L until 8000L).toDF("url_hash"))
    assert(seen.table.manifest(seen.table.currentSnapshotId.get)
      .get.get("delta_rows").asLong === 0L)
    assert(seen.keys().count() === 8000L)
    // outgrow the fixed bloom capacity (first build sized ~20k): the add
    // rebuilds every shard of its snapshot at 4x the accumulated count
    seen.add((8000L until 40000L).toDF("url_hash"))
    val idc = seen.table.currentSnapshotId.get
    val mc = seen.table.manifest(idc).get
    assert((0 until 16).forall(s => Files.exists(ShardFiles.path(ShardFiles.Bloom, root, idc, s))),
      "outgrown capacity must write all 16 shards of the snapshot")
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Paths.get(root, "snapshots", "bloom-meta.json").toFile)
    assert(meta.get("per_shard").asLong >= 4L * 40000 / 16,
      "outgrown shards must be rebuilt at 4x the key count")
    assert(mc.get("row_count").asLong === 40000L)
    // exactness end-to-end after deltas + compaction
    val unseen = seen.filterUnseen((39000L until 41000L).toDF("url_hash"))
      .as[Long].collect().sorted.toSeq
    assert(unseen === (40000L until 41000L).toSeq)
  }

  test("seen set: the add that lands on a compacting commit rebuilds every shard, stays exact") {
    import spark.implicits._
    val root = tmpDir("seenchain")
    val seen = new SeenSet(root, spark, expectedKeys = 1000)
    // small adds: every shard build takes the driver arm
    (0 until 65).foreach(i => seen.add((i * 10L until i * 10L + 10).toDF("url_hash")))
    val id = seen.table.currentSnapshotId.get
    // the 65th add found a 64-dir chain: ONE commit, a compacting one
    assert(seen.table.lineage(id).get("compaction") === Some("true"))
    assert(seen.table.dataDirs(id).size === 1)
    assert(seen.table.rowCount(id) === Some(650L) && seen.table.deltaRows(id) === Some(10L))
    assert(id === 65L, "one key-table commit per add")
    // every shard holds every key of its shard, at the recorded capacity
    val perShard = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Paths.get(root, "snapshots", "bloom-meta.json").toFile)
      .get("per_shard").asLong
    (0 until 16).foreach { s =>
      val expected = org.apache.spark.util.sketch.BloomFilter.create(perShard, SeenSet.DefaultFpp)
      (0L until 650L).filter(SeenSet.shardOf(_, 16) == s).foreach(expected.putLong)
      val out = new java.io.ByteArrayOutputStream()
      expected.writeTo(out)
      assert(ShardFiles.read(ShardFiles.Bloom, root, id, s).sameElements(out.toByteArray),
        s"shard $s differs from a fresh build of its keys")
    }
    val unseen = seen.filterUnseen((600L until 700L).toDF("url_hash")).as[Long].collect().sorted
    assert(unseen.toSeq === (650L until 700L))
    // the next add chains onto the compacted snapshot and stays exact
    seen.add((650L until 660L).toDF("url_hash"))
    val next = seen.table.currentSnapshotId.get
    assert(seen.table.dataDirs(next).size === 2)
    assert(seen.filterUnseen((640L until 700L).toDF("url_hash")).as[Long].collect().sorted.toSeq ===
      (660L until 700L))
    assert(seen.keys().count() === 660L)
  }

  test("bloom probe: executor cache keeps at most two generations per shard") {
    import spark.implicits._
    val root = tmpDir("seencache")
    val seen = new SeenSet(root, spark)
    seen.add((0L until 100L).toDF("url_hash"))
    val id1 = seen.table.currentSnapshotId.get
    seen.add((100L until 200L).toDF("url_hash"))
    val id2 = seen.table.currentSnapshotId.get
    seen.add((200L until 300L).toDF("url_hash"))
    val id3 = seen.table.currentSnapshotId.get
    val f1 = graft.frontier.BloomProbe.filterFor(root, id1, 0)
    val f2 = graft.frontier.BloomProbe.filterFor(root, id2, 0)
    assert(f1 ne f2)
    // two in-flight generations (pipelined epochs) are BOTH cache hits
    assert(graft.frontier.BloomProbe.filterFor(root, id2, 0) eq f2)
    assert(graft.frontier.BloomProbe.filterFor(root, id1, 0) eq f1)
    // a third generation evicts the oldest, keeping the two newest
    val f3 = graft.frontier.BloomProbe.filterFor(root, id3, 0)
    assert(graft.frontier.BloomProbe.filterFor(root, id3, 0) eq f3)
    assert(graft.frontier.BloomProbe.filterFor(root, id2, 0) eq f2)
    val f1again = graft.frontier.BloomProbe.filterFor(root, id1, 0)
    assert(f1again ne f1, "oldest generation must have been evicted")
  }

  test("filterUnseen: single frontier scan, probe codegen-compiles, exact result") {
    import spark.implicits._
    val seen = new SeenSet(tmpDir("seen1scan"), spark)
    seen.add((0L until 1000L).toDF("url_hash"))
    val fDir = tmpDir("frontier1scan")
    (500L until 1500L).toDF("url_hash").write.mode("overwrite").parquet(fDir)
    val frontier = spark.read.parquet(fDir)
    val out = seen.filterUnseen(frontier)
    // CODEGEN_ONLY forbids the silent interpreted fallback: if
    // BloomMightContain's doGenCode emitted uncompilable Java this throws.
    // The prior state is restored, unset when it was unset: an explicitly
    // set key would pin every later small crawl epoch on this shared
    // session to compiled execution.
    val prior = spark.sessionState.conf.getAllConfs.get("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val got = out.as[Long].collect().sorted.toSeq
      assert(got === (1000L until 1500L).toSeq)
    } finally prior.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
      spark.conf.set("spark.sql.codegen.factoryMode", _))
    // ONE scan of the frontier source (round 1's two complementary filters
    // scanned it twice); the probe rides the scan→join stage
    val plan = out.queryExecution.executedPlan.toString
    val frontierScans = plan.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains(new java.io.File(fDir).getName))
    assert(frontierScans === 1, s"expected 1 frontier scan, plan:\n$plan")
    assert(plan.contains("bloom_might_contain"), "probe missing from the plan")
  }

  test("filterUnseenPersisted: keys-side prune, byte-equal to the lazy path") {
    import spark.implicits._
    val seen = new SeenSet(tmpDir("seenprune"), spark)
    seen.add((0L until 5000L).toDF("url_hash"))
    val frontier = (2500L until 7500L).toDF("url_hash")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val lazyRows = seen.filterUnseen(frontier).as[Long].collect().sorted.toSeq
      val pruned = seen.filterUnseenPersisted(frontier)
      assert(pruned.as[Long].collect().sorted.toSeq === lazyRows)
      assert(lazyRows === (5000L until 7500L).toSeq)
      // the key table feeds a semi join against the broadcast maybes — the
      // plan shape that keeps 10^10 keys out of the exchange
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("LeftSemi"), s"keys-side prune missing:\n$plan")
      // count-skip path: a manifest-exact rowBound under the cap proves the
      // prune safe with NO gating count job — same rows, same pruned shape
      val bounded = seen.filterUnseenPersisted(frontier, rowBound = 5000L)
      assert(bounded.as[Long].collect().sorted.toSeq === lazyRows)
      assert(bounded.queryExecution.executedPlan.toString.contains("LeftSemi"))
      // oversized maybe set: falls back to the unpruned plan, same rows
      spark.conf.set("graft.bcastSeenMax", "1")
      try {
        val fb = seen.filterUnseenPersisted(frontier)
        assert(fb.as[Long].collect().sorted.toSeq === lazyRows)
        assert(!fb.queryExecution.executedPlan.toString.contains("LeftSemi"))
        // a rowBound over the cap must not force the prune either — the
        // count job runs and the oversized maybes still fall back
        val fb2 = seen.filterUnseenPersisted(frontier, rowBound = 5000L)
        assert(fb2.as[Long].collect().sorted.toSeq === lazyRows)
        assert(!fb2.queryExecution.executedPlan.toString.contains("LeftSemi"))
      } finally spark.conf.unset("graft.bcastSeenMax")
    } finally frontier.unpersist(blocking = false)
  }

  test("seen set: rollback restores earlier membership exactly") {
    import spark.implicits._
    val root = tmpDir("seenrb")
    val seen = new SeenSet(root, spark)
    seen.add((0L until 100L).toDF("url_hash"))
    val v1 = seen.table.currentSnapshotId.get
    seen.add((100L until 200L).toDF("url_hash"))
    assert(seen.keys().count() === 200)
    seen.rollbackTo(v1)
    assert(seen.keys().count() === 100)
    // rolled-back keys schedule again; retained keys stay deduped
    val unseen = seen.filterUnseen((0L until 200L).toDF("url_hash"))
      .as[Long].collect().sorted.toSeq
    assert(unseen === (100L until 200L).toSeq)
  }

  test("expireSnapshots: old generations deleted, retained delta chains stay readable") {
    import spark.implicits._
    val root = tmpDir("expire")
    val seen = new SeenSet(root, spark, expectedKeys = 100000) // roomy: no compaction
    seen.add((0L until 1000L).toDF("url_hash"))    // v1 full
    seen.add((1000L until 2000L).toDF("url_hash")) // v2 delta (chain s1,s2)
    seen.add((2000L until 3000L).toDF("url_hash")) // v3 delta (chain s1,s2,s3)
    assert(seen.expire(keepLast = 1) === 2)
    // the retained delta snapshot still reads its FULL chain (s1 referenced)
    assert(seen.keys().count() === 3000L)
    assert(seen.table.manifest(1L).isEmpty && seen.table.manifest(2L).isEmpty)
    assert(Files.exists(java.nio.file.Paths.get(root, "data", "s1")))
    // expired sidecars deleted; current generation's retained
    assert(!Files.exists(java.nio.file.Paths.get(root, "snapshots", "bloom-v1-s0.bin")))
    assert(Files.exists(java.nio.file.Paths.get(root, "snapshots", "bloom-v3-s0.bin")))
    // adds stay INCREMENTAL after expiry (current sidecars present → delta path)
    seen.add((3000L until 4000L).toDF("url_hash"))
    val m = seen.table.manifest(seen.table.currentSnapshotId.get).get
    assert(m.has("data_dirs"), "post-expiry add must still be a delta commit")
    assert(m.get("delta_rows").asLong === 1000L)
    val unseen = seen.filterUnseen((3500L until 4500L).toDF("url_hash"))
      .as[Long].collect().sorted.toSeq
    assert(unseen === (4000L until 4500L).toSeq)
    // full-commit table: unreferenced expired data dirs are deleted
    val t2 = new SnapshotTable(s"$root/full", spark)
    t2.commit(Seq(1L).toDF("x")); t2.commit(Seq(2L).toDF("x")); t2.commit(Seq(3L).toDF("x"))
    assert(t2.expireSnapshots(2) === 1)
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/full", "data", "s1")))
    assert(t2.readAt(2).as[Long].collect().toSeq === Seq(2L))
    assert(t2.read().as[Long].collect().toSeq === Seq(3L))
  }

  test("seen set: retract tombstones keys until re-added (cuckoo deletion path)") {
    import spark.implicits._
    val root = tmpDir("seenretract")
    val seen = new SeenSet(root, spark)
    seen.add((0L until 5000L).toDF("url_hash"))
    // retract a failed-fetch batch + a never-seen key (ignored as a no-op)
    seen.retract(Seq(10L, 20L, 30L, 999999L).toDF("url_hash"))
    val afterRetract = seen.filterUnseen((0L until 5100L).toDF("url_hash"))
      .as[Long].collect().sorted.toSeq
    assert(afterRetract === (Seq(10L, 20L, 30L) ++ (5000L until 5100L)).sorted,
      "retracted keys must be unseen again; nothing else may leak")
    // second retract accumulates
    seen.retract(Seq(40L).toDF("url_hash"))
    assert(seen.filterUnseen(Seq(40L).toDF("url_hash")).count() === 1)
    // re-add clears tombstones IN PLACE (cuckoo delete, no rebuild) and the
    // delta holds only genuinely-new keys — re-added ones are already in the
    // key table
    seen.add(Seq(10L, 20L, 5500L).toDF("url_hash"))
    assert(seen.table.manifest(seen.table.currentSnapshotId.get)
      .get.get("delta_rows").asLong === 1L, "re-added keys must not re-commit")
    val afterReAdd = seen.filterUnseen((0L until 5100L).toDF("url_hash"))
      .as[Long].collect().sorted.toSeq
    assert(afterReAdd === (Seq(30L, 40L) ++ (5000L until 5100L)).sorted,
      "re-added keys are seen again; still-retracted keys stay unseen")
    // raw key table is append-only; effective membership excludes tombstones
    assert(seen.keys().count() === 5001L)
    assert(seen.liveKeys().count() === 4999L)
  }

  test("seen set: 10^6-key retraction builds sharded cuckoo sidecars on executors") {
    import spark.implicits._
    val root = tmpDir("seenbig")
    val seen = new SeenSet(root, spark)
    seen.add(spark.range(1200000L).select(col("id").as("url_hash")))
    // retract a mostly-failed epoch's worth of keys — the scale case the
    // driver-side build OOM'd on; keys must never be collect()ed
    val tid = seen.retract(spark.range(1000000L).select(col("id").as("url_hash")))
    // all 16 shard sidecars written for the tombstone snapshot
    assert((0 until SeenSet.ShardCount).forall(s => java.nio.file.Files.exists(
      ShardFiles.path(ShardFiles.Cuckoo, s"$root/tombstones", tid, s))))
    // retracted keys are unseen again; non-retracted stay seen
    val probeIn = spark.range(1200000L).select(col("id").as("url_hash"))
    assert(seen.filterUnseen(probeIn).count() === 1000000L)
    assert(seen.liveKeys().count() === 200000L)
    // re-add half: per-shard in-place deletion, untouched shards carried over
    seen.add(spark.range(500000L).select(col("id").as("url_hash")))
    assert(seen.filterUnseen(probeIn).count() === 500000L)
    assert(seen.liveKeys().count() === 700000L)
  }

  test("cuckoo shard builds: driver and executor paths write identical sidecar bytes") {
    import spark.implicits._
    // same retract + partial re-add lifecycle under each build path (driver
    // fast path vs per-shard executor tasks, including the in-place edit and
    // the untouched-shard carry-over); keys are sorted within each shard on
    // both paths, so the written files must match byte-for-byte
    def buildWith(driverMax: String): String = {
      val root = tmpDir("seencuckoo")
      spark.conf.set("graft.shardDriverMax", driverMax)
      try {
        val seen = new SeenSet(root, spark)
        seen.add((0L until 60000L).toDF("url_hash"))
        seen.retract((0L until 50000L).toDF("url_hash"))
        seen.add((10000L until 20000L).toDF("url_hash")) // clears a subset
        // a re-add whose keys all land in shard 0: one shard is edited, the
        // other 15 are carried over
        seen.add((20000L until 50000L by 16L).toDF("url_hash"))
        seen.add(Seq.empty[Long].toDF("url_hash")) // zero-row re-add
        root
      } finally spark.conf.unset("graft.shardDriverMax")
    }
    val rootDriver = buildWith("1000000")
    val rootDist = buildWith("-1") // below every row bound, even a zero one
    def sidecars(root: String): Seq[String] =
      new java.io.File(s"$root/tombstones/snapshots").listFiles
        .filter(_.getName.startsWith("cuckoo-v")).map(_.getName).sorted.toSeq
    assert(sidecars(rootDriver) === sidecars(rootDist))
    assert(sidecars(rootDriver).nonEmpty)
    sidecars(rootDriver).foreach { f =>
      val a = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(rootDriver, "tombstones", "snapshots", f))
      val b = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(rootDist, "tombstones", "snapshots", f))
      assert(java.util.Arrays.equals(a, b), s"$f differs between build paths")
    }
    // distributed-path membership stays exact after the lifecycle
    val seen = new SeenSet(rootDist, spark)
    // unseen = retracted-and-not-readded = [0,10000) ∪ [20000,50000),
    // less the 1875 shard-0 keys of [20000,50000)
    assert(seen.filterUnseen(
      (0L until 60000L).toDF("url_hash")).count() === 38125L)
  }

  test("bloom shard builds: driver and executor paths write identical sidecar bytes") {
    import spark.implicits._
    // same add sequence (first build + delta merge) under each build path;
    // Bloom bits are an OR-set, so placement/order must not change the files
    def buildWith(driverMax: String): String = {
      val root = tmpDir("seenbloom")
      spark.conf.set("graft.shardDriverMax", driverMax)
      try {
        val seen = new SeenSet(root, spark)
        seen.add((0L until 60000L).toDF("url_hash"))
        seen.add((50000L until 70000L).toDF("url_hash"))
        // a delta whose keys all land in shard 0: 15 shards merge no keys
        seen.add((70000L until 80000L by 16L).toDF("url_hash"))
        seen.add((0L until 100L).toDF("url_hash")) // zero-row re-add
        root
      } finally spark.conf.unset("graft.shardDriverMax")
    }
    val rootDriver = buildWith("1000000") // everything on the driver
    // everything distributed, per-shard tasks — even the zero-row delta
    val rootDist = buildWith("-1")
    def sidecars(root: String): Seq[String] =
      new java.io.File(s"$root/snapshots").listFiles
        .filter(_.getName.startsWith("bloom-v")).map(_.getName).sorted.toSeq
    assert(sidecars(rootDriver) === sidecars(rootDist))
    assert(sidecars(rootDriver).nonEmpty)
    sidecars(rootDriver).foreach { f =>
      val a = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(rootDriver, "snapshots", f))
      val b = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(rootDist, "snapshots", f))
      assert(java.util.Arrays.equals(a, b), s"$f differs between build paths")
    }
    // and the distributed-build set answers membership exactly
    val seen = new SeenSet(rootDist, spark)
    // unseen = [70000,80000) less its 625 shard-0 keys
    assert(seen.filterUnseen(
      (0L until 80000L).toDF("url_hash")).count() === 9375L)
  }

  test("probe cache byte cap: membership stays exact under eviction, residency bounded") {
    import spark.implicits._
    import graft.frontier.BloomProbe
    // baseline from an uncapped set at one root…
    val seenA = new SeenSet(tmpDir("seencapA"), spark)
    seenA.add((0L until 20000L).toDF("url_hash"))
    val uncapped = seenA.filterUnseen((0L until 40000L).toDF("url_hash"))
      .as[Long].collect().sorted.toSeq
    assert(uncapped === (20000L until 40000L).toSeq)
    // …then a FRESH root probed under a cap far below one shard, so every
    // shard load triggers eviction (the budget is enforced on insert; the
    // hit path carries no bookkeeping). Answers must be identical — an
    // evicted shard is a re-read, never a wrong answer.
    val seenB = new SeenSet(tmpDir("seencapB"), spark)
    seenB.add((0L until 20000L).toDF("url_hash"))
    BloomProbe.setBudgetForTest(Some(1L))
    try {
      val capped = seenB.filterUnseen((0L until 40000L).toDF("url_hash"))
        .as[Long].collect().sorted.toSeq
      assert(capped === uncapped)
      val (entries, bytes) = BloomProbe.cacheStats
      assert(entries <= 1, s"cap must bound resident shards, saw $entries")
      assert(bytes <= 1L * 1024 * 1024)
    } finally BloomProbe.setBudgetForTest(None)
  }

  test("filterUnseen plans: the probe is never inferred onto the key-table side") {
    // InferFiltersFromConstraints could copy the bloom_might_contain
    // predicate from the anti-join condition onto the KEYS side — at scale
    // that re-probes every committed key every epoch. Pin the shape: every
    // probe filter must sit over the frontier (in-memory/local data here),
    // never over the key table's file scan.
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    def probeFiltersOverFiles(df: org.apache.spark.sql.DataFrame): Seq[Filter] =
      df.queryExecution.optimizedPlan.collect {
        case f: Filter if f.condition.exists(
            _.getClass.getSimpleName == "BloomMightContain") &&
          f.child.collectLeaves().exists(
            _.getClass.getSimpleName.startsWith("LogicalRelation")) => f
      }
    val root = tmpDir("seenshape")
    val seen = new SeenSet(root, spark)
    seen.add((0L until 5000L).toDF("url_hash"))
    val lazyBad = probeFiltersOverFiles(
      seen.filterUnseen((0L until 10000L).toDF("url_hash")))
    assert(lazyBad.isEmpty,
      s"probe filter inferred over the key table's file scan:\n${lazyBad.mkString("\n")}")
    val frontier = (0L until 10000L).toDF("url_hash").persist()
    try {
      val pruned = seen.filterUnseenPersisted(frontier)
      // sanity: the pruned plan DOES carry probe filters (over the frontier)
      val all = pruned.queryExecution.optimizedPlan.collect {
        case f: Filter if f.condition.exists(
          _.getClass.getSimpleName == "BloomMightContain") => f
      }
      assert(all.nonEmpty, "expected the maybes probe filter in the pruned plan")
      val bad = probeFiltersOverFiles(pruned)
      assert(bad.isEmpty,
        s"probe filter inferred over the key table's file scan:\n${bad.mkString("\n")}")
    } finally frontier.unpersist(blocking = false)
  }

  test("cuckoo probe: executor cache keeps at most two generations per shard") {
    import spark.implicits._
    val root = tmpDir("seengen")
    val seen = new SeenSet(root, spark)
    seen.add((0L until 3000L).toDF("url_hash"))
    val t1 = seen.retract((0L until 100L).toDF("url_hash"))
    val t2 = seen.retract((100L until 200L).toDF("url_hash"))
    val t3 = seen.retract((200L until 300L).toDF("url_hash"))
    val tombRoot = s"$root/tombstones"
    // two in-flight generations (pipelined epochs) are BOTH cache hits; a
    // third evicts the oldest — same discipline as the Bloom shard cache
    import graft.frontier.CuckooProbe.filterFor
    val f1 = filterFor(tombRoot, t1, 0)
    val f2 = filterFor(tombRoot, t2, 0)
    assert(f1 ne f2)
    assert(filterFor(tombRoot, t2, 0) eq f2)
    assert(filterFor(tombRoot, t1, 0) eq f1)
    val f3 = filterFor(tombRoot, t3, 0)
    assert(filterFor(tombRoot, t3, 0) eq f3)
    assert(filterFor(tombRoot, t2, 0) eq f2)
    assert(filterFor(tombRoot, t1, 0) ne f1, "oldest generation must have been evicted")
  }

  // --- scheduler determinism + politeness -------------------------------------

  test("scheduler: identical schedule at different parallelism and partitioning") {
    val seeds = SyntheticCorpus.seedUrls(spark, 3000, pageCount = 2000)
    def runAt(shufflePartitions: Int, inputParts: Int): Seq[Row3] = {
      spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
      try {
        val emptySeen = new SeenSet(tmpDir("s"), spark)
        Scheduler.scheduleEpoch(seeds.repartition(inputParts), emptySeen,
          Some(SyntheticCorpus.robots(spark)), budgetPerHost = 3)
          .select(col("canon_url"), col("priority"), col("host_rank"))
          .collect()
          .map(r => Row3(r.getString(0), r.getDouble(1), r.getInt(2)))
          .sortBy(r => (r.canon, r.rank)).toSeq
      } finally spark.conf.set("spark.sql.shuffle.partitions", 4)
    }
    val a = runAt(4, 3)
    val b = runAt(32, 17)
    assert(a === b, "schedule differs across parallelism")
    assert(a.nonEmpty)
  }

  test("robots gate: byte-equal schedule on broadcast and fallback hash-join paths") {
    val seeds = SyntheticCorpus.seedUrls(spark, 3000, pageCount = 2000)
    val robots = SyntheticCorpus.robots(spark)
    // Pin every auto-broadcast lever off so the fallback path genuinely
    // exercises the non-broadcast physical join, as it would at 10^8 hosts.
    def runWith(robotsHosts: Long, noAutoBcast: Boolean): (Seq[(String, Int)], String) = {
      val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold").map(k =>
        k -> spark.conf.getOption(k))
      try {
        if (noAutoBcast) saved.foreach { case (k, _) => spark.conf.set(k, "-1") }
        val emptySeen = new SeenSet(tmpDir("s"), spark)
        val sch = Scheduler.scheduleEpoch(seeds, emptySeen, Some(robots),
          budgetPerHost = 3, robotsHosts = robotsHosts)
        val rows = sch.select(col("canon_url"), col("host_rank")).collect()
          .map(r => (r.getString(0), r.getInt(1))).sortBy(identity).toSeq
        (rows, sch.queryExecution.executedPlan.toString)
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    val (bcastRows, bcastPlan) = runWith(robotsHosts = 64L, noAutoBcast = true)
    val (hashRows, hashPlan) = runWith(robotsHosts = Long.MaxValue, noAutoBcast = true)
    assert(bcastPlan.contains("BroadcastHashJoin"),
      "known-small robots side must take the broadcast path")
    assert(!hashPlan.contains("BroadcastHashJoin"),
      "unknown/large robots side must fall back to a non-broadcast join")
    assert(bcastRows === hashRows, "schedule differs between join strategies")
    assert(bcastRows.nonEmpty)
    // robots actually gated (every 7th host disallows its /page/1* range):
    // no disallowed row survives, while /page/1* rows on ungated hosts do.
    def siteNo(u: String) = u.replaceAll("^http://site", "").replaceAll("\\..*", "").toInt
    def path(u: String) = u.replaceAll("^http://[^/]*", "")
    val page1 = bcastRows.filter { case (u, _) => path(u).startsWith("/page/1") }
    assert(page1.nonEmpty, "corpus must schedule some /page/1* rows on ungated hosts")
    val disallowed = page1.filter { case (u, _) => siteNo(u) % 7 == 0 }
    assert(disallowed.isEmpty, s"robots-disallowed rows scheduled: ${disallowed.take(3)}")
  }

  test("scheduler: politeness budget never exceeded per host") {
    val seeds = SyntheticCorpus.seedUrls(spark, 5000, pageCount = 1000)
    val emptySeen = new SeenSet(tmpDir("s"), spark)
    val sch = Scheduler.scheduleEpoch(seeds, emptySeen, None, budgetPerHost = 2)
    val over = sch.groupBy(col("host")).count().filter(col("count") > 2).count()
    assert(over === 0)
    assert(sch.count() > 0)
  }

  test("scheduler: adversarial hot host (90% skew) respects budget and stays salted") {
    import spark.implicits._
    val hot = (0 until 45000).map(i => (s"http://hot.example/p/$i", i.toDouble))
    val cold = (0 until 5000).map(i => (s"http://cold${i % 50}.example/p/$i", i.toDouble))
    val seeds = (hot ++ cold).toDF("url", "priority")
    val emptySeen = new SeenSet(tmpDir("s"), spark)
    val sch = Scheduler.scheduleEpoch(seeds, emptySeen, None, budgetPerHost = 10)
    val byHost = sch.groupBy("host").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byHost("hot.example") === 10)
    assert(byHost.values.forall(_ <= 10))
    // the budget picks the globally best rows of the hot host deterministically
    val hotTop = sch.filter(col("host") === "hot.example")
      .select("priority").collect().map(_.getDouble(0)).sorted.toSeq
    assert(hotTop === (44990 until 45000).map(_.toDouble))
  }

  test("scheduler: canonicalization collapses seed variants") {
    val seeds = SyntheticCorpus.seedUrls(spark, 2000, pageCount = 100)
    val n = Scheduler.normalize(seeds)
    // every canonical url is a clean lowercase page url
    val bad = n.filter(!col("canon_url").rlike("^http://site[0-9]+\\.example/page/[0-9]+$")).count()
    assert(bad === 0)
    // at most one row per canonical url
    assert(n.groupBy("canon_url").count().filter(col("count") > 1).count() === 0)
  }

  case class Row3(canon: String, priority: Double, rank: Int)
}
