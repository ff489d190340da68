package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import graft.frontier.ShardFiles

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import scala.jdk.CollectionConverters._

/** Minimal Iceberg-style snapshot table over Parquet: versioned snapshots,
  * atomic commits, per-partition lineage + metrics, time-travel reads, and
  * mid-job resume markers.
  *
  * Layout:
  * {{{
  *   <root>/data/s<snapshotId>/...parquet      (immutable per-snapshot data dirs)
  *   <root>/snapshots/v<id>.json               (manifest: files, counts, lineage)
  *   <root>/snapshots/current                  (atomic pointer, rename-committed)
  *   <root>/stages/e<epoch>-<stage>            (resume markers)
  * }}}
  *
  * No Iceberg jars exist in this zero-egress image (SURVEY §7 environment
  * facts), so this layer substitutes for them behind one class; the commit
  * protocol is the same idea (manifest created exclusively, then an atomic
  * rename flips `current` — one locked path, [[publish]], with every file
  * written through [[AtomicFile]]). The reference's completion markers
  * (`slurm_check_completed.py:8-41`) map to snapshot ids; its resume-at-
  * record-index (`retry_warc.py:80-101`) maps to idempotent re-runs of an
  * uncommitted snapshot — a crashed job leaves `current` untouched.
  */
/** @param epochOrdered when true, the `current` pointer never regresses to
  *        a snapshot whose `epoch` lineage is OLDER than the current one's —
  *        for sink tables written out-of-order by pipelined epochs (the out
  *        table), where "current" must mean "newest epoch". State tables
  *        (frontier, seen, scheduled) must NOT set this: their latest commit
  *        is always the truth regardless of which epoch's maintenance wrote
  *        it (e.g. a requeue delta for an old epoch). */
final class SnapshotTable(val root: String, spark: SparkSession,
    epochOrdered: Boolean = false) {

  private val mapper = new ObjectMapper()
  private def snapDir: Path = Paths.get(root, "snapshots")
  private def dataDir(id: Long): Path = Paths.get(root, "data", s"s$id")

  def currentSnapshotId: Option[Long] = {
    val cur = snapDir.resolve("current")
    if (Files.exists(cur)) Some(new String(Files.readAllBytes(cur), StandardCharsets.UTF_8).trim.toLong)
    else None
  }

  private def manifestPath(id: Long): Path = snapDir.resolve(s"v$id.json")

  def manifest(id: Long): Option[JsonNode] = {
    val p = manifestPath(id)
    if (Files.exists(p)) Some(mapper.readTree(p.toFile)) else None
  }

  // --- typed manifest reads (callers never parse manifest JSON) -------------

  /** Exact row count of snapshot `id` — its whole delta chain — known
    * without a Spark job. */
  def rowCount(id: Long): Option[Long] = manifest(id).map(_.get("row_count").asLong)

  /** [[rowCount]] of the current snapshot. */
  def currentRowCount: Option[Long] = currentSnapshotId.flatMap(rowCount)

  /** Rows snapshot `id` itself added (all of them for a full commit). */
  def deltaRows(id: Long): Option[Long] = manifest(id).map(_.get("delta_rows").asLong)

  /** The data directory holding only snapshot `id`'s own rows (for a delta
    * commit: the delta, without its parent chain). */
  def deltaDir(id: Long): Option[String] = manifest(id).map(_.get("data_dir").asText)

  /** The Spark schema (JSON) recorded for snapshot `id`. */
  private def schemaJson(id: Long): Option[String] =
    manifest(id).filter(_.has("schema_json")).map(_.get("schema_json").asText)

  /** Highest manifest id on disk. May exceed [[currentSnapshotId]]: after a
    * rollback, or when a pipelined EARLIER epoch's commit lands after a later
    * one (the pointer never regresses to an older epoch — see
    * [[publish]]). New ids are allocated past this, so rolled-back or
    * out-of-order snapshots are never overwritten. */
  private def maxManifestId: Option[Long] =
    if (!Files.exists(snapDir)) None
    else {
      val stream = Files.list(snapDir)
      val ids =
        try stream.iterator().asScala
          .map(_.getFileName.toString)
          .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
            s.stripPrefix("v").stripSuffix(".json")
          }
          .flatMap(s => scala.util.Try(s.toLong).toOption)
          .toSeq
        finally stream.close()
      if (ids.isEmpty) None else Some(ids.max)
    }

  /** Commit `df` as the next snapshot. The data is written to a fresh
    * snapshot-private directory first; the manifest + `current` pointer flip
    * only after a successful write, so readers never observe partial data
    * and a re-run of a failed commit is idempotent (the orphan dir is
    * overwritten). Returns the new snapshot id.
    *
    * @param lineage  free-form provenance recorded in the manifest
    *                 (e.g. epoch number, input snapshot ids)
    */
  def commit(df: DataFrame, lineage: Map[String, String] = Map.empty,
      partitionBy: Seq[String] = Nil): Long =
    commitInternal(df, lineage, partitionBy, delta = false)

  /** Append-only commit: `df` holds only NEW rows; the snapshot's logical
    * content is the parent snapshot plus `df`. The manifest records the full
    * chain of data directories (`data_dirs`) so [[read]] unions them with one
    * multi-path parquet scan — the parent's files are never rewritten. This
    * is the Iceberg fast-append pattern: per-epoch commit cost is
    * O(delta), not O(table). Mixing with [[commit]] is allowed: a full
    * commit starts a fresh single-dir chain (compaction). */
  def commitDelta(df: DataFrame, lineage: Map[String, String] = Map.empty): Long =
    commitInternal(df, lineage, Nil, delta = true)

  /** All data directories of snapshot `id` (the delta chain, or the single
    * dir of a full commit). */
  def dataDirs(id: Long): Seq[String] =
    manifest(id) match {
      case Some(m) if m.has("data_dirs") =>
        m.get("data_dirs").elements().asScala.map(_.asText).toSeq
      case Some(m) => Seq(m.get("data_dir").asText)
      case None => Nil
    }

  /** Find the snapshot whose manifest lineage has `key` → `value` (newest
    * first) — e.g. the out-table snapshot of a given epoch when commits from
    * pipelined epochs may land out of order. */
  def snapshotForLineage(key: String, value: String): Option[Long] = {
    // search from the highest manifest, not `current`: an out-of-order
    // pipelined commit may have an id above the pointer
    val cur = math.max(currentSnapshotId.getOrElse(return None),
      maxManifestId.getOrElse(0L))
    val idx = SnapshotTable.lineageIndex(root)
    idx.synchronized {
      // fold manifests committed since the last lookup into the index —
      // the only per-call cost that grows, and it grows with NEW commits
      var id = idx.scanned + 1
      while (id <= cur) {
        manifest(id).foreach { m =>
          if (m.has("lineage")) {
            val lin = m.get("lineage")
            lin.fieldNames().asScala.foreach { k =>
              val kv = (k, lin.get(k).asText)
              idx.byKV(kv) = id :: idx.byKV.getOrElse(kv, Nil)
            }
          }
        }
        id += 1
      }
      idx.scanned = math.max(idx.scanned, cur)
      val hits = idx.byKV.getOrElse((key, value), Nil)
      // lazily shed expired entries (existence check, no JSON read); the
      // `<= cur` guard keeps rollback semantics identical to the old scan,
      // which never looked above the current ceiling
      val live = hits.filter(h => Files.exists(manifestPath(h)))
      if (live.size != hits.size) idx.byKV((key, value)) = live
      // verify the hit's manifest still carries the requested key/value
      // (one JSON read per RETURNED hit only): if another process wiped and
      // rebuilt this root with reused ids, a stale index entry can pass the
      // existence check while pointing at a new-world snapshot with
      // different lineage (ADVICE r5) — fall through to the next candidate
      live.find(h => h <= cur && manifest(h).exists(m =>
        m.has("lineage") && m.get("lineage").has(key) &&
          m.get("lineage").get(key).asText == value))
    }
  }

  private def commitInternal(df: DataFrame, lineage: Map[String, String],
      partitionBy: Seq[String], delta: Boolean): Long =
    publish(lineage) { (m, id, parent) =>
      val dir = dataDir(id)
      val writer = df.write.mode(SaveMode.Overwrite)
      (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
        .parquet(dir.toString)
      // per-partition (per-file) lineage & metrics straight from the parquet
      // footers — a driver-side metadata read, not a Spark job (the commit
      // path is on the serial critical path of every epoch)
      val files = Files.walk(dir).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(_.toString).toSeq.sorted
      val fileCounts = files.map(f => f -> footerRowCount(f))
      val deltaRows = fileCounts.map(_._2).sum
      val parentRows = if (delta) parent.flatMap(rowCount).getOrElse(0L) else 0L
      m.put("row_count", parentRows + deltaRows)
      m.put("delta_rows", deltaRows)
      m.put("data_dir", dir.toString)
      // schema recorded so an all-empty snapshot stays readable: a
      // partitioned write of zero rows produces NO part files, which would
      // otherwise make the read un-inferable (a drained crawl epoch is
      // legitimate state)
      m.put("schema_json", df.schema.json)
      if (delta) {
        val dd: ArrayNode = m.putArray("data_dirs")
        (parent.map(dataDirs).getOrElse(Nil) :+ dir.toString).foreach(dd.add)
      }
      // per-partition (per-file) lineage + metrics (north rule)
      val fa: ArrayNode = m.putArray("files")
      fileCounts.foreach { case (f, n) =>
        val o = fa.addObject()
        o.put("path", f)
        o.put("rows", n)
      }
    }

  /** Manifest-only commit of an EMPTY snapshot typed like the current one
    * (its recorded schema): no Spark job, no data files — [[readAt]] serves
    * `row_count == 0` manifests straight from `schema_json`. For sink tables
    * in an epoch that provably produced nothing (a drained crawl), where
    * even a zero-row distributed write costs a job on the serial epoch
    * floor. None, and nothing written, when there is no current snapshot
    * with a recorded schema to copy (the caller takes its general path,
    * which records one). */
  def commitEmpty(lineage: Map[String, String] = Map.empty): Option[Long] =
    currentSnapshotId.flatMap(schemaJson).map { schema =>
      publish(lineage) { (m, id, _) =>
        m.put("row_count", 0L)
        m.put("delta_rows", 0L)
        m.put("data_dir", dataDir(id).toString)
        m.put("schema_json", schema)
        m.putArray("files")
      }
    }

  /** Manifest-only commit that CARRIES the parent snapshot's content
    * verbatim — same data dirs, same row count, no Spark job, no data
    * copy. For state tables an empty epoch leaves untouched but whose
    * lineage must still advance (the epoch happened; resume and metrics
    * look its snapshot up by lineage). [[expireSnapshots]] keeps the
    * carried dirs alive while any referencing manifest is retained. */
  def commitCarry(lineage: Map[String, String] = Map.empty): Long =
    publish(lineage) { (m, _, parent) =>
      val pm = parent.flatMap(manifest).getOrElse(
        sys.error(s"carry commit requires a parent snapshot in $root"))
      m.put("row_count", pm.get("row_count").asLong)
      m.put("delta_rows", 0L)
      m.put("data_dir", pm.get("data_dir").asText)
      Seq("data_dirs", "schema_json", "files").filter(pm.has).foreach(f =>
        m.set[JsonNode](f, pm.get(f).deepCopy[JsonNode]()))
    }

  /** THE publish path — every commit goes through it, under the per-root
    * lock (pipelined epochs commit to one table from different instances,
    * so the sequence below must not interleave):
    *   1. allocate the id past the highest manifest ever written, not past
    *      `current` — after a rollback (current < max) current+1 would
    *      collide with an existing snapshot;
    *   2. wipe guard: an id at or below the lineage index's watermark means
    *      the root was WIPED and rebuilt in place (ids restarting from 1),
    *      so the index describes a dead world — reset it;
    *   3. `content(manifest, id, parent)` adds the content fields (a data
    *      commit writes its parquet here first);
    *   4. the manifest is created EXCLUSIVELY — a snapshot id is never
    *      overwritten, by this process or another one sharing the root;
    *   5. the `current` pointer flips, unless this is an epoch-ordered
    *      table and the commit's epoch is older than the current one's —
    *      pipelined epochs land out of completion order, and a reader of
    *      `current` must see the newest epoch. Such a commit is still fully
    *      recorded (readable via [[readAt]] / [[snapshotForLineage]]).
    * A crash before 4 leaves only an orphan data dir (a re-run overwrites
    * it); a crash between 4 and 5 leaves a manifest the pointer skips. */
  private def publish(lineage: Map[String, String])(
      content: (ObjectNode, Long, Option[Long]) => Unit): Long =
    SnapshotTable.rootLock(root).synchronized {
      val parent = currentSnapshotId
      val id = math.max(parent.getOrElse(0L), maxManifestId.getOrElse(0L)) + 1L
      val idx = SnapshotTable.lineageIndex(root)
      idx.synchronized {
        if (id <= idx.scanned) { idx.scanned = 0L; idx.byKV.clear() }
      }
      val m: ObjectNode = mapper.createObjectNode()
      m.put("snapshot_id", id)
      m.put("parent_id", parent.getOrElse(0L))
      content(m, id, parent)
      val lin = m.putObject("lineage")
      lineage.foreach { case (k, v) => lin.put(k, v) }
      AtomicFile.createExclusive(manifestPath(id),
        mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(m))
      val regresses = epochOrdered && (for {
        cur <- parent
        curEpoch <- epochOf(cur)
        newEpoch <- lineage.get("epoch").flatMap(_.toLongOption)
      } yield newEpoch < curEpoch).getOrElse(false)
      if (!regresses) setCurrent(id)
      id
    }

  private def epochOf(id: Long): Option[Long] =
    manifest(id).flatMap(m => Option(m.get("lineage")).flatMap(l => Option(l.get("epoch"))))
      .flatMap(_.asText.toLongOption)

  private def setCurrent(id: Long): Unit =
    AtomicFile.replace(snapDir.resolve("current"), id.toString.getBytes(StandardCharsets.UTF_8))

  /** Point `current` back at an earlier snapshot (epoch rollback), under
    * the same lock and through the same pointer write as a commit. Later
    * snapshots stay on disk; the next commit allocates past them. */
  def rollbackTo(id: Long): Unit =
    SnapshotTable.rootLock(root).synchronized {
      require(Files.exists(manifestPath(id)), s"no snapshot $id in $root")
      setCurrent(id)
    }

  /** Expire all but the newest `keepLast` snapshots (Iceberg
    * `expire_snapshots` maintenance): deletes their manifests, their
    * per-snapshot sidecar files ([[ShardFiles.snapshotOf]]), and
    * any data directory no RETAINED snapshot references — delta chains list
    * ancestor dirs in their own manifest (`data_dirs`), so a retained delta
    * snapshot keeps its whole chain readable. Without expiry a per-epoch
    * full-commit table (the frontier) grows O(epochs × table size) on disk
    * forever. The `current` snapshot is always retained. Returns the number
    * of snapshots expired. Time-travel below the horizon is gone by design;
    * callers choose per-table policy (output tables are never expired —
    * their snapshots ARE the data). */
  def expireSnapshots(keepLast: Int): Int =
    SnapshotTable.rootLock(root).synchronized {
      require(keepLast >= 1, "must retain at least the current snapshot")
      val cur = currentSnapshotId.getOrElse(return 0)
      val maxId = math.max(cur, maxManifestId.getOrElse(0L))
      val all = (1L to maxId).filter(id => manifest(id).isDefined)
      val cutoff = maxId - keepLast
      val retained = all.filter(id => id > cutoff || id == cur)
      val referencedDirs = retained.flatMap(dataDirs).toSet
      val expired = all.filterNot(retained.contains)
      val snapFiles = {
        val s = Files.list(snapDir)
        try s.iterator().asScala.toSeq finally s.close()
      }
      expired.foreach { id =>
        val dir = dataDir(id)
        if (!referencedDirs.contains(dir.toString) && Files.exists(dir)) {
          val w = Files.walk(dir)
          val paths = try w.iterator().asScala.toSeq finally w.close()
          paths.reverse.foreach(p => Files.deleteIfExists(p))
        }
        snapFiles.filter { p =>
          val n = p.getFileName.toString
          n == s"v$id.json" || ShardFiles.snapshotOf(n).contains(id)
        }.foreach(Files.deleteIfExists)
      }
      expired.size
    }

  private def footerRowCount(path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(path), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getRecordCount finally reader.close()
  }

  /** Read the current snapshot (empty schema-less failure if none). */
  def read(): DataFrame = readAt(
    currentSnapshotId.getOrElse(sys.error(s"no committed snapshot in $root")))

  /** Time-travel read of a specific snapshot (unions the delta chain).
    * A snapshot with zero rows may have no parquet files at all (empty
    * partitioned write); it is served as an empty frame with the manifest's
    * recorded schema. */
  def readAt(id: Long): DataFrame = {
    val m = manifest(id)
    val empty = m.exists(n => n.has("row_count") && n.get("row_count").asLong == 0L)
    val schemaJson = m.filter(_.has("schema_json")).map(_.get("schema_json").asText)
    val schema = schemaJson.map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    if (empty && schema.isDefined) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema.get)
    } else {
      val dirs = dataDirs(id)
      // Pin the read to the manifest's recorded schema: a delta chain whose
      // older dirs predate a column (e.g. a legacy 2-column frontier under a
      // retries-bearing delta) must read legacy rows as NULL in that column.
      // Un-pinned, spark.read.parquet samples ONE file's footer for the
      // schema and can drop the new column for the whole chain. Also skips
      // footer schema inference on the serial per-epoch read path.
      val reader = schema.fold(spark.read)(s => spark.read.schema(s))
      if (dirs.isEmpty) reader.parquet(dataDir(id).toString)
      else reader.parquet(dirs: _*)
    }
  }

  def exists: Boolean = currentSnapshotId.isDefined

  // --- stage markers (mid-epoch resume) -------------------------------------

  private def marker(epoch: Long, stage: String): Path =
    Paths.get(root, "stages", s"e$epoch-$stage")

  /** Record that a named intra-job stage finished (atomic marker file). */
  def markStage(epoch: Long, stage: String): Unit =
    AtomicFile.replace(marker(epoch, stage), Array.emptyByteArray)

  def stageDone(epoch: Long, stage: String): Boolean = Files.exists(marker(epoch, stage))
}

object SnapshotTable {
  // per-root commit locks (JVM-wide; cross-process safety comes from the
  // atomic rename protocol, this guards same-JVM pipelined commits)
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private[table] def rootLock(root: String): AnyRef =
    locks.computeIfAbsent(root, _ => new AnyRef)

  /** Per-root lineage→snapshot-ids index, built INCREMENTALLY: a lookup
    * scans only manifests committed since the previous lookup (each
    * manifest JSON is read once per JVM), so [[SnapshotTable
    * .snapshotForLineage]] costs O(new commits) instead of O(all epochs)
    * per call — at a 10^5-epoch crawl the old newest→oldest linear scan was
    * 10^5 driver-side JSON reads per finish(). Manifests are immutable once
    * written (commit protocol), so scanned ranges never need re-reading;
    * EXPIRED (deleted) manifests are dropped lazily at lookup via an
    * existence check, falling back to the next-newest match exactly like
    * the unindexed scan. JVM-wide like the commit locks: pipelined epochs
    * touch one root through many instances. */
  private[table] final class LineageIndex {
    var scanned: Long = 0L // every id in [1, scanned] has been read
    val byKV = scala.collection.mutable.Map.empty[(String, String), List[Long]] // ids descending
  }
  private val lineageIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, LineageIndex]()
  private[table] def lineageIndex(root: String): LineageIndex =
    lineageIndexes.computeIfAbsent(root, _ => new LineageIndex)
}
