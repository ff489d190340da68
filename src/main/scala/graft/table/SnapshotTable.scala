package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

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
  * }}}
  *
  * No Iceberg jars exist in this zero-egress image (SURVEY §7 environment
  * facts), so this layer substitutes for them behind one class; the commit
  * protocol is the same idea (manifest written to a temp name, then an
  * atomic rename flips `current`). The reference's completion markers
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

  def manifest(id: Long): Option[JsonNode] = {
    val p = snapDir.resolve(s"v$id.json")
    if (Files.exists(p)) Some(mapper.readTree(p.toFile)) else None
  }

  /** Highest manifest id on disk. May exceed [[currentSnapshotId]]: after a
    * rollback, or when a pipelined EARLIER epoch's commit lands after a later
    * one (the pointer never regresses to an older epoch — see
    * [[commitInternal]]). New ids are allocated past this, so rolled-back or
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
      val live = hits.filter(h => Files.exists(snapDir.resolve(s"v$h.json")))
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
    // serialize commits per table ROOT (not per instance): pipelined epochs
    // commit to the same table from different SnapshotTable instances, and
    // the id = current+1 / pointer flip sequence must not interleave
    SnapshotTable.rootLock(root).synchronized {
    Files.createDirectories(snapDir)
    val parent = currentSnapshotId
    // allocate past the highest manifest ever written, not past `current`:
    // after a rollback (current < max) a naive current+1 would collide with
    // and clobber an existing snapshot's manifest
    val id = math.max(parent.getOrElse(0L), maxManifestId.getOrElse(0L)) + 1L
    // a newly-allocated id at or below the lineage index's watermark means
    // the root was WIPED and rebuilt in place (ids restarting from 1): the
    // index describes a dead world — reset it before this commit lands
    locally {
      val idx = SnapshotTable.lineageIndex(root)
      idx.synchronized {
        if (id <= idx.scanned) { idx.scanned = 0L; idx.byKV.clear() }
      }
    }
    val dir = dataDir(id)
    val writer = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(dir.toString)

    // per-partition (per-file) lineage & metrics straight from the parquet
    // footers — a driver-side metadata read, not a Spark job (the commit path
    // is on the serial critical path of every epoch)
    val files = Files.walk(dir).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(_.toString).toSeq.sorted
    val fileCounts = files.map(f => f -> footerRowCount(f))
    val deltaRows = fileCounts.map(_._2).sum
    val parentDirs = if (delta) parent.map(dataDirs).getOrElse(Nil) else Nil
    val parentRows =
      if (delta)
        parent.flatMap(manifest).map(_.get("row_count").asLong).getOrElse(0L)
      else 0L
    val rowCount = parentRows + deltaRows

    val m: ObjectNode = mapper.createObjectNode()
    m.put("snapshot_id", id)
    m.put("parent_id", parent.getOrElse(0L))
    m.put("row_count", rowCount)
    m.put("delta_rows", deltaRows)
    m.put("data_dir", dir.toString)
    // schema recorded so an all-empty snapshot stays readable: a partitioned
    // write of zero rows produces NO part files, which would otherwise make
    // the read un-inferable (a drained crawl epoch is legitimate state)
    m.put("schema_json", df.schema.json)
    if (delta) {
      val dd: ArrayNode = m.putArray("data_dirs")
      (parentDirs :+ dir.toString).foreach(dd.add)
    }
    // per-partition (per-file) lineage + metrics (north rule)
    val fa: ArrayNode = m.putArray("files")
    fileCounts.foreach { case (f, n) =>
      val o = fa.addObject()
      o.put("path", f)
      o.put("rows", n)
    }
    val lin = m.putObject("lineage")
    lineage.foreach { case (k, v) => lin.put(k, v) }

    val tmp = snapDir.resolve(s"v$id.json.tmp")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(m))
    Files.move(tmp, snapDir.resolve(s"v$id.json"), StandardCopyOption.ATOMIC_MOVE)

    // For epochOrdered (sink) tables only: `current` never regresses to an
    // OLDER epoch — pipelined epochs commit out of completion order, and a
    // reader of `current` must see the newest epoch's snapshot, not the
    // last-landed one. A commit whose epoch lineage is older than the
    // current snapshot's is fully recorded (manifest + data; readable via
    // readAt/snapshotForLineage) but leaves the pointer.
    def epochOf(sid: Long): Option[Long] =
      manifest(sid).flatMap { mm =>
        if (mm.has("lineage") && mm.get("lineage").has("epoch"))
          scala.util.Try(mm.get("lineage").get("epoch").asText.toLong).toOption
        else None
      }
    val regresses = epochOrdered && (for {
      cur <- parent
      curEpoch <- epochOf(cur)
      newEpoch <- lineage.get("epoch").flatMap(s => scala.util.Try(s.toLong).toOption)
    } yield newEpoch < curEpoch).getOrElse(false)
    if (!regresses) {
      val curTmp = snapDir.resolve("current.tmp")
      Files.write(curTmp, id.toString.getBytes(StandardCharsets.UTF_8))
      Files.move(curTmp, snapDir.resolve("current"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    id
  }

  /** Manifest-only commit of an EMPTY snapshot with a known schema: no
    * Spark job, no data files — [[readAt]] serves `row_count == 0`
    * manifests straight from `schema_json`. For sink tables in an epoch
    * that produced nothing (a drained crawl), where even a zero-row
    * distributed write costs a job on the serial epoch floor. */
  def commitEmpty(schemaJson: String,
      lineage: Map[String, String] = Map.empty): Long =
    commitManifestOnly(lineage) { (m, id, _) =>
      m.put("row_count", 0L)
      m.put("delta_rows", 0L)
      m.put("data_dir", dataDir(id).toString)
      m.put("schema_json", schemaJson)
      m.putArray("files")
      ()
    }

  /** Manifest-only commit that CARRIES the parent snapshot's content
    * verbatim — same data dirs, same row count, no Spark job, no data
    * copy. For state tables an empty epoch leaves untouched but whose
    * lineage must still advance (the epoch happened; resume and metrics
    * look its snapshot up by lineage). [[expireSnapshots]] keeps the
    * carried dirs alive while any referencing manifest is retained. */
  def commitCarry(lineage: Map[String, String] = Map.empty): Long =
    commitManifestOnly(lineage) { (m, _, parent) =>
      val pm = parent.flatMap(manifest).getOrElse(
        sys.error(s"carry commit requires a parent snapshot in $root"))
      m.put("row_count", pm.get("row_count").asLong)
      m.put("delta_rows", 0L)
      m.put("data_dir", pm.get("data_dir").asText)
      if (pm.has("data_dirs"))
        m.set[JsonNode]("data_dirs", pm.get("data_dirs").deepCopy[JsonNode]())
      if (pm.has("schema_json"))
        m.put("schema_json", pm.get("schema_json").asText)
      if (pm.has("files"))
        m.set[JsonNode]("files", pm.get("files").deepCopy[JsonNode]())
      ()
    }

  /** Shared manifest-write + pointer-flip protocol of the job-free commits
    * (same locking, id allocation, wipe-guard and epoch-ordering rules as
    * [[commitInternal]]). */
  private def commitManifestOnly(lineage: Map[String, String])(
      populate: (ObjectNode, Long, Option[Long]) => Unit): Long =
    SnapshotTable.rootLock(root).synchronized {
      Files.createDirectories(snapDir)
      val parent = currentSnapshotId
      val id = math.max(parent.getOrElse(0L), maxManifestId.getOrElse(0L)) + 1L
      locally {
        val idx = SnapshotTable.lineageIndex(root)
        idx.synchronized {
          if (id <= idx.scanned) { idx.scanned = 0L; idx.byKV.clear() }
        }
      }
      val m: ObjectNode = mapper.createObjectNode()
      m.put("snapshot_id", id)
      m.put("parent_id", parent.getOrElse(0L))
      populate(m, id, parent)
      val lin = m.putObject("lineage")
      lineage.foreach { case (k, v) => lin.put(k, v) }
      val tmp = snapDir.resolve(s"v$id.json.tmp")
      Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(m))
      Files.move(tmp, snapDir.resolve(s"v$id.json"), StandardCopyOption.ATOMIC_MOVE)
      def epochOf(sid: Long): Option[Long] =
        manifest(sid).flatMap { mm =>
          if (mm.has("lineage") && mm.get("lineage").has("epoch"))
            scala.util.Try(mm.get("lineage").get("epoch").asText.toLong).toOption
          else None
        }
      val regresses = epochOrdered && (for {
        cur <- parent
        curEpoch <- epochOf(cur)
        newEpoch <- lineage.get("epoch").flatMap(s => scala.util.Try(s.toLong).toOption)
      } yield newEpoch < curEpoch).getOrElse(false)
      if (!regresses) {
        val curTmp = snapDir.resolve("current.tmp")
        Files.write(curTmp, id.toString.getBytes(StandardCharsets.UTF_8))
        Files.move(curTmp, snapDir.resolve("current"),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      }
      id
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

  /** Record that a named intra-job stage finished (atomic marker file). */
  def markStage(epoch: Long, stage: String): Unit = {
    val p = Paths.get(root, "stages")
    Files.createDirectories(p)
    val tmp = p.resolve(s"e$epoch-$stage.tmp")
    Files.write(tmp, Array.emptyByteArray)
    Files.move(tmp, p.resolve(s"e$epoch-$stage"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def stageDone(epoch: Long, stage: String): Boolean =
    Files.exists(Paths.get(root, "stages", s"e$epoch-$stage"))
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
