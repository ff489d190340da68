package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import graft.frontier.ShardFiles

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import org.apache.hadoop.fs.{FileStatus, Path => HPath}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import scala.jdk.CollectionConverters._

/** Minimal Iceberg-style snapshot table over Parquet: versioned snapshots,
  * atomic commits, per-partition lineage + metrics, time-travel reads, and
  * mid-job resume markers.
  *
  * Layout:
  * {{{
  *   <root>/data/s<snapshotId>/...parquet      (immutable per-snapshot data dirs)
  *   <root>/snapshots/v<id>.json               (manifest: every data file of the
  *                                              snapshot with rows and bytes —
  *                                              the read catalog — counts, lineage)
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

  /** The lineage recorded for snapshot `id` (empty when it has none or the
    * manifest is gone). */
  def lineage(id: Long): Map[String, String] =
    manifest(id).flatMap(m => Option(m.get("lineage"))).fold(Map.empty[String, String])(l =>
      l.fieldNames().asScala.map(k => k -> l.get(k).asText).toMap)

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
    * chain of data directories (`data_dirs`) and inherits the parent's file
    * entries, so [[read]] scans the whole chain from this one manifest — the
    * parent's files are never rewritten. This
    * is the Iceberg fast-append pattern: per-epoch commit cost is
    * O(delta), not O(table). The table bounds the chain itself: when the
    * parent's chain already holds [[SnapshotTable.MaxChainLength]] dirs,
    * this commit writes parent + `df` into one dir instead — a full
    * snapshot with lineage `compaction -> true` — so every read plans at
    * most that many dirs, and expiry frees the old chain once no retained
    * manifest lists it. `delta_rows` is always the rows this commit added.
    * With no parent this is a full commit, like [[commit]]; a full commit
    * also starts a fresh single-dir chain. */
  def commitDelta(df: DataFrame, lineage: Map[String, String] = Map.empty): Long =
    commitInternal(df, lineage, Nil, delta = true)

  /** All data directories of snapshot `id` (the delta chain, or the single
    * dir of a full commit). */
  def dataDirs(id: Long): Seq[String] = manifest(id).fold(Seq.empty[String])(dirsOf)

  private def dirsOf(m: JsonNode): Seq[String] =
    if (m.has("data_dirs")) m.get("data_dirs").elements().asScala.map(_.asText).toSeq
    else Seq(m.get("data_dir").asText)

  /** Find the snapshot whose manifest lineage has `key` → `value` (newest
    * first) — e.g. the out-table snapshot of a given epoch when commits from
    * pipelined epochs may land out of order. The scan starts at the highest
    * manifest, not `current` (an out-of-order pipelined commit may have an
    * id above the pointer), so the engine's lookups — always for the epoch
    * it just committed — read one manifest, or two under pipelining. */
  def snapshotForLineage(key: String, value: String): Option[Long] = {
    val top = math.max(currentSnapshotId.getOrElse(return None),
      maxManifestId.getOrElse(0L))
    (top to 1L by -1L).find(id => lineage(id).get(key).contains(value))
  }

  private def commitInternal(df: DataFrame, lineage: Map[String, String],
      partitionBy: Seq[String], delta: Boolean): Long = {
    require(partitionBy.size <= 1, s"at most one partition column, got $partitionBy")
    publish { (m, id, parent) =>
      // a delta chains onto its parent's dirs, unless that chain is full:
      // then the parent's content and `df` are rewritten into one dir
      val pm = if (delta) parent.flatMap(manifest) else None
      val chain = pm.fold(Seq.empty[String])(dirsOf)
      val compact = chain.size >= SnapshotTable.MaxChainLength
      val chained = chain.nonEmpty && !compact
      val data =
        if (compact) readAt(parent.get).unionByName(df, allowMissingColumns = true) else df
      val dir = dataDir(id)
      val writer = data.write.mode(SaveMode.Overwrite)
      (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
        .parquet(dir.toString)
      // per-file rows (parquet footers) and bytes — a driver-side metadata
      // read, not a Spark job (the commit path is on the serial critical
      // path of every epoch). These entries are the snapshot's catalog:
      // [[readAt]] plans its scan from them instead of listing directories.
      val walk = Files.walk(dir)
      val files =
        try walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
        finally walk.close()
      val counted = files.map(f => (f, footerRowCount(f.toString)))
      val written = counted.map(_._2).sum
      val parentRows = pm.fold(0L)(_.get("row_count").asLong)
      val rows = if (chained) parentRows + written else written
      m.put("row_count", rows)
      m.put("delta_rows", rows - parentRows)
      m.put("data_dir", dir.toString)
      // schema recorded so an all-empty snapshot stays readable: a
      // partitioned write of zero rows produces NO part files, which would
      // otherwise make the read un-inferable (a drained crawl epoch is
      // legitimate state)
      m.put("schema_json", data.schema.json)
      partitionBy.foreach(m.put("partition_col", _))
      if (chained) {
        val dd: ArrayNode = m.putArray("data_dirs")
        (chain :+ dir.toString).foreach(dd.add)
      }
      val fa: ArrayNode = m.putArray("files")
      // a delta's catalog is its parent's entries plus its own files
      if (chained) pm.flatMap(p => Option(p.get("files")))
        .foreach(_.elements().asScala.foreach(fa.add))
      counted.foreach { case (f, n) =>
        val o = fa.addObject()
        o.put("path", f.toString)
        o.put("rows", n)
        o.put("bytes", Files.size(f))
        // `<col>=<value>/part-…`: the file's int partition value
        partitionBy.foreach(_ =>
          o.put("partition", f.getParent.getFileName.toString.split("=", 2)(1).toInt))
      }
      if (compact) lineage + ("compaction" -> "true") else lineage
    }
  }

  /** The one manifest-only commit: an EMPTY snapshot typed like the
    * current one (its recorded schema and partition column), no Spark job,
    * no data files — [[readAt]] plans a scan of no files. For tables in an
    * epoch that provably produced nothing (a drained crawl's schedule, out
    * and frontier), where even a zero-row distributed write costs a job on
    * the serial epoch floor, and whose lineage must still advance (resume
    * and metrics look the epoch's snapshot up by lineage). None, and
    * nothing written, when there is no current snapshot with a recorded
    * schema to copy (the caller takes its general path, which records one). */
  def commitEmpty(lineage: Map[String, String] = Map.empty): Option[Long] =
    currentSnapshotId.flatMap(manifest).filter(_.has("schema_json")).map { cur =>
      publish { (m, id, _) =>
        m.put("row_count", 0L)
        m.put("delta_rows", 0L)
        m.put("data_dir", dataDir(id).toString)
        Seq("schema_json", "partition_col").filter(cur.has)
          .foreach(f => m.set[JsonNode](f, cur.get(f)))
        m.putArray("files")
        lineage
      }
    }

  /** THE publish path — every commit goes through it, under the per-root
    * lock (pipelined epochs commit to one table from different instances,
    * so the sequence below must not interleave):
    *   1. allocate the id past the highest manifest ever written, not past
    *      `current` — after a rollback (current < max) current+1 would
    *      collide with an existing snapshot;
    *   2. `content(manifest, id, parent)` adds the content fields (a data
    *      commit writes its parquet here first) and returns the lineage;
    *   3. the manifest is created EXCLUSIVELY — a snapshot id is never
    *      overwritten, by this process or another one sharing the root;
    *   4. the `current` pointer flips, unless this is an epoch-ordered
    *      table and the commit's epoch is older than the current one's —
    *      pipelined epochs land out of completion order, and a reader of
    *      `current` must see the newest epoch. Such a commit is still fully
    *      recorded (readable via [[readAt]] / [[snapshotForLineage]]).
    * A crash before 3 leaves only an orphan data dir (a re-run overwrites
    * it); a crash between 3 and 4 leaves a manifest the pointer skips. */
  private def publish(
      content: (ObjectNode, Long, Option[Long]) => Map[String, String]): Long =
    SnapshotTable.rootLock(root).synchronized {
      val parent = currentSnapshotId
      val id = math.max(parent.getOrElse(0L), maxManifestId.getOrElse(0L)) + 1L
      val m: ObjectNode = mapper.createObjectNode()
      m.put("snapshot_id", id)
      m.put("parent_id", parent.getOrElse(0L))
      val lineage = content(m, id, parent)
      val lin = m.putObject("lineage")
      lineage.foreach { case (k, v) => lin.put(k, v) }
      AtomicFile.createExclusive(manifestPath(id),
        mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(m))
      val regresses = epochOrdered && (for {
        cur <- parent
        curEpoch <- this.lineage(cur).get("epoch").flatMap(_.toLongOption)
        newEpoch <- lineage.get("epoch").flatMap(_.toLongOption)
      } yield newEpoch < curEpoch).getOrElse(false)
      if (!regresses) setCurrent(id)
      id
    }

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

  /** Time-travel read of a specific snapshot (unions the delta chain),
    * planned from the manifest's file entries. A snapshot with zero rows
    * may have no parquet files at all (empty partitioned write, or a
    * [[commitEmpty]]); its scan has no files and the recorded schema, typed
    * like every other read of the table. */
  def readAt(id: Long): DataFrame = {
    val m = existingManifest(id)
    scan(m, dirsOf(m), _ => true)
  }

  /** Only the rows snapshot `id` itself wrote: for a delta commit, the
    * delta without its parent chain (for a compacting one, the whole
    * rewritten table). */
  def readDelta(id: Long): DataFrame = {
    val m = existingManifest(id)
    val own = Paths.get(m.get("data_dir").asText)
    scan(m, Seq(own.toString), p => Paths.get(p).startsWith(own))
  }

  private def existingManifest(id: Long): JsonNode =
    manifest(id).getOrElse(sys.error(s"no snapshot $id in $root"))

  private def schemaOf(m: JsonNode): Option[StructType] =
    Option(m.get("schema_json")).map(j => DataType.fromJson(j.asText).asInstanceOf[StructType])

  /** A file source reads every column as nullable, at every depth. */
  private def asNullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.map(f => f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(asNullable(m.keyType), asNullable(m.valueType), valueContainsNull = true)
    case o => o
  }

  /** The parquet scan of manifest `m`'s file entries whose path passes
    * `keep`, through [[ManifestFileIndex]]: no directory listing, no schema
    * inference. The shape equals `spark.read.schema(recorded).parquet(dirs)`
    * — nullable data columns, the partition column last. */
  private def scan(m: JsonNode, dirs: Seq[String], keep: String => Boolean): DataFrame = {
    val schema = schemaOf(m)
    val files = Option(m.get("files")).map(_.elements().asScala
      .filter(e => keep(e.get("path").asText)).toSeq)
    (schema, files) match {
      case (Some(s), Some(fs)) if fs.forall(_.has("bytes")) =>
        val partCol = Option(m.get("partition_col")).map(_.asText)
        val (parts, data) = asNullable(s).asInstanceOf[StructType]
          .partition(f => partCol.contains(f.name))
        val (partSchema, dataSchema) = (StructType(parts), StructType(data))
        val byPartition = fs.groupBy(e => if (partCol.isDefined) e.get("partition").asInt else 0)
          .toSeq.sortBy(_._1).map { case (k, es) =>
            k -> es.map(e => new FileStatus(e.get("bytes").asLong, false, 1, 128L << 20, 0L,
              new HPath(new java.io.File(e.get("path").asText).toURI))).toArray
          }
        val index = new ManifestFileIndex(
          dirs.map(d => new HPath(new java.io.File(d).toURI)), partSchema, byPartition)
        val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        session.baseRelationToDataFrame(HadoopFsRelation(index, partSchema, dataSchema,
          bucketSpec = None, new ParquetFileFormat, options = Map.empty)(session))
      case _ =>
        // a manifest written before file entries carried sizes (or with no
        // entries at all): list its directories. Pinned to the recorded
        // schema — a delta chain whose older dirs predate a column must read
        // legacy rows as NULL there, where footer inference could drop it.
        schema.fold(spark.read)(spark.read.schema(_)).parquet(dirs: _*)
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

  /** Delta-chain length at which [[SnapshotTable.commitDelta]] compacts
    * (bounds every read's dirs and file list, and what expiry keeps). */
  private val MaxChainLength: Int = 64
}
