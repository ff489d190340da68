package graft.frontier

import java.nio.file.{Files, Path, Paths}

import graft.table.AtomicFile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The SHARDED SIDECARS of a snapshot root — per-snapshot, per-shard filter
  * files — and all of their I/O: naming, the atomic write, the load, the
  * presence check, and the one build path.
  *
  * Layout: `root/snapshots/<kind>-v<id>-s<shard>.bin`, one file per shard of
  * the root's recorded fan-out ([[ShardMeta]]), `shard = url_hash mod S`.
  * Bloom sidecars front the seen set's key table and the per-epoch schedule
  * and image-id prefilters; cuckoo sidecars front the seen set's tombstones.
  * A file is written once per (snapshot, shard) and never edited, so a
  * pointer flip restores the matching filters and expiry deletes them with
  * their snapshot ([[snapshotOf]]).
  *
  * Every shard build goes through [[build]]. It groups the keys by shard —
  * on the driver from a bounded collect when the caller's exact row bound is
  * small, else by shuffling them to ONE TASK PER SHARD — sorts each shard's
  * keys, hands them to a per-shard function, and writes every one of the S
  * shards (empty ones too) through [[AtomicFile.replace]]. Sorting makes
  * order-sensitive filters (cuckoo eviction walks) byte-identical on either
  * arm and at any parallelism; the executor arm never moves anything
  * filter-sized through the driver.
  */
private[graft] object ShardFiles {

  sealed abstract class Kind(val prefix: String)
  case object Bloom extends Kind("bloom")
  case object Cuckoo extends Kind("cuckoo")

  def path(kind: Kind, root: String, id: Long, shard: Int): Path =
    Paths.get(root, "snapshots", s"${kind.prefix}-v$id-s$shard.bin")

  private val SidecarName = "(?:bloom|cuckoo)-v([0-9]+)[-.].*".r

  /** The snapshot id a file under `root/snapshots/` belongs to if it is a
    * sidecar — a shard file, a leftover [[AtomicFile]] tmp of one
    * (`<name>.<uuid>.tmp`), or the legacy unsharded
    * `cuckoo-v<id>.bin` — else None. */
  def snapshotOf(fileName: String): Option[Long] = fileName match {
    case SidecarName(id) => Some(id.toLong)
    case _ => None
  }

  def read(kind: Kind, root: String, id: Long, shard: Int): Array[Byte] =
    Files.readAllBytes(path(kind, root, id, shard))

  /** Whether every shard of snapshot `id` is on disk. A missing one (crash
    * between commit and write) sends callers to their exact-only path. */
  def allPresent(kind: Kind, root: String, id: Long): Boolean =
    (0 until ShardMeta.countFor(root)).forall(s => Files.exists(path(kind, root, id, s)))

  /** Driver-build cap, in rows of the build input: at or under it the keys
    * are collected and the shards built on the driver, which skips a
    * shuffle and a job on the per-epoch floor (tiny deltas, episodic
    * retractions); above it the build is one task per shard. */
  private def driverMax(spark: SparkSession): Long =
    graft.core.GraftConf.longKnob(spark,
      "graft.shardDriverMax", "SPARK_GRAFT_SHARD_DRIVER_MAX", 100000L)

  /** Build AND write all `shardCount` sidecars of snapshot `id` from the
    * `url_hash` column of `keys`. `shardBytes(shard, sortedKeys)` returns
    * one shard's file bytes; it runs in executor tasks on the shuffle arm,
    * so it must capture only plain values. `rowBound` is an upper bound on
    * the rows of `keys` KNOWN WITHOUT A JOB (a manifest's row count; never
    * an optimizer estimate), or Long.MaxValue when none is known: it alone
    * picks the arm, against [[driverMax]]. */
  def build(kind: Kind, root: String, id: Long, keys: DataFrame, shardCount: Int,
      rowBound: Long)(shardBytes: (Int, Array[Long]) => Array[Byte]): Unit = {
    val spark = keys.sparkSession
    import spark.implicits._
    // the fan-out record must exist BEFORE any shard file: probes resolve
    // routing from it, and presence-of-all-shards implies presence-of-record
    ShardMeta.record(root, shardCount)
    val hashes = keys.select(col("url_hash")).as[Long]
    if (rowBound <= driverMax(spark)) {
      val byShard = Array.fill(shardCount)(new scala.collection.mutable.ArrayBuilder.ofLong)
      hashes.collect().foreach(h => byShard(SeenSet.shardOf(h, shardCount)) += h)
      byShard.indices.foreach(s =>
        writeShard(kind, root, id, s, byShard(s).result(), shardBytes))
    } else {
      val sC = shardCount
      hashes.rdd
        .map(h => (SeenSet.shardOf(h, sC), h))
        .partitionBy(new ShardPartitioner(sC))
        .mapPartitionsWithIndex { (shard, it) =>
          writeShard(kind, root, id, shard, it.map(_._2).toArray, shardBytes)
          Iterator.single(shard)
        }
        .collect()
    }
  }

  private def writeShard(kind: Kind, root: String, id: Long, shard: Int,
      keys: Array[Long], shardBytes: (Int, Array[Long]) => Array[Byte]): Unit = {
    java.util.Arrays.sort(keys)
    // replace mode: a speculative duplicate attempt writes the same bytes
    AtomicFile.replace(path(kind, root, id, shard), shardBytes(shard, keys))
  }

  /** Routes pre-computed shard ids to their own partition (identity map);
    * all `n` partitions exist, so empty shards are written too. */
  private final class ShardPartitioner(n: Int) extends org.apache.spark.Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }
}
