package graft.crawl

import graft.functions.GraftFunctions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** File-backed page store partitioned by url-hash bucket — the fetch-side
  * analog of the bucketed IVF layout (`Ann.ivfWriteBucketed`): the corpus is
  * laid out ONCE as `bucket=<k>/` parquet partitions with
  * `bucket = url_hash mod nBuckets`, and an epoch whose schedule touches few
  * buckets reads ONLY those partitions.
  *
  * Why it exists (measured, round 4): with the corpus as a cached DataFrame,
  * the fetch and link-rederivation joins scan the ENTIRE page corpus every
  * epoch regardless of schedule size — a 60-row tail epoch on a 1M-page
  * corpus still paid five 0.3-0.6 s full-scan jobs (`SPARK_GRAFT_JOBSTATS`
  * attribution). At the 100 TB target that shape reads the whole store to
  * fetch 0.1% of it. Partition pruning is exact here because every join the
  * epoch runs against the corpus keys on `page_hash = url_hash`: a match for
  * a scheduled row can only live in that row's bucket, so restricting the
  * scan to the schedule's buckets drops no hits, and the anti/semi joins
  * (misses, links) are computed against a corpus superset of all possible
  * matches. Byte-equality with the unpruned path is spec-asserted.
  *
  * Big schedules (more rows than `graft.pageStorePruneMax`) skip the prune:
  * their bucket coverage approaches 100% and the distinct-buckets job would
  * buy nothing.
  */
object PageStore {

  /** Rows under this schedule size attempt bucket pruning (above it the
    * schedule touches ~every bucket anyway). */
  def pruneMax(spark: SparkSession): Long =
    graft.core.GraftConf.longKnob(spark,
      "graft.pageStorePruneMax", "SPARK_GRAFT_PAGESTORE_PRUNE_MAX", 1000000L)

  def bucketOf(urlHash: Column, nBuckets: Int): Column =
    pmod(urlHash, lit(nBuckets)).cast("int")

  private def metaPath(path: String) = Paths.get(path, "_graft_buckets")

  private def metaLines(path: String): Array[String] =
    new String(Files.readAllBytes(metaPath(path))).split("\n", 2)

  /** Number of buckets the store at `path` was written with. */
  def bucketCount(path: String): Int = metaLines(path)(0).trim.toInt

  /** The caller-supplied corpus fingerprint recorded at write time (empty
    * when none was given). */
  def storedFingerprint(path: String): String =
    metaLines(path).lift(1).getOrElse("").trim

  /** True when `path` holds a complete store written with exactly this
    * bucket count and fingerprint — the reuse gate: a store written for a
    * different corpus or layout must be rewritten, not silently served
    * (stale-store reads would 404 every page the old corpus lacked). */
  def matches(path: String, nBuckets: Int, fingerprint: String): Boolean =
    Files.exists(metaPath(path)) &&
      bucketCount(path) == nBuckets && storedFingerprint(path) == fingerprint

  /** One-time layout: `pages` (url, html, …) → parquet partitioned by
    * `bucket = url_hash64(url) mod nBuckets`, columns pre-shaped for the
    * fetch join (`page_url`, `page_hash` — no per-epoch re-hash).
    * `fingerprint` is any caller-chosen corpus identity string (row count,
    * snapshot id…) checked by [[matches]] on reuse. */
  def write(pages: DataFrame, path: String, nBuckets: Int,
      fingerprint: String = ""): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    GraftFunctions.register(pages.sparkSession)
    val shaped = pages
      .withColumnsRenamed(Map("url" -> "page_url"))
      .withColumn("page_hash", GraftFunctions.urlHash64(col("page_url")))
    shaped
      .withColumn("bucket", bucketOf(col("page_hash"), nBuckets))
      // shuffle rows to their bucket BEFORE the partitioned write: without
      // this every write task opens a file in every bucket dir it sees —
      // tasks × nBuckets small files (measured: a 4096-bucket layout of a
      // 1M-page corpus stalled for >10 min opening ~131k parquet writers).
      // After the repartition each bucket is one task → one file.
      .repartition(nBuckets, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    // one write-time listing → a single-file catalog: every subsequent read
    // (pruned or not) plans from ONE JSON read instead of nBuckets directory
    // listings + schema inference — the dominant cost of small pruned reads
    // at local scale, and millions of object-store LIST calls at 100 TB
    graft.sources.ManifestParquet.writeManifest(path, "bucket", shaped.schema)
    graft.table.AtomicFile.replace(metaPath(path), s"$nBuckets\n$fingerprint".getBytes)
  }

  /** The store as an epoch's corpus frame (shape of CrawlEpoch's
    * `pagesHashed`), pruned to the buckets `scheduled`'s url hashes touch
    * when the schedule is small enough to bother. `schedRows` is the
    * manifest-exact schedule row count — never a counting job. */
  def readForSchedule(spark: SparkSession, path: String, scheduled: DataFrame,
      schedRows: Long): DataFrame = {
    val n = bucketCount(path)
    // plan from the single-file catalog when present (stores written before
    // the manifest existed fall back to directory listing); the bucket
    // isin-filter below reaches ManifestFileIndex as a partition filter —
    // pruning is an in-memory array filter, zero filesystem listings
    val all =
      if (graft.sources.ManifestParquet.hasManifest(path))
        graft.sources.ManifestParquet.read(spark, path)
      else spark.read.parquet(path)
    val pruned =
      if (schedRows <= pruneMax(spark)) {
        import spark.implicits._
        // distinct buckets of the schedule: one narrow job over epoch-sized
        // input, output bounded by nBuckets ints
        val buckets = scheduled
          .select(bucketOf(col("url_hash"), n).as("b")).distinct()
          .as[Int].collect()
        if (buckets.length < n)
          all.where(col("bucket").isin(buckets.map(Integer.valueOf).toSeq: _*))
        else all
      } else all
    pruned.drop("bucket")
  }
}
