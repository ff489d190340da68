package graft.crawl

import graft.functions.GraftFunctions
import graft.table.SnapshotTable

import org.apache.hadoop.fs.FileUtil

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File

import scala.util.Try

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
  * The store is a [[SnapshotTable]] partitioned by `bucket`: one commit
  * whose manifest lists every bucket's files, so reads — pruned or not —
  * plan from that one JSON file instead of listing `nBuckets` directories
  * (BASELINE.md "PageStore manifest catalog": 4096-bucket tail epochs
  * 10–11 s → 2 s). Its lineage records the bucket count and the caller's
  * corpus fingerprint.
  */
object PageStore {

  def bucketOf(urlHash: Column, nBuckets: Int): Column =
    pmod(urlHash, lit(nBuckets)).cast("int")

  /** The store's snapshot and its lineage; an error for a path holding no
    * store, or a store in the layout before it was a snapshot table. */
  private def snapshot(spark: SparkSession,
      path: String): (SnapshotTable, Long, Map[String, String]) = {
    val t = new SnapshotTable(path, spark)
    t.currentSnapshotId.map(id => (t, id, t.lineage(id))).filter(_._3.contains("buckets"))
      .getOrElse(sys.error(s"$path holds no PageStore snapshot; (re)write it with PageStore.write"))
  }

  /** Number of buckets the store at `path` was written with. */
  def bucketCount(path: String): Int =
    snapshot(SparkSession.active, path)._3("buckets").toInt

  /** True when `path` holds a complete store written with exactly this
    * bucket count and fingerprint — the reuse gate: a store written for a
    * different corpus or layout must be rewritten, not silently served
    * (stale-store reads would 404 every page the old corpus lacked). */
  def matches(path: String, nBuckets: Int, fingerprint: String): Boolean =
    Try(snapshot(SparkSession.active, path)._3).toOption.exists(l =>
      l("buckets") == nBuckets.toString && l.get("fingerprint").contains(fingerprint))

  /** One-time layout: `pages` (url, html, …) → parquet partitioned by
    * `bucket = url_hash64(url) mod nBuckets`, columns pre-shaped for the
    * fetch join (`page_url`, `page_hash` — no per-epoch re-hash), committed
    * as one snapshot that replaces whatever was at `path`.
    * `fingerprint` is any caller-chosen corpus identity string (row count,
    * snapshot id…) checked by [[matches]] on reuse. */
  def write(pages: DataFrame, path: String, nBuckets: Int,
      fingerprint: String = ""): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    GraftFunctions.register(pages.sparkSession)
    val shaped = pages
      .withColumnsRenamed(Map("url" -> "page_url"))
      .withColumn("page_hash", GraftFunctions.urlHash64(col("page_url")))
      .withColumn("bucket", bucketOf(col("page_hash"), nBuckets))
      // shuffle rows to their bucket BEFORE the partitioned write: without
      // this every write task opens a file in every bucket dir it sees —
      // tasks × nBuckets small files (measured: a 4096-bucket layout of a
      // 1M-page corpus stalled for >10 min opening ~131k parquet writers).
      // After the repartition each bucket is one task → one file.
      .repartition(nBuckets, col("bucket"))
    FileUtil.fullyDelete(new File(path))
    new SnapshotTable(path, pages.sparkSession).commit(shaped,
      Map("buckets" -> nBuckets.toString, "fingerprint" -> fingerprint),
      partitionBy = Seq("bucket"))
  }

  /** The store as an epoch's corpus frame (shape of CrawlEpoch's
    * `pagesHashed`), pruned to the buckets `scheduled`'s url hashes touch.
    * `schedRows` is the manifest-exact schedule row count — never a
    * counting job. The bucket filter reaches the manifest's file index as a
    * partition filter: pruning is an in-memory filter, no listing. */
  def readForSchedule(spark: SparkSession, path: String, scheduled: DataFrame,
      schedRows: Long): DataFrame = {
    val (t, id, lineage) = snapshot(spark, path)
    val n = lineage("buckets").toInt
    val all = t.readAt(id)
    // r uniform hashes leave n(1 - 1/n)^r of n buckets untouched on
    // average; below one the prune would keep every bucket, so the
    // distinct-buckets job buys nothing
    val pruned =
      if (n * math.pow(1.0 - 1.0 / n, schedRows.toDouble) < 1.0) all
      else {
        import spark.implicits._
        // distinct buckets of the schedule: one narrow job over epoch-sized
        // input, output bounded by nBuckets ints
        val buckets = scheduled
          .select(bucketOf(col("url_hash"), n).as("b")).distinct()
          .as[Int].collect()
        if (buckets.length < n)
          all.where(col("bucket").isin(buckets.map(Integer.valueOf).toSeq: _*))
        else all
      }
    pruned.drop("bucket")
  }
}
