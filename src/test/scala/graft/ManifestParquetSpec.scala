package graft

import graft.crawl.PageStore
import graft.table.SnapshotTable

import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Pins the manifest catalog: a PageStore is a bucket-partitioned
  * [[SnapshotTable]] whose reads plan from the snapshot manifest instead of
  * directory listings — prune correctness, and schema/row equality with the
  * listing-based read. */
class ManifestParquetSpec extends SparkSpecBase {

  private def freshStore(nBuckets: Int): String = {
    import spark.implicits._
    val path = Files.createTempDirectory("maniftest").toString
    val pages = (0L until 5000L)
      .map(i => (s"http://host${i % 7}.example/p/$i", s"<html>$i</html>", s"img-$i"))
      .toDF("url", "html", "image_id")
    PageStore.write(pages, path, nBuckets, fingerprint = "spec")
    path
  }

  private def viaManifest(path: String) = new SnapshotTable(path, spark).read()

  /** The same snapshot read the way it was before the manifest was the
    * catalog: list its data directory, schema pinned to the recorded one. */
  private def viaListing(path: String) = {
    val recorded = new SnapshotTable(path, spark).manifest(1).get.get("schema_json").asText
    spark.read.schema(org.apache.spark.sql.types.DataType.fromJson(recorded)
      .asInstanceOf[org.apache.spark.sql.types.StructType]).parquet(s"$path/data/s1")
  }

  test("manifest read: identical rows and schema to the listing-based read") {
    val path = freshStore(16)
    assert(PageStore.matches(path, 16, "spec"))
    assert(!PageStore.matches(path, 16, "other") && !PageStore.matches(path, 8, "spec"))
    val m = viaManifest(path)
    val l = viaListing(path)
    assert(m.schema === l.schema)
    assert(m.schema.fieldNames.last === "bucket")
    val a = m.orderBy("page_hash").collect().toSeq
    val b = l.orderBy("page_hash").collect().toSeq
    assert(a === b)
    assert(a.size === 5000)
  }

  test("bucket filter reaches the manifest index as a partition filter: only those buckets' files scanned") {
    val path = freshStore(16)
    val pruned = viaManifest(path).where(col("bucket").isin(3, 7))
    // file-level proof: every file the scan actually opened lives under a
    // selected bucket directory — the others were pruned from the manifest
    // entries, no listing involved
    val filesTouched = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSeq
    assert(filesTouched.nonEmpty)
    filesTouched.foreach(f =>
      assert(f.contains("bucket=3/") || f.contains("bucket=7/"),
        s"file outside pruned buckets: $f"))
    // value-level: pruned read == full read filtered
    val expect = viaListing(path).where(col("bucket").isin(3, 7))
      .orderBy("page_hash").collect().toSeq
    assert(pruned.orderBy("page_hash").collect().toSeq === expect)
  }

  test("readForSchedule over the manifest: byte-equal to unpruned, scan ∝ schedule") {
    import spark.implicits._
    val path = freshStore(32)
    // a schedule touching a handful of hashes → few buckets
    val scheduled = viaManifest(path)
      .limit(40).select(col("page_hash").as("url_hash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nSched = scheduled.count()
      val pruned = PageStore.readForSchedule(spark, path, scheduled, nSched)
      val all = viaListing(path).drop("bucket")
      // the scheduled pages read through the pruned frame equal those read
      // unpruned (prune exactness: a match can only live in its own hash's
      // bucket), and the pruned frame is a subset of the store
      def hits(df: org.apache.spark.sql.DataFrame) =
        df.join(scheduled, df("page_hash") === scheduled("url_hash"), "left_semi")
          .orderBy("page_hash").collect().toSeq
      assert(hits(pruned).size === nSched)
      assert(hits(pruned) === hits(all))
      assert(pruned.exceptAll(all).isEmpty)
      // scan proportionality: distinct files touched ≤ distinct buckets of
      // the schedule (≤ 40), not the store's 32-bucket full file set
      val schedBuckets = scheduled
        .select(PageStore.bucketOf(col("url_hash"), 32).as("b"))
        .distinct().as[Int].collect().toSet
      val filesTouched = pruned.select(input_file_name()).distinct()
        .collect().map(_.getString(0)).toSeq
      filesTouched.foreach { f =>
        val b = "bucket=(\\d+)/".r.findFirstMatchIn(f).map(_.group(1).toInt)
        assert(b.exists(schedBuckets.contains), s"unscheduled bucket file: $f")
      }
      assert(filesTouched.size < 32)
    } finally scheduled.unpersist(blocking = false)
  }

  test("a store in the layout before the manifest catalog is not reused: matches is false, reads fail clearly") {
    import spark.implicits._
    val path = Files.createTempDirectory("oldstore").toString
    Seq(("http://a.example/", "<html/>", 1L, 0)).toDF("page_url", "html", "page_hash", "bucket")
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    Files.write(java.nio.file.Paths.get(path, "_graft_buckets"), "1\n".getBytes)
    assert(!PageStore.matches(path, 1, ""))
    val e = intercept[RuntimeException](PageStore.bucketCount(path))
    assert(e.getMessage.contains("PageStore.write"))
  }
}
