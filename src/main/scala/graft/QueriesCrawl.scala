package graft

import graft.crawl.PageStore
import graft.frontier.{Scheduler, SeenSet}
import graft.functions.GraftFunctions

import org.apache.hadoop.fs.FileUtil

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._
import scala.util.Try

/** Crawl-stage operators under the DuckDB oracle: URL canonicalization +
  * frontier scheduling (dedupe → robots → politeness window) and the image
  * decode/round-trip invariant. Inputs are derived from `documents.doc_id`
  * with pure arithmetic so the oracle can state expected outputs in closed
  * form while the Spark side runs the real expressions and scheduler.
  */
object CrawlQueries {
  import Queries.t

  private val NHosts = 40

  /** Fingerprint of the source table backing a memoized fixture: file
    * names + sizes + mtimes of `documents.parquet`. Marker files store it
    * so regenerated test data at the SAME path invalidates the memo —
    * an existence-only marker would silently reuse state built from the
    * old data and fail the oracle compare. */
  private def sourceFingerprint(dir: String): String = {
    val p = Paths.get(dir, "documents.parquet")
    if (!Files.exists(p)) return "absent"
    val entries =
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.iterator().asScala.toSeq.sortBy(_.toString) finally s.close()
      } else Seq(p)
    entries.map(f => s"${f.getFileName}:${Files.size(f)}:" +
      Files.getLastModifiedTime(f).toMillis).mkString("|")
  }

  /** The one memo for fixture state built from `documents` (input
    * preparation, not the query under test, so repeat bench invocations
    * time the query, not the build): a root under the tmpdir per (source
    * dir, source fingerprint), filled once by `build` and reused while its
    * marker records the current fingerprint and `valid` accepts it.
    *
    * The root name embeds the fingerprint, so changed data moves to a
    * fresh root instead of rebuilding in place: the executor-side
    * Bloom/cuckoo probe caches key on (root, snapshot id), and a rebuilt
    * state at the SAME root would reuse ids 1..N — stale cached filters
    * would serve wrong membership. Roots of previous fingerprints are
    * deleted once idle ≥30 min: a CONCURRENT bench/verify process may still
    * use one, and every use touches its root's mtime to keep it young,
    * while an orphan's mtime stops advancing once its owner exits. */
  private def memo(prefix: String, dir: String, valid: Path => Boolean = _ => true)(
      build: Path => Unit): Path = {
    val fp = sourceFingerprint(dir)
    val tag = s"graft-$prefix-${Integer.toHexString(dir.hashCode)}-"
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val root = tmp.resolve(tag + Integer.toHexString(fp.hashCode))
    val marker = root.resolve("_memo_ok")
    def touch(): Unit = // best-effort: a racing GC may have taken the root
      try Files.setLastModifiedTime(root, FileTime.fromMillis(System.currentTimeMillis()))
      catch { case _: java.io.IOException => () }
    if (Files.exists(root)) touch()
    val current = Files.exists(marker) &&
      new String(Files.readAllBytes(marker)) == fp && valid(root)
    if (!current) {
      val now = System.currentTimeMillis()
      val siblings = Files.list(tmp)
      try siblings.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith(tag) && p != root &&
          Try(now - Files.getLastModifiedTime(p).toMillis > 30L * 60 * 1000).getOrElse(false))
        .foreach(old => FileUtil.fullyDelete(old.toFile))
      finally siblings.close()
      FileUtil.fullyDelete(root.toFile) // a partial build (no marker): restart
      Files.createDirectories(root)
      build(root)
      Files.write(marker, fp.getBytes)
      // re-touch after the (possibly long) build, which may have outlasted
      // the idle-age gate a concurrent process applies
      touch()
    }
    root
  }

  // --- frontier scheduling ----------------------------------------------------

  /** Five URL spellings per doc (dups, case, default port, fragment,
    * percent-encoding) that all canonicalize to the same page URL. */
  def qFrontierSchedule(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val hostIdx = col("doc_id") % NHosts
    val base = concat(lit("http://site"), hostIdx, lit(".example/page/"), col("doc_id"))
    val variants = array(
      base,
      concat(lit("HTTP://SITE"), hostIdx, lit(".EXAMPLE/page/"), col("doc_id")),
      concat(lit("http://site"), hostIdx, lit(".example:80/page/"), col("doc_id")),
      concat(base, lit("#frag")),
      concat(lit("http://site"), hostIdx, lit(".example/%70age/"), col("doc_id")))
    val seeds = t(s, dir, "documents")
      .select(col("doc_id"), explode(variants).as("url"))
      .select(col("url"), col("doc_id").cast("double").as("priority"))
    // robots: hosts ≡ 0 (mod 7) disallow the /page/1* range
    val robots = s.range(NHosts)
      .select(concat(lit("site"), col("id"), lit(".example")).as("host"),
        when(col("id") % 7 === 0, array(lit("/page/1")))
          .otherwise(array().cast("array<string>")).as("disallowed"))
    // a seen-set root nothing ever writes: the empty set
    val emptySeen = new SeenSet(memo("qfs", dir)(_ => ()).resolve("seen").toString, s)
    Scheduler.scheduleEpoch(seeds, emptySeen, Some(robots), budgetPerHost = 2)
      .select(col("canon_url"), col("host"),
        col("priority").cast("bigint").as("priority"), col("host_rank"))
      .orderBy(col("priority").desc, col("canon_url"))
  }

  val qFrontierScheduleSql: String =
    s"""WITH seeds AS (
       |  SELECT doc_id,
       |    'http://site' || (doc_id % $NHosts) || '.example/page/' || doc_id AS canon_url,
       |    'site' || (doc_id % $NHosts) || '.example' AS host,
       |    doc_id AS priority
       |  FROM documents
       |), allowed AS (
       |  SELECT * FROM seeds
       |  WHERE NOT ((doc_id % $NHosts) % 7 = 0
       |             AND ('/page/' || doc_id) LIKE '/page/1%')
       |), ranked AS (
       |  SELECT canon_url, host, priority,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY priority DESC) AS INT) AS host_rank
       |  FROM allowed
       |)
       |SELECT canon_url, host, priority, host_rank FROM ranked
       |WHERE host_rank <= 2
       |ORDER BY priority DESC, canon_url""".stripMargin

  // --- seen-set retraction (cuckoo deletion path) -------------------------------

  /** One-time SETUP for [[qSeenRetract]] ([[memo]]): the add → retract →
    * re-add state lifecycle (snapshot commits + Bloom/cuckoo sidecar
    * builds). */
  private def ensureSeenRetractState(s: SparkSession, dir: String): String =
    memo("qsr", dir) { root =>
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val seen = new SeenSet(root.toString, s)
      seen.add(docs.filter(col("doc_id") % 3 === 0).select(col("doc_id").as("url_hash")))
      seen.retract(docs.filter(col("doc_id") % 21 === 0).select(col("doc_id").as("url_hash")))
      seen.add(docs.filter(col("doc_id") % 42 === 0).select(col("doc_id").as("url_hash")))
    }.toString

  /** Seen-set lifecycle under the oracle: add (Bloom sidecars), RETRACT
    * (exact tombstones + cuckoo sidecar), re-add (in-place cuckoo delete of
    * the tombstone), then a full-membership probe through [[SeenSet
    * .filterUnseen]]. Closed form: seen = 3|doc_id, retracted = 21|doc_id,
    * re-added = 42|doc_id ⇒ unseen = ¬(3|id) ∨ (21|id ∧ ¬(42|id)). */
  def qSeenRetract(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val seen = new SeenSet(ensureSeenRetractState(s, dir), s)
    seen.filterUnseen(docs.select(col("doc_id").as("url_hash")))
      .select(col("url_hash").as("doc_id"))
      .orderBy(col("doc_id"))
  }

  val qSeenRetractSql: String =
    """SELECT doc_id FROM documents
      |WHERE doc_id % 3 <> 0 OR (doc_id % 21 = 0 AND doc_id % 42 <> 0)
      |ORDER BY doc_id""".stripMargin

  // --- registered domain / host extraction ------------------------------------

  def qUrlHostDomain(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val sub = element_at(array(lit(""), lit("www."), lit("img.cdn.")),
      (col("doc_id") % 3 + 1).cast("int"))
    val tld = element_at(array(lit("com"), lit("co.uk"), lit("org"), lit("com.au")),
      (col("doc_id") % 4 + 1).cast("int"))
    val url = concat(lit("https://"), sub, lit("brand"), col("doc_id") % 50,
      lit("."), tld, lit("/x"))
    t(s, dir, "documents")
      .select(col("doc_id"), url.as("url"))
      .select(col("doc_id"), col("url"),
        GraftFunctions.urlHost(col("url")).as("host"),
        GraftFunctions.registeredDomain(col("url")).as("domain"))
      .orderBy(col("doc_id"))
  }

  val qUrlHostDomainSql: String =
    """SELECT doc_id, url, host,
      |  CASE WHEN sub = '' THEN host
      |       ELSE 'brand' || (doc_id % 50) || '.' || tld END AS domain
      |FROM (
      |  SELECT doc_id,
      |    CASE doc_id % 3 WHEN 0 THEN '' WHEN 1 THEN 'www.' ELSE 'img.cdn.' END AS sub,
      |    CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk' WHEN 2 THEN 'org' ELSE 'com.au' END AS tld
      |  FROM documents) p,
      |LATERAL (SELECT
      |    'https://' || sub || 'brand' || (doc_id % 50) || '.' || tld || '/x' AS url,
      |    sub || 'brand' || (doc_id % 50) || '.' || tld AS host) u
      |ORDER BY doc_id""".stripMargin

  // --- image synthesis / decode round-trip -------------------------------------

  def qImageRoundtrip(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val w = (col("doc_id") % 64 + 16).cast("int")
    val h = (col("doc_id") % 48 + 16).cast("int")
    val fmt = element_at(array(lit("png"), lit("bmp"), lit("jpeg")),
      (col("doc_id") % 3 + 1).cast("int"))
    val d = Queries.spread(t(s, dir, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id"), w.as("w"), h.as("h"), fmt.as("fmt")), col("doc_id"))
      .withColumn("bytes", GraftFunctions.genImage(col("doc_id"), col("w"), col("h"), col("fmt")))
    val dims = GraftFunctions.decodeImageDims(col("bytes"))
    d.select(col("doc_id"), col("fmt"),
      dims.getField("w").as("decoded_w"),
      dims.getField("h").as("decoded_h"),
      (GraftFunctions.psnrVsPattern(col("bytes"), col("doc_id"), col("w"), col("h")) >= 40.0)
        .as("pixels_ok"),
      when(col("fmt") =!= "jpeg",
        GraftFunctions.phash64(col("bytes")) ===
          GraftFunctions.phash64(GraftFunctions.genImage(col("doc_id"), col("w"), col("h"), lit("png"))))
        .as("phash_cross_format_ok"))
      .orderBy(col("doc_id"))
  }

  /** jpeg phash may drift a bit vs png at tiny rasters; the oracle only pins
    * the lossless formats for cross-format equality and pins pixels_ok for
    * all formats (psnr ≥ 40 is the invariant, 999=∞ for lossless). */
  val qImageRoundtripSql: String =
    """SELECT doc_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'jpeg' END AS fmt,
      |  CAST(doc_id % 64 + 16 AS INT) AS decoded_w,
      |  CAST(doc_id % 48 + 16 AS INT) AS decoded_h,
      |  TRUE AS pixels_ok,
      |  CASE WHEN doc_id % 3 = 2 THEN NULL ELSE TRUE END AS phash_cross_format_ok
      |FROM documents WHERE doc_id < 200
      |ORDER BY doc_id""".stripMargin

  // --- image near-dup by perceptual hash (image-payload dedup) ---------------

  /** Deterministic image corpus with planted duplicates: seed = doc_id % 100
    * at fixed dims/format, so same-seed images are byte-identical (phash
    * Hamming 0) and the oracle is the same-seed self-join in closed form.
    * maxDistance = 0 (exact perceptual hash): a perceptual hash is MEANT to
    * collide on visually-similar content, and the synthetic gradient space
    * is small — at 48x32 exactly one cross-seed pair (seeds 64/77) shares a
    * phash, so that seed is excluded on both sides to keep the oracle in
    * closed form. The query still drives the full decode → phash → banding
    * → bucket-cap → verify pipeline. */
  def qDedupPhash(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    // spread BEFORE synthesizing bytes (Queries.spread): image encode +
    // decode + phash per row is the query's heavy narrow stage, and the
    // exchange must move doc_ids, not encoded images
    val imgs = Queries.spread(t(s, dir, "documents")
      .filter(col("doc_id") < 500 && col("doc_id") % 100 =!= 77)
      .select(col("doc_id")))
      .select(col("doc_id"),
        GraftFunctions.genImage(col("doc_id") % 100, lit(48), lit(32), lit("png")).as("bytes"))
    graft.ops.Dedup.phashPairs(imgs, "doc_id", "bytes", maxDistance = 0)
      .orderBy(col("a_id"), col("b_id"))
  }

  val qDedupPhashSql: String =
    """SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(0 AS INT) AS hamming
      |FROM (SELECT doc_id FROM documents WHERE doc_id < 500 AND doc_id % 100 <> 77) a
      |JOIN (SELECT doc_id FROM documents WHERE doc_id < 500 AND doc_id % 100 <> 77) b
      |  ON a.doc_id % 100 = b.doc_id % 100 AND a.doc_id < b.doc_id
      |ORDER BY a_id, b_id""".stripMargin

  // --- WARC source round-trip (S1 RetryWarcReader analog) ----------------------

  /** One-time SETUP for [[qWarcRead]] ([[memo]]): deterministic WARC
    * fixtures from `documents` (4 gzip files sharded by doc_id%4, one
    * response record per doc). */
  private def ensureWarcFixtures(s: SparkSession, dir: String): String = {
    import graft.sources.WarcSource
    memo("warc", dir) { warcDir =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      (0 until 4).foreach { shard =>
        val recs = docs.filter(_._1 % 4 == shard).map { case (id, text) =>
          WarcSource.WarcRecord(
            file_path = "",
            record_id = s"<urn:uuid:doc-$id>",
            warc_type = "response",
            target_uri = s"http://docs.example/$id",
            warc_date = "2024-03-01T00:00:00Z",
            content = text)
        }
        Files.write(warcDir.resolve(s"shard$shard.warc.gz"),
          WarcSource.warcGzBytes(recs.toIndexedSeq))
      }
    }.toString
  }

  /** Distributed WARC read (binaryFile + streaming gzip record walk) over the
    * pre-generated fixtures — the oracle states every field from `documents`
    * directly, so header parsing, gzip, sharding and the record walk are all
    * differentially checked. */
  def qWarcRead(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.WarcSource
    WarcSource.read(s, ensureWarcFixtures(s, dir))
      .select(
        regexp_extract(col("target_uri"), "/([0-9]+)$", 1).cast("bigint").as("doc_id"),
        col("record_id"), col("target_uri"),
        length(col("content")).as("content_len"))
      .orderBy(col("doc_id"))
  }

  val qWarcReadSql: String =
    """SELECT doc_id,
      |  '<urn:uuid:doc-' || doc_id || '>' AS record_id,
      |  'http://docs.example/' || doc_id AS target_uri,
      |  CAST(length(text) AS INT) AS content_len
      |FROM documents ORDER BY doc_id""".stripMargin

  // --- bucketed page-store pruned fetch (PageStore driver gate) --------------

  /** One-time SETUP for [[qPageStore]] ([[memo]]): a bucketed
    * [[graft.crawl.PageStore]] built from `documents` (url =
    * http://docs.example/<doc_id>, html = text). A store the memo does not
    * vouch for — written for other data, or in another layout — is
    * rebuilt, never read. */
  private def ensurePageStore(s: SparkSession, dir: String): String = {
    val fp = sourceFingerprint(dir)
    def store(root: Path) = root.resolve("store").toString
    store(memo("pgstore", dir, root => PageStore.matches(store(root), 64, fp)) { root =>
      val pages = t(s, dir, "documents").select(
        concat(lit("http://docs.example/"), col("doc_id")).as("url"),
        col("text").as("html"), col("doc_id"))
      PageStore.write(pages, store(root), nBuckets = 64, fingerprint = fp)
    })
  }

  /** Fetch-against-the-store: the schedule (doc_id < 40) reads the bucketed
    * store PRUNED to its hash buckets and joins on the fetch-join condition
    * (hash match + exact URL confirm). A wrongly-pruned bucket would LOSE
    * rows here, so the oracle — the closed-form schedule itself — is a
    * value-level pruning-exactness gate, complementing the file-level
    * input_file_name spec in CrawlEpochSpec. */
  def qPageStore(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val store = ensurePageStore(s, dir)
    val sched = t(s, dir, "documents").filter(col("doc_id") < 40)
      .select(
        GraftFunctions.urlHash64(
          concat(lit("http://docs.example/"), col("doc_id"))).as("url_hash"),
        concat(lit("http://docs.example/"), col("doc_id")).as("canon_url"))
    val pruned = PageStore.readForSchedule(s, store, sched,
      schedRows = 40)
    pruned.join(sched,
        pruned("page_hash") === sched("url_hash") &&
          pruned("page_url") === sched("canon_url"))
      .select(col("doc_id"), length(col("html")).cast("int").as("content_len"))
      .orderBy(col("doc_id"))
  }

  val qPageStoreSql: String =
    """SELECT doc_id, CAST(length(text) AS INT) AS content_len
      |FROM documents WHERE doc_id < 40 ORDER BY doc_id""".stripMargin

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pagestore" -> (qPageStore _),
    "q_warc_read" -> (qWarcRead _),
    "q_frontier_schedule" -> (qFrontierSchedule _),
    "q_seen_retract" -> (qSeenRetract _),
    "q_url_host_domain" -> (qUrlHostDomain _),
    "q_image_roundtrip" -> (qImageRoundtrip _),
    "q_dedup_phash" -> (qDedupPhash _)
  )

  def oracles: Map[String, String] = Map(
    "q_pagestore" -> qPageStoreSql,
    "q_warc_read" -> qWarcReadSql,
    "q_frontier_schedule" -> qFrontierScheduleSql,
    "q_seen_retract" -> qSeenRetractSql,
    "q_url_host_domain" -> qUrlHostDomainSql,
    "q_image_roundtrip" -> qImageRoundtripSql,
    "q_dedup_phash" -> qDedupPhashSql
  )
}
