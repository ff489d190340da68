package perfbench

import graft.table.SnapshotTable

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Output checks. Every check reads committed state or query results from
  * outside the engine; none of them is timed. */
object Checks {

  /** ROADMAP golden counts of the seed-0 epoch over Bench's sf0.1 input:
    * (scheduled, licensed, decode_ok, new frontier). */
  val Golden: (Long, Long, Long, Long) = (323483L, 11172L, 32258L, 71752L)

  /** The current manifest of the snapshot table at `root`, if any. */
  def manifest(spark: SparkSession, root: String): Option[JsonNode] = {
    val t = new SnapshotTable(root, spark)
    t.currentSnapshotId.flatMap(t.manifest)
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def manifestsUnder(p: Path): Int =
    if (!Files.exists(p)) 0
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(f => f.getFileName.toString.matches("v[0-9]+\\.json"))
      finally s.close()
    }

  /** The out rows of every epoch in `epochs`, with their epoch. */
  def outRows(spark: SparkSession, stateRoot: String, epochs: Seq[Long]): DataFrame = {
    val out = new SnapshotTable(s"$stateRoot/out", spark)
    epochs.map { e =>
      val id = out.snapshotForLineage("epoch", e.toString)
        .getOrElse(sys.error(s"no out snapshot for epoch $e"))
      out.readAt(id).select(lit(e).as("epoch"), col("url_hash"), col("canon_url"),
        col("fetch_status"), coalesce(col("retries"), lit(0)).as("retries"))
    }.reduce(_ unionByName _)
  }

  final case class Epoch(epoch: Long, scheduled: Long, fetched: Long)

  /** Crawl invariants that hold for every seed, over the epochs of one
    * state root: fetched + 404 = scheduled per epoch; no host over its
    * budget in an epoch; no URL scheduled twice except as a retry; no
    * retry count past the retry budget, neither in a scheduled row nor in
    * the frontier the last requeue left (a requeue that ignored the budget
    * would put a URL back with one retry too many). Returns
    * (name, ok, detail) and the 404 total. */
  def crawlInvariants(spark: SparkSession, stateRoot: String, epochs: Seq[Epoch],
      budget: Int, retryBudget: Int): (Seq[(String, Boolean, String)], Long) = {
    val rows = outRows(spark, stateRoot, epochs.map(_.epoch))
      .withColumn("host", graft.functions.GraftFunctions.urlHost(col("canon_url")))
      .persist()
    try {
      val perEpoch = rows.groupBy("epoch").agg(
        count(lit(1)).as("rows"),
        count(when(col("fetch_status") === 404, 1)).as("n404")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val accounting = epochs.map { e =>
        val (n, n404) = perEpoch.getOrElse(e.epoch, (0L, 0L))
        (e, n, n404, e.fetched + n404 == e.scheduled && n == e.scheduled)
      }
      val hostMax = rows.groupBy("epoch", "host").count().agg(max("count")).collect()(0)
      val hostPeak = if (hostMax.isNullAt(0)) 0L else hostMax.getLong(0)
      val dup = rows.groupBy("url_hash", "retries").count().filter(col("count") > 1).count()
      def maxRetries(df: DataFrame): Int = {
        val r = df.agg(max(coalesce(col("retries"), lit(0)))).collect()(0)
        if (r.isNullAt(0)) 0 else r.getInt(0)
      }
      val retryMax = maxRetries(rows)
      val frontierMax = maxRetries(new SnapshotTable(s"$stateRoot/frontier", spark).read())
      val checks = Seq(
        ("fetched_plus_404_is_scheduled", accounting.forall(_._4),
          accounting.map { case (e, n, n404, _) =>
            s"e${e.epoch}: sched=${e.scheduled} fetched=${e.fetched} 404=$n404 out=$n"
          }.mkString("; ")),
        ("host_within_budget", hostPeak <= budget, s"max per host per epoch $hostPeak, budget $budget"),
        ("no_url_scheduled_twice", dup == 0, s"$dup (url_hash, retries) pairs scheduled twice"),
        ("retries_within_budget", retryMax <= retryBudget && frontierMax <= retryBudget,
          s"max retries scheduled $retryMax, in the frontier $frontierMax, budget $retryBudget"))
      (checks, accounting.map(_._3).sum)
    } finally rows.unpersist()
  }

  /** Order-insensitive content hash of a query result: each row is
    * rendered with its columns sorted by name and doubles rounded to six
    * decimals (the oracle compare's tolerance), hashed, and the row hashes
    * are summed. */
  def contentHash(df: DataFrame, rows: Array[Row]): Long = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foldLeft(0L) { (acc, r) =>
      val s = order.map(i => render(r.get(i))).mkString("\u0001")
      val d = md.digest(s.getBytes("UTF-8"))
      acc + java.nio.ByteBuffer.wrap(d).getLong
    }
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal =>
      b.setScale(6, java.math.RoundingMode.HALF_EVEN).stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k) + "=" + render(x) }.toSeq.sorted.mkString("<", ",", ">")
    case x => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val s = new java.math.BigDecimal(d).setScale(6, java.math.RoundingMode.HALF_EVEN)
        .stripTrailingZeros.toPlainString
      if (s == "-0") "0" else s
    }

  /** Pinned (rows, hash) per query, from a `name<TAB>rows<TAB>hash` file. */
  def readPins(p: Path): Map[String, (Long, Long)] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t"); f(0) -> ((f(1).toLong, f(2).toLong)) }.toMap
}
