package perfbench

import graft.gen.SyntheticCorpus

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs of the crawl workloads, built only from the public
  * [[SyntheticCorpus]] generators. The seed changes only the seed list
  * (which URLs, their priorities, which are dead); the corpus is fixed by
  * its size. Seed 0 reproduces `SyntheticCorpus.seedUrls` row for row, so
  * seed 0 at `epoch_full`'s sizes is exactly `graft.Bench`'s sf0.1 input. */
object Inputs {

  val Hosts = 64

  private def h(tag: String, seed: Long): Column =
    if (seed == 0) hash(col("id").cast("string"), lit(tag))
    else hash(col("id").cast("string"), lit(tag), lit(seed))

  /** `n` seed URLs over a corpus of `pageCount` pages. A `deadShare` of the
    * rows point past the corpus (page ids in [pageCount, 2·pageCount)), so
    * their fetch is a 404. Each URL takes one of five spellings of the same
    * page (canonicalization traps), as `SyntheticCorpus.seedUrls` does. */
  def seedList(spark: SparkSession, n: Long, pageCount: Long, seed: Long,
      deadShare: Double): DataFrame = {
    val live = pmod(h("seed", seed), lit(pageCount))
    val target =
      if (deadShare <= 0) live
      else when(pmod(h("dead", seed), lit(1000000)) < lit((deadShare * 1e6).toLong),
        lit(pageCount) + pmod(h("dead-target", seed), lit(pageCount))).otherwise(live)
    val base = SyntheticCorpus.pageUrl(target, Hosts)
    val authority = regexp_extract(base, "^(http://[^/]+)", 1)
    val variant = pmod(col("id"), lit(5))
    val url = when(variant === 0, base)
      .when(variant === 1, concat(upper(authority), // uppercase scheme + host
        regexp_extract(base, "^http://[^/]+(/.*)$", 1)))
      .when(variant === 2, regexp_replace(base, "\\.example/", ".example:80/"))
      .when(variant === 3, concat(base, lit("#section-2")))
      .otherwise(regexp_replace(base, "/page/", "/%70age/")) // %70 = 'p'
    val priority = round(pmod(h("prio", seed), lit(1000)).cast("double") / 100.0, 2)
    spark.range(n).select(url.as("url"), priority.as("priority"))
  }

  /** Keys no crawl of this corpus can ever have seen: URL hashes on a host
    * outside the corpus. The seen-set's realized false-positive rate is the
    * share of them its Bloom probe admits. */
  def neverSeenKeys(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(graft.functions.GraftFunctions.urlHash64(
      concat(lit("http://never-seen.invalid/page/"), col("id"))).as("url_hash"))
}
