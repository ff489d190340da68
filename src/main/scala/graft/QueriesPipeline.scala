package graft

import graft.pipeline.MainPipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end oracle for the full 11-stage C5 pipeline: synthesized pages
  * (link-in-head license channel + the document body) run through
  * `MainPipeline.annotate`, with the oracle deriving every output column in
  * closed form — CC gate, license extraction+filter, visible-text
  * extraction, language scoring with per-language thresholds, and the
  * formatter chain are all differentially checked in one query.
  */
object PipelineQueries {
  import Queries.{ccUrls, t}

  def qC5Pipeline(s: SparkSession, dir: String): DataFrame = {
    val url = element_at(array(ccUrls.map(lit): _*), (col("doc_id") % 12 + 1).cast("int"))
    // spread the unsplittable scan BEFORE the 11-stage parse-heavy chain
    // (Queries.spread): the whole annotate pipeline is narrow and would
    // otherwise run on the single scan partition. Spread by the final order
    // key `id`, so the ORDER BY needs no exchange that re-runs the chain.
    val fetched = Queries.spread(
      t(s, dir, "documents").select(
        concat(lit("doc-"), col("doc_id")).as("id"), col("doc_id"), col("text")),
      col("id"))
      .select(
        col("id"),
        lit("CC-MAIN-2024-10").as("dump"),
        concat(lit("http://host"), col("doc_id") % 20, lit(".example/p/"), col("doc_id")).as("url"),
        lit("2024-03-01").as("date"),
        concat(lit("warc/"), col("doc_id") % 4, lit(".warc.gz")).as("file_path"),
        concat(
          lit("<html><head><link rel=\"license\" href=\""), url,
          lit("\"></head><body><p>"), col("text"),
          lit("</p></body></html>")).as("html"))
    MainPipeline.annotate(fetched)
      .select(col("id"), col("url"), col("license_abbr"), col("license_version"),
        col("license_location"), col("license_in_head"), col("text"),
        col("language"), col("language_script"), col("language_score"),
        col("license_disagreement")) // found_in_fw is all-null here: engines
      // disagree on the pandas dtype of a typed-null column (spec covers it)
      .orderBy(col("id"))
  }

  val qC5PipelineSql: String = {
    // mirror of MainPipeline.langStops + LangConfig (en threshold 0.10, default 0.05)
    val stops = Seq(
      "en" -> (Seq("the", "and", "of", "to", "in", "is", "you", "that", "it", "for", "a"), 0.10),
      "de" -> (Seq("der", "die", "und", "das", "ist", "ich", "nicht", "mit", "ein", "zu"), 0.05),
      "fr" -> (Seq("le", "la", "et", "les", "des", "un", "une", "est", "dans", "que"), 0.05),
      "es" -> (Seq("el", "que", "de", "en", "los", "se", "del", "las", "por", "un"), 0.05),
      "nl" -> (Seq("de", "het", "een", "en", "van", "ik", "dat", "niet", "op", "te"), 0.05))
    val scoreExprs = stops.map { case (l, (ws, _)) =>
      val lst = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      s"CAST(len(list_filter(toks, x -> list_contains($lst, x))) AS DOUBLE) / greatest(len(toks), 1) AS s_$l"
    }.mkString(",\n    ")
    val bestExpr = "greatest(" + stops.map { case (l, _) => s"s_$l" }.mkString(", ") + ")"
    val pick = stops.reverse.foldLeft("NULL") { case (rest, (l, (_, th))) =>
      s"CASE WHEN s_$l = best AND s_$l > $th THEN '$l' ELSE $rest END"
    }
    val score = stops.reverse.foldLeft("NULL") { case (rest, (l, _)) =>
      s"CASE WHEN lang_pick = '$l' THEN s_$l ELSE $rest END"
    }
    val abbrCase = "CASE idx " + Queries.ccAbbrs.zipWithIndex.map { case (a, i) =>
      s"WHEN $i THEN " + (if (a == null) "NULL" else s"'$a'")
    }.mkString(" ") + " END"
    val verCase = "CASE idx " + Queries.ccVers.zipWithIndex.map { case (v, i) =>
      s"WHEN $i THEN " + (if (v == null) "NULL" else s"'$v'")
    }.mkString(" ") + " END"
    s"""WITH base AS (
       |  SELECT doc_id, CAST(doc_id % 12 AS INT) AS idx,
       |    regexp_replace(trim(text), '\\s+', ' ', 'g') AS norm_text,
       |    regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents
       |), gated AS (
       |  -- F2 gate: page html contains creativecommons.org unless the url is
       |  -- the example.com case (idx 10); F4: abbr is non-null for the rest
       |  SELECT *, $abbrCase AS abbr, $verCase AS ver FROM base WHERE idx <> 10
       |), scored AS (
       |  SELECT *,
       |    $scoreExprs
       |  FROM gated
       |), best AS (
       |  SELECT *, $bestExpr AS best FROM scored
       |), picked AS (
       |  SELECT *, $pick AS lang_pick FROM best
       |)
       |SELECT
       |  'doc-' || doc_id AS id,
       |  'http://host' || (doc_id % 20) || '.example/p/' || doc_id AS url,
       |  abbr AS license_abbr,
       |  ver AS license_version,
       |  'link_tag' AS license_location,
       |  TRUE AS license_in_head,
       |  norm_text AS text,
       |  lang_pick AS language,
       |  'Latn' AS language_script,
       |  ROUND($score, 6) AS language_score,
       |  FALSE AS license_disagreement
       |FROM picked
       |WHERE lang_pick IS NOT NULL
       |ORDER BY id""".stripMargin
  }

  // --- J2: composite-key (dump, id) containment through withContainment ----
  // Reference FW2 probe `db_containment_annotator_single.py:59-67`: the
  // membership key is the PAIR — a matching id under the WRONG dump must not
  // flag. The seen set plants exactly such decoys (doc_id % 5 == 2 rows are
  // present with the other dump), so a single-key join fails this oracle.
  def qContainmentFw2(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    def dump(shift: Int) =
      concat(lit("CC-MAIN-2024-"), ((col("doc_id") + shift) % 2 + 10).cast("int"))
    val c5 = docs.select(
      concat(lit("doc-"), col("doc_id")).as("id"),
      dump(0).as("dump"),
      lit(null).cast("boolean").as("found_in_fw"))
    val seen = docs.filter(col("doc_id") % 5 < 2)
      .select(dump(0).as("dump"), concat(lit("doc-"), col("doc_id")).as("id"))
      .unionByName(docs.filter(col("doc_id") % 5 === 2)
        .select(dump(1).as("dump"), concat(lit("doc-"), col("doc_id")).as("id")))
    MainPipeline.withContainment(c5, seen, overwriteWithNone = false)
      .select(col("id"), col("dump"), col("found_in_fw"))
      .orderBy(col("id"))
  }

  val qContainmentFw2Sql: String =
    """SELECT 'doc-' || doc_id AS id,
      |  'CC-MAIN-2024-' || CAST(doc_id % 2 + 10 AS INT) AS dump,
      |  (doc_id % 5 < 2) AS found_in_fw
      |FROM documents
      |ORDER BY id""".stripMargin

  // --- fine/strict dataset variants (`create_fine_version.py:13-30`) -------
  // Both variants over one synthesized C5 frame covering every predicate arm:
  // found_in_fw ∈ {true,false,null}, nc/cc-unknown abbrs, disagreement flags,
  // and "wiki" urls.
  def qFineStrict(s: SparkSession, dir: String): DataFrame = {
    val nonNullAbbrs = Queries.ccAbbrs.take(10) // incl. nc variants + cc-unknown
    val abbr = element_at(array(nonNullAbbrs.map(lit): _*),
      (col("doc_id") % 10 + 1).cast("int"))
    val url = concat(lit("http://host.example/"),
      when(col("doc_id") % 7 === 0, lit("wiki/")).otherwise(lit("")),
      lit("p/"), col("doc_id"))
    val fw = when(col("doc_id") % 3 === 0, lit(true))
      .when(col("doc_id") % 3 === 1, lit(false))
      .otherwise(lit(null).cast("boolean"))
    val c5 = t(s, dir, "documents").select(
      concat(lit("doc-"), col("doc_id")).as("id"),
      url.as("url"),
      abbr.as("license_abbr"),
      (col("doc_id") % 4 === 0).as("license_disagreement"),
      fw.as("found_in_fw"))
    graft.pipeline.Postprocess.fineVersion(c5).withColumn("variant", lit("fine"))
      .unionByName(
        graft.pipeline.Postprocess.strictVersion(c5).withColumn("variant", lit("strict")))
      .select(col("variant"), col("id"), col("url"), col("license_abbr"))
      .orderBy(col("variant"), col("id"))
  }

  val qFineStrictSql: String = {
    val abbrCase = "CASE CAST(doc_id % 10 AS INT) " +
      Queries.ccAbbrs.take(10).zipWithIndex.map { case (a, i) =>
        s"WHEN $i THEN '$a'"
      }.mkString(" ") + " END"
    s"""WITH c5 AS (
       |  SELECT 'doc-' || doc_id AS id,
       |    'http://host.example/' ||
       |      (CASE WHEN doc_id % 7 = 0 THEN 'wiki/' ELSE '' END) ||
       |      'p/' || doc_id AS url,
       |    $abbrCase AS license_abbr,
       |    (doc_id % 4 = 0) AS license_disagreement,
       |    (doc_id % 3 = 0) AS fw_true
       |  FROM documents
       |)
       |SELECT * FROM (
       |  SELECT 'fine' AS variant, id, url, license_abbr FROM c5 WHERE fw_true
       |  UNION ALL
       |  SELECT 'strict' AS variant, id, url, license_abbr FROM c5
       |  WHERE fw_true AND NOT license_disagreement
       |    AND license_abbr NOT LIKE '%nc%' AND license_abbr <> 'cc-unknown'
       |    AND url NOT LIKE '%wiki%'
       |)
       |ORDER BY variant, id""".stripMargin
  }

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_c5_pipeline" -> (qC5Pipeline _),
    "q_containment_fw2" -> (qContainmentFw2 _),
    "q_fine_strict" -> (qFineStrict _))

  def oracles: Map[String, String] = Map(
    "q_c5_pipeline" -> qC5PipelineSql,
    "q_containment_fw2" -> qContainmentFw2Sql,
    "q_fine_strict" -> qFineStrictSql)
}
