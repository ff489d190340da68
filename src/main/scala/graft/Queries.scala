package graft

import graft.core.SmallScan.sortSmall

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The operator-inventory query surface (SURVEY.md §2): one named query per
  * operator, each paired with a DuckDB oracle in [[oracles]].
  *
  * Numeric discipline: double sums are computed on integer cents
  * (`CAST(ROUND(x*100) AS BIGINT)`) so results are exact and identical across
  * Spark partition orders and DuckDB — floating-point accumulation order never
  * leaks into the comparison. Every query orders by a deterministic unique key.
  */
object Queries {

  /** Table `name` of `dir`. A single-file table plans with no Spark job: its
    * schema comes from one driver-side footer read ([[GraftParquet]]), where
    * `s.read.parquet` would infer the same schema inside a job. A directory
    * is left to Spark's own inference. */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    GraftParquet.fileSchema(s, path).fold(s.read.parquet(path))(s.read.schema(_).parquet(path))
  }

  /** See [[graft.core.SmallScan.spread]]: parallelism floor for the sf
    * tables, which are single-file single-row-group parquet (ONE scan
    * partition) — without it every compute-heavy narrow chain runs on one
    * core. No-op on any scan already at defaultParallelism partitions.
    * Pass the query's final order key as `by` when it is a column of `df`. */
  def spread(df: DataFrame, by: Column*): DataFrame = graft.core.SmallScan.spread(df, by: _*)

  /** Exact integer-cents of a double column. */
  def cents(c: Column): Column = round(c * 100).cast("bigint")

  // -------------------------------------------------------------------------
  // Aggregations (SURVEY §2.6)
  // -------------------------------------------------------------------------

  /** A2/A4-style hash aggregate with map-side partial aggregation; analog of
    * the reference's Counter-over-batches (`find_top_domains.py:76-82`).
    * One row per (return flag, line status) pair: at most 6 by TPC-H's
    * domains, so the result sorts in one partition. */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    sortSmall(t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("bigint").as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders")
      ), col("l_returnflag"), col("l_linestatus"))

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
      |  COUNT(*) AS n_rows,
      |  COUNT(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // -------------------------------------------------------------------------
  // License annotation (SURVEY §2.3 P1): the flagship operator, run over HTML
  // synthesized deterministically from doc_id so the DuckDB oracle can state
  // the expected annotation in closed form — a differential test of the whole
  // extract expression (tokenizer + URL parse + head/footer + contexts +
  // element compression) per row.
  // -------------------------------------------------------------------------

  private[graft] val ccUrls: Seq[String] = Seq(
    "https://creativecommons.org/licenses/by/4.0/",
    "https://creativecommons.org/licenses/by-sa/3.0/",
    "https://creativecommons.org/licenses/by-nd/2.5/",
    "https://creativecommons.org/licenses/by-nc/2.0/",
    "https://creativecommons.org/licenses/by-nc-sa/4.0/",
    "https://creativecommons.org/licenses/by-nc-nd/3.0/",
    "https://creativecommons.org/publicdomain/zero/1.0/",
    "https://creativecommons.org/licenses/mark/1.0/",
    "https://creativecommons.org/licenses/certification/1.0/",
    "https://creativecommons.org/licenses/unknown/9.9/",
    "https://example.com/licenses/by/4.0/",
    "creativecommons.org/licenses/by/3.0/es/")
  private[graft] val ccAbbrs: Seq[String] = Seq(
    "by", "by-sa", "by-nd", "by-nc", "by-nc-sa", "by-nc-nd", "zero", "mark",
    "certification", "cc-unknown", null, "by")
  private[graft] val ccVers: Seq[String] = Seq(
    "4.0", "3.0", "2.5", "2.0", "4.0", "3.0", "1.0", "1.0", "1.0", null, null, "3.0")

  /** Deterministic per-row HTML page (5 channel templates + no-license rows). */
  private[graft] def synthHtml(docId: Column): Column = {
    val url = element_at(array(ccUrls.map(lit): _*), (docId % 12 + 1).cast("int"))
    val ch = (docId % 5).cast("int")
    val page = when(ch === 0, concat(
      lit("<html><head><meta name=\"license\" content=\""), url,
      lit("\"></head><body><p>Page body.</p></body></html>")))
      .when(ch === 1, concat(
        lit("<html><head><link rel=\"license\" href=\""), url,
        lit("\"></head><body><p>Page body.</p></body></html>")))
      .when(ch === 2, concat(
        lit("<html><body><p>Licensed under</p> <a href=\""), url,
        lit("\">CC</a> <p>All rights reserved.</p></body></html>")))
      .when(ch === 3, concat(
        lit("<html><body><div id=\"page-footer\"><a href=\""), url,
        lit("\">License</a></div></body></html>")))
      .otherwise(concat(
        lit("<html><body><script type=\"application/ld+json\">{\"license\":\""), url,
        lit("\"}</script></body></html>")))
    when(docId % 7 === 0, lit("<html><body><p>Just text, no terms.</p></body></html>"))
      .otherwise(page)
  }

  /** SQL fragment computing the same per-doc template metadata in DuckDB. */
  private def synthMetaSql: String = {
    def caseOn(col: String, vals: Seq[String]): String =
      "CASE " + vals.zipWithIndex.map { case (v, i) =>
        s"WHEN $col = $i THEN " + (if (v == null) "NULL" else s"'${v}'")
      }.mkString(" ") + " ELSE NULL END"
    s"""SELECT doc_id,
       |  CAST(doc_id % 12 AS INT) AS idx,
       |  CAST(doc_id % 5 AS INT) AS ch,
       |  (doc_id % 7 = 0) AS nolic,
       |  ${caseOn("CAST(doc_id % 12 AS INT)", ccAbbrs)} AS abbr,
       |  ${caseOn("CAST(doc_id % 12 AS INT)", ccVers)} AS ver,
       |  ${caseOn("CAST(doc_id % 12 AS INT)", ccUrls)} AS url
       |FROM documents""".stripMargin
  }

  def qLicenseExtract(s: SparkSession, dir: String): DataFrame =
    licenseAnnotated(s, dir, col("doc_id")).orderBy(col("doc_id"))

  /** The annotated documents of [[qLicenseExtract]], unsorted, spread by
    * `spreadBy`: the caller's final order key, or none. */
  private def licenseAnnotated(s: SparkSession, dir: String, spreadBy: Column*): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import graft.functions.GraftFunctions._
    // spread BEFORE synthesizing html: the extract kernel parses every page
    val docs = spread(t(s, dir, "documents").select(col("doc_id")), spreadBy: _*)
    val withHtml = docs.select(col("doc_id"), synthHtml(col("doc_id")).as("html"))
    // The extract expression itself applies the cheap creativecommons.org
    // gate before parsing (SURVEY §4 R1/R2 defense in depth). The barrier
    // keeps a caller's filter on the license columns (q_license_filter_agg)
    // above this project: pushed into the scan's data filters, it ran the
    // extract kernel a second time, below the spread, on one core.
    val extracted = withHtml.withColumn("x", constraintBarrier(extractCcLicenses(col("html"))))
    val metaCols = licenseMetadataColumns(col("x")).patch(8, Nil, 1) // sans potential_licenses
    extracted.select(col("doc_id") +: metaCols: _*)
  }

  val qLicenseExtractSql: String = {
    s"""WITH m AS ($synthMetaSql)
       |SELECT doc_id,
       |  CASE WHEN nolic OR abbr IS NULL THEN NULL ELSE abbr END AS license_abbr,
       |  CASE WHEN nolic OR abbr IS NULL THEN NULL ELSE ver END AS license_version,
       |  CASE WHEN nolic OR abbr IS NULL THEN NULL
       |       WHEN ch = 0 THEN 'meta_tag' WHEN ch = 1 THEN 'link_tag'
       |       WHEN ch = 2 THEN 'a_tag' WHEN ch = 3 THEN 'a_tag'
       |       ELSE 'json-ld' END AS license_location,
       |  CASE WHEN nolic OR abbr IS NULL THEN NULL ELSE (ch IN (0, 1)) END AS license_in_head,
       |  CASE WHEN nolic OR abbr IS NULL THEN NULL ELSE (ch = 3) END AS license_in_footer,
       |  CASE WHEN nolic OR abbr IS NULL THEN NULL
       |       WHEN ch = 0 THEN '<meta content="' || url || '" name="license"/>'
       |       WHEN ch = 1 THEN '<link href="' || url || '" rel="license"/>'
       |       WHEN ch = 2 THEN '<a href="' || url || '">CC</a>'
       |       WHEN ch = 3 THEN '<a href="' || url || '">License</a>'
       |       ELSE '<script type="application/ld+json">{"license":"' || url || '"}</script>'
       |       END AS license_element,
       |  CASE WHEN nolic OR abbr IS NULL THEN NULL
       |       WHEN ch = 2 THEN 'Licensed under' ELSE '' END AS license_left_context,
       |  CASE WHEN nolic OR abbr IS NULL THEN NULL
       |       WHEN ch = 2 THEN 'All rights reserved.' ELSE '' END AS license_right_context,
       |  FALSE AS license_parse_error,
       |  CASE WHEN nolic OR abbr IS NULL THEN NULL ELSE FALSE END AS license_disagreement
       |FROM m
       |ORDER BY doc_id""".stripMargin
  }

  // --- potential_licenses: the full struct-of-8-parallel-arrays column -----
  // (`script_utils.py:301-315`, transpose `license_annotator.py:68-71`).
  // Two licenses per page — a meta tag in head (url1) and an a-tag in a
  // footer div (url2) — so the arrays carry MULTIPLE entries, the 3-key sort
  // (meta_tag before a_tag), per-license head/footer flags, contexts, and
  // the disagreement rule are all exercised. The oracle states each parallel
  // array in closed form. Each array is emitted as its `to_json` rendering —
  // a scalar string column — because the comparison harness cannot hash/sort
  // list-typed columns; Spark's Jackson and DuckDB's to_json produce
  // byte-identical compact JSON (`["a","b",null]`, `[true,false]`, `\"`
  // escaping), so content equality is still exact per element.
  def qLicenseStruct(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import graft.functions.GraftFunctions._
    val u1 = element_at(array(ccUrls.map(lit): _*), (col("doc_id") % 12 + 1).cast("int"))
    val u2 = element_at(array(ccUrls.map(lit): _*), ((col("doc_id") + 3) % 12 + 1).cast("int"))
    val html = concat(
      lit("<html><head><meta name=\"license\" content=\""), u1,
      lit("\"></head><body><p>Shared body sentence.</p>" +
        "<div id=\"page-footer\"><a href=\""), u2,
      lit("\">License</a></div></body></html>"))
    val annotated = spread(t(s, dir, "documents").select(col("doc_id")), col("doc_id"))
      .select(col("doc_id"), extractCcLicenses(html).as("x"))
    val metaCols = licenseMetadataColumns(col("x"))
    def pl(field: String, as: String): Column =
      to_json(col("potential_licenses").getField(field)).as(as)
    annotated.select(col("doc_id") +: metaCols: _*)
      .select(col("doc_id"), col("license_abbr"), col("license_disagreement"),
        pl("abbr", "pl_abbr"),
        pl("version", "pl_version"),
        pl("location", "pl_location"),
        pl("in_head", "pl_in_head"),
        pl("in_footer", "pl_in_footer"),
        pl("element", "pl_element"),
        pl("left_context", "pl_left_context"),
        pl("right_context", "pl_right_context"))
      .orderBy(col("doc_id"))
  }

  val qLicenseStructSql: String = {
    def caseOn(col: String, vals: Seq[String]): String =
      "CASE " + vals.zipWithIndex.map { case (v, i) =>
        s"WHEN $col = $i THEN " + (if (v == null) "NULL" else s"'${v}'")
      }.mkString(" ") + " ELSE NULL END"
    // per-license closed forms; license 1 = meta_tag/head (sorts first),
    // license 2 = a_tag/footer. Either may be absent (example.com url).
    s"""WITH m AS (
       |  SELECT doc_id,
       |    ${caseOn("CAST(doc_id % 12 AS INT)", ccAbbrs)} AS abbr1,
       |    ${caseOn("CAST(doc_id % 12 AS INT)", ccVers)} AS ver1,
       |    ${caseOn("CAST(doc_id % 12 AS INT)", ccUrls)} AS url1,
       |    ${caseOn("CAST((doc_id + 3) % 12 AS INT)", ccAbbrs)} AS abbr2,
       |    ${caseOn("CAST((doc_id + 3) % 12 AS INT)", ccVers)} AS ver2,
       |    ${caseOn("CAST((doc_id + 3) % 12 AS INT)", ccUrls)} AS url2
       |  FROM documents
       |), e AS (
       |  SELECT doc_id, abbr1, ver1, abbr2, ver2,
       |    '<meta content="' || url1 || '" name="license"/>' AS el1,
       |    '<a href="' || url2 || '">License</a>' AS el2
       |  FROM m
       |)
       |SELECT doc_id,
       |  COALESCE(abbr1, abbr2) AS license_abbr,
       |  (abbr1 IS NOT NULL AND abbr2 IS NOT NULL AND abbr1 <> abbr2)
       |    AS license_disagreement,
       |  CAST(to_json(CASE WHEN abbr1 IS NOT NULL AND abbr2 IS NOT NULL THEN [abbr1, abbr2]
       |    WHEN abbr1 IS NOT NULL THEN [abbr1] ELSE [abbr2] END) AS VARCHAR) AS pl_abbr,
       |  CAST(to_json(CASE WHEN abbr1 IS NOT NULL AND abbr2 IS NOT NULL THEN [ver1, ver2]
       |    WHEN abbr1 IS NOT NULL THEN [ver1] ELSE [ver2] END) AS VARCHAR) AS pl_version,
       |  CAST(to_json(CASE WHEN abbr1 IS NOT NULL AND abbr2 IS NOT NULL THEN ['meta_tag', 'a_tag']
       |    WHEN abbr1 IS NOT NULL THEN ['meta_tag'] ELSE ['a_tag'] END) AS VARCHAR) AS pl_location,
       |  CAST(to_json(CASE WHEN abbr1 IS NOT NULL AND abbr2 IS NOT NULL THEN [TRUE, FALSE]
       |    WHEN abbr1 IS NOT NULL THEN [TRUE] ELSE [FALSE] END) AS VARCHAR) AS pl_in_head,
       |  CAST(to_json(CASE WHEN abbr1 IS NOT NULL AND abbr2 IS NOT NULL THEN [FALSE, TRUE]
       |    WHEN abbr1 IS NOT NULL THEN [FALSE] ELSE [TRUE] END) AS VARCHAR) AS pl_in_footer,
       |  CAST(to_json(CASE WHEN abbr1 IS NOT NULL AND abbr2 IS NOT NULL THEN [el1, el2]
       |    WHEN abbr1 IS NOT NULL THEN [el1] ELSE [el2] END) AS VARCHAR) AS pl_element,
       |  CAST(to_json(CASE WHEN abbr1 IS NOT NULL AND abbr2 IS NOT NULL
       |      THEN ['', 'Shared body sentence.']
       |    WHEN abbr1 IS NOT NULL THEN ['']
       |    ELSE ['Shared body sentence.'] END) AS VARCHAR) AS pl_left_context,
       |  CAST(to_json(CASE WHEN abbr1 IS NOT NULL AND abbr2 IS NOT NULL THEN ['', '']
       |    ELSE [''] END) AS VARCHAR) AS pl_right_context
       |FROM e
       |ORDER BY doc_id""".stripMargin
  }

  /** F4 `LicenseFilter` + A2-style rollup: drop parse errors and rows without
    * an explicit license, count kept rows per abbreviation. One row per
    * abbreviation [[synthHtml]] can produce (at most 10), so the result
    * sorts in one partition, and the documents are spread round-robin: no
    * range exchange, so no bound-sampling job. */
  def qLicenseFilterAgg(s: SparkSession, dir: String): DataFrame = {
    val annotated = licenseAnnotated(s, dir)
    sortSmall(annotated
      .filter(!col("license_parse_error") && col("license_abbr").isNotNull)
      .groupBy(col("license_abbr"))
      .agg(count(lit(1)).as("n_docs")), col("license_abbr"))
  }

  val qLicenseFilterAggSql: String =
    s"""WITH m AS ($synthMetaSql)
       |SELECT abbr AS license_abbr, COUNT(*) AS n_docs
       |FROM m WHERE NOT nolic AND abbr IS NOT NULL
       |GROUP BY abbr
       |ORDER BY abbr""".stripMargin

  // -------------------------------------------------------------------------
  // URL scalar functions (P1a, P7, P8 analogs + frontier canonicalization)
  // -------------------------------------------------------------------------

  private[graft] val parseUrlCases: Seq[(String, String, String)] =
    (ccUrls.lazyZip(ccAbbrs).lazyZip(ccVers)).toList.map { case (u, a, v) => (u, a, v) } ++ Seq(
      ("https://creativecommons.org/licenses/by-sa/4.0/?ref=chooser-v1&id=my%20work", "by-sa", "4.0"),
      ("HTTPS://CREATIVECOMMONS.ORG/licenses/BY/4.0/", "by", "4.0"))

  def qUrlParse(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import graft.functions.GraftFunctions._
    val n = parseUrlCases.length
    val url = element_at(array(parseUrlCases.map(c => lit(c._1)): _*),
      (col("doc_id") % n + 1).cast("int"))
    t(s, dir, "documents")
      .select(col("doc_id"), url.as("url"))
      .withColumn("p", parseCcLicenseUrlCol(col("url")))
      .select(col("doc_id"), col("url"),
        col("p").getField("abbr").as("abbr"),
        col("p").getField("version").as("version"))
      .orderBy(col("doc_id"))
  }

  val qUrlParseSql: String = {
    val n = parseUrlCases.length
    def caseOn(sel: (String, String, String) => String): String =
      "CASE " + parseUrlCases.zipWithIndex.map { case (c, i) =>
        val v = sel.tupled(c)
        s"WHEN doc_id % $n = $i THEN " + (if (v == null) "NULL" else s"'$v'")
      }.mkString(" ") + " ELSE NULL END"
    s"""SELECT doc_id,
       |  ${caseOn((u, _, _) => u)} AS url,
       |  ${caseOn((_, a, _) => a)} AS abbr,
       |  ${caseOn((_, _, v) => v)} AS version
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Registry
  // -------------------------------------------------------------------------

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> (q1Agg _),
    "q_license_extract" -> (qLicenseExtract _),
    "q_license_struct" -> (qLicenseStruct _),
    "q_license_filter_agg" -> (qLicenseFilterAgg _),
    "q_url_parse" -> (qUrlParse _)
  ) ++ RelationalQueries.all ++ TextQueries.all ++ CrawlQueries.all ++ PipelineQueries.all

  def oracles: Map[String, String] = Map(
    "q1_agg" -> q1AggSql,
    "q_license_extract" -> qLicenseExtractSql,
    "q_license_struct" -> qLicenseStructSql,
    "q_license_filter_agg" -> qLicenseFilterAggSql,
    "q_url_parse" -> qUrlParseSql
  ) ++ RelationalQueries.oracles ++ TextQueries.oracles ++ CrawlQueries.oracles ++ PipelineQueries.oracles
}
