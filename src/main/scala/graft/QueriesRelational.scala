package graft

import graft.core.SmallScan.sortSmall

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator coverage (SURVEY §2.5 joins, §2.6 aggregations, §2.7
  * windows, §2.8 sorts/limits, §2.9 set ops, §2.10 scalar functions), each
  * with a DuckDB oracle. Scale notes are on each query: broadcast hints where
  * a dimension is small, exchange-reuse where one shuffle serves two ops.
  */
object RelationalQueries {
  import Queries.{t, cents}

  // --- J1: containment probe as left join + IS NOT NULL flag ---------------
  // Reference: db_containment_annotator_single.py:50-67 (VALUES batch LEFT
  // JOIN data). Seen-set (customer keys) is the small side → broadcast: no
  // shuffle of the probe stream at any scale where the key set fits, which is
  // exactly the reference's index-probe topology.
  def qContainmentJoin(s: SparkSession, dir: String): DataFrame = {
    val probe = t(s, dir, "orders")
    val seen = t(s, dir, "customer").select(col("c_custkey")).distinct()
    probe.join(broadcast(seen), probe("o_custkey") === seen("c_custkey"), "left")
      .select(col("o_orderkey"), seen("c_custkey").isNotNull.as("found_in_set"))
      .orderBy(col("o_orderkey"))
  }
  val qContainmentJoinSql: String =
    """SELECT o_orderkey, (c.c_custkey IS NOT NULL) AS found_in_set
      |FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      |  ON o.o_custkey = c.c_custkey
      |ORDER BY o_orderkey""".stripMargin

  // --- J4/U2: anti-membership (left_anti) ----------------------------------
  def qAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val orders = t(s, dir, "orders")
      .filter(col("o_totalprice") > 300000).select(col("o_custkey"))
    cust.join(orders, cust("c_custkey") === orders("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }
  val qAntiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin

  // --- semi join (EXISTS) ---------------------------------------------------
  def qSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part")
    val li = t(s, dir, "lineitem").select(col("l_partkey"))
    part.join(li, part("p_partkey") === li("l_partkey"), "left_semi")
      .select(col("p_partkey"), col("p_brand"))
      .orderBy(col("p_partkey"))
  }
  val qSemiJoinSql: String =
    """SELECT p_partkey, p_brand FROM part p
      |WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
      |ORDER BY p_partkey""".stripMargin

  // --- A1: exact distinct (index build SELECT DISTINCT dump,id) ------------
  def qDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
      .orderBy(col("user_id"), col("event_type"))
  val qDistinctSql: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  // --- O3+A2: top-k by frequency (TakeOrderedAndProject, no global sort) ---
  def qTopkGroups(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("l_partkey"))
      .limit(100)
  val qTopkGroupsSql: String =
    """SELECT l_partkey, COUNT(*) AS n FROM lineitem
      |GROUP BY l_partkey ORDER BY n DESC, l_partkey LIMIT 100""".stripMargin

  // --- A4: hand-rolled rollup of the reference → native ROLLUP -------------
  // At most 3 × 5 + 3 + 1 = 19 rows by TPC-H's status and priority domains:
  // sorted in one partition.
  def qRollup(s: SparkSession, dir: String): DataFrame =
    sortSmall(t(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(cents(col("o_totalprice"))).as("sum_price_cents"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("o_orderpriority"),
        col("n_orders"), col("sum_price_cents")),
      col("o_orderstatus"), col("o_orderpriority"))
  val qRollupSql: String =
    """SELECT COALESCE(o_orderstatus, '(all)') AS o_orderstatus,
      |  COALESCE(o_orderpriority, '(all)') AS o_orderpriority,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  // --- §2.7: per-key budgeted top-N window (politeness-scheduling shape) ---
  def qWindowTopn(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("user_id"), col("event_id"), col("rn"))
      .orderBy(col("user_id"), col("rn"))
  }
  val qWindowTopnSql: String =
    """SELECT user_id, event_id, rn FROM (
      |  SELECT user_id, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
      |  FROM events) t
      |WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin

  // --- A5: runtime-stats shape (count/avg/min/max/stddev_pop) --------------
  // stddev over exact integer cents via the closed form so both engines do
  // the same deterministic arithmetic.
  def qStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(cents(col("l_quantity")).as("q"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("q")).as("sum_q"),
        min(col("q")).as("min_q"),
        max(col("q")).as("max_q"),
        sum(col("q") * col("q")).as("sumsq_q"))
      .select(col("n"), col("sum_q"), col("min_q"), col("max_q"),
        round(sqrt((col("sumsq_q") - col("sum_q") * col("sum_q") / col("n")) / col("n")), 4)
          .as("stddev_pop_q"))
  val qStatsSql: String =
    """SELECT n, sum_q, min_q, max_q,
      |  ROUND(SQRT((sumsq_q - sum_q*sum_q/n) / n), 4) AS stddev_pop_q
      |FROM (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(q) AS BIGINT) AS sum_q, MIN(q) AS min_q, MAX(q) AS max_q,
      |    CAST(SUM(q*q) AS BIGINT) AS sumsq_q
      |  FROM (SELECT CAST(ROUND(l_quantity*100) AS BIGINT) AS q FROM lineitem) t) u""".stripMargin

  // --- U1: unionByName + aggregate ------------------------------------------
  // One row per event type (5 in the generator's domain): sorted in one
  // partition.
  def qUnion(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val a = e.filter(col("value") > 100.0).select(col("event_type"))
    val b = e.filter(col("user_id") % 2 === 0).select(col("event_type"))
    sortSmall(a.unionByName(b).groupBy(col("event_type")).agg(count(lit(1)).as("n")),
      col("event_type"))
  }
  val qUnionSql: String =
    """SELECT event_type, COUNT(*) AS n FROM (
      |  SELECT event_type FROM events WHERE value > 100.0
      |  UNION ALL
      |  SELECT event_type FROM events WHERE user_id % 2 = 0) t
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- U2: set difference (EXCEPT) ------------------------------------------
  def qExcept(s: SparkSession, dir: String): DataFrame = {
    val small = t(s, dir, "part").filter(col("p_size") <= 10)
      .select(col("p_type"), col("p_size"))
    val tiny = t(s, dir, "part").filter(col("p_size") <= 5)
      .select(col("p_type"), col("p_size"))
    small.except(tiny).orderBy(col("p_type"), col("p_size"))
  }
  val qExceptSql: String =
    """SELECT p_type, p_size FROM part WHERE p_size <= 10
      |EXCEPT
      |SELECT p_type, p_size FROM part WHERE p_size <= 5
      |ORDER BY p_type, p_size""".stripMargin

  // --- F8: min-word-count filter --------------------------------------------
  def qMinlenFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n_words"))
      .filter(col("n_words") >= 40)
      .orderBy(col("doc_id"))
  val qMinlenFilterSql: String =
    """SELECT doc_id, n_words FROM (
      |  SELECT doc_id,
      |    CAST(array_length(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_words
      |  FROM documents) t
      |WHERE n_words >= 40 ORDER BY doc_id""".stripMargin

  // --- O5: deterministic per-group balanced sample (seed-hash ordering) ----
  def qBalancedSample(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(concat(col("doc_id").cast("string"), lit(":42"))), col("doc_id"))
    t(s, dir, "documents")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .select(col("lang"), col("doc_id"), col("rn"))
      .orderBy(col("lang"), col("rn"))
  }
  val qBalancedSampleSql: String =
    """SELECT lang, doc_id, rn FROM (
      |  SELECT lang, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) AS rn
      |  FROM documents) t
      |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin

  // --- P8: uuid extraction via regex ---------------------------------------
  def qUuidExtract(s: SparkSession, dir: String): DataFrame = {
    val uuidish = concat(lit("<urn:uuid:"),
      regexp_replace(md5(col("doc_id").cast("string")),
        "^(.{8})(.{4})(.{4})(.{4})(.{12})$", "$1-$2-$3-$4-$5"),
      lit(">"))
    t(s, dir, "documents")
      .select(col("doc_id"), uuidish.as("rec_id"))
      .withColumn("uuid",
        regexp_replace(regexp_extract(col("rec_id"), "<urn:uuid:([^>]+)>", 1), "-", ""))
      .orderBy(col("doc_id"))
  }
  val qUuidExtractSql: String =
    """SELECT doc_id, rec_id, replace(regexp_extract(rec_id, '<urn:uuid:([^>]+)>', 1), '-', '') AS uuid
      |FROM (
      |  SELECT doc_id,
      |    '<urn:uuid:' || regexp_replace(md5(CAST(doc_id AS VARCHAR)),
      |      '^(.{8})(.{4})(.{4})(.{4})(.{12})$', '\1-\2-\3-\4-\5') || '>' AS rec_id
      |  FROM documents) t
      |ORDER BY doc_id""".stripMargin

  // --- P10: content hashing (sha256) ---------------------------------------
  def qSha(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), sha2(col("text"), 256).as("sha_hex"))
      .orderBy(col("doc_id"))
  val qShaSql: String =
    "SELECT doc_id, sha256(text) AS sha_hex FROM documents ORDER BY doc_id"

  // --- F9: recency gating (dump-name parse + threshold logic) --------------
  // get_dumps_with_duckdb semantics (script_utils.py:478-489): non-English
  // ignored after 2024-18, English after 2024-51.
  def qRecencyGate(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        concat(lit("CC-MAIN-"), (lit(2023) + col("doc_id") % 3).cast("string"),
          lit("-"), lpad(((col("doc_id") % 5) * 10 + 8).cast("string"), 2, "0")).as("dump"))
    d.select(col("doc_id"), col("lang"), col("dump"),
      split_part(col("dump"), lit("-"), lit(3)).cast("int").as("dump_year"),
      split_part(col("dump"), lit("-"), lit(4)).cast("int").as("dump_issue"))
      .withColumn("in_fineweb",
        when(col("lang") === "en",
          col("dump_year") < 2024 || (col("dump_year") === 2024 && col("dump_issue") <= 51))
          .otherwise(
            col("dump_year") < 2024 || (col("dump_year") === 2024 && col("dump_issue") <= 18)))
      .orderBy(col("doc_id"))
  }
  val qRecencyGateSql: String =
    """SELECT doc_id, lang, dump,
      |  CAST(split_part(dump, '-', 3) AS INT) AS dump_year,
      |  CAST(split_part(dump, '-', 4) AS INT) AS dump_issue,
      |  CASE WHEN lang = 'en'
      |    THEN (CAST(split_part(dump,'-',3) AS INT) < 2024 OR (CAST(split_part(dump,'-',3) AS INT) = 2024 AND CAST(split_part(dump,'-',4) AS INT) <= 51))
      |    ELSE (CAST(split_part(dump,'-',3) AS INT) < 2024 OR (CAST(split_part(dump,'-',3) AS INT) = 2024 AND CAST(split_part(dump,'-',4) AS INT) <= 18))
      |  END AS in_fineweb
      |FROM (
      |  SELECT doc_id, lang,
      |    'CC-MAIN-' || CAST(2023 + doc_id % 3 AS VARCHAR) || '-' ||
      |    lpad(CAST((doc_id % 5) * 10 + 8 AS VARCHAR), 2, '0') AS dump
      |  FROM documents) t
      |ORDER BY doc_id""".stripMargin

  // --- sessionization via lag window (events stream shape) ------------------
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        (col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800).cast("int"))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).cast("bigint").as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }
  val qSessionizeSql: String =
    """SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      |FROM (
      |  SELECT user_id,
      |    CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_session
      |  FROM (
      |    SELECT user_id, ts, event_id,
      |      LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |    FROM events) t) u
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // --- CUBE (grouping-sets family, beyond the reference's hand rollup) -----
  // At most (5 + 1) × (10 + 1) = 66 rows (event types × user_id % 10, plus
  // the subtotals): sorted in one partition.
  def qCube(s: SparkSession, dir: String): DataFrame =
    sortSmall(t(s, dir, "events")
      .cube(col("event_type"), (col("user_id") % 10).as("user_mod"))
      .agg(count(lit(1)).as("n"))
      .select(
        coalesce(col("event_type"), lit("(all)")).as("event_type"),
        coalesce(col("user_mod"), lit(-1)).as("user_mod"),
        col("n")),
      col("event_type"), col("user_mod"))
  val qCubeSql: String =
    """SELECT COALESCE(event_type, '(all)') AS event_type,
      |  COALESCE(user_mod, -1) AS user_mod, COUNT(*) AS n
      |FROM (SELECT event_type, user_id % 10 AS user_mod FROM events) t
      |GROUP BY CUBE (event_type, user_mod)
      |ORDER BY event_type, user_mod""".stripMargin

  // --- exact interpolated percentiles on integer cents ----------------------
  def qPercentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(cents(col("l_extendedprice")).as("p"))
      .agg(
        round(expr("percentile(p, 0.5)"), 4).as("p50"),
        round(expr("percentile(p, 0.9)"), 4).as("p90"),
        round(expr("percentile(p, 0.99)"), 4).as("p99"))
  val qPercentilesSql: String =
    """SELECT ROUND(quantile_cont(p, 0.5), 4) AS p50,
      |  ROUND(quantile_cont(p, 0.9), 4) AS p90,
      |  ROUND(quantile_cont(p, 0.99), 4) AS p99
      |FROM (SELECT CAST(ROUND(l_extendedprice*100) AS BIGINT) AS p FROM lineitem) t""".stripMargin

  // --- JSON metadata extraction (the metadata-dict shape of the reference's
  // Document rows, parsed relationally) + urlsafe base64 (P10 variant) ------
  def qJsonProps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        translate(base64(col("event_type").cast("binary")), "+/", "-_").as("type_b64url"))
      .orderBy(col("event_id"))
  val qJsonPropsSql: String =
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS INT) AS k,
      |  translate(to_base64(encode(event_type)), '+/', '-_') AS type_b64url
      |FROM events ORDER BY event_id""".stripMargin

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_json_props" -> (qJsonProps _),
    "q_cube" -> (qCube _),
    "q_percentiles" -> (qPercentiles _),
    "q_containment_join" -> (qContainmentJoin _),
    "q_anti_join" -> (qAntiJoin _),
    "q_semi_join" -> (qSemiJoin _),
    "q_distinct" -> (qDistinct _),
    "q_topk_groups" -> (qTopkGroups _),
    "q_rollup" -> (qRollup _),
    "q_window_topn" -> (qWindowTopn _),
    "q_stats" -> (qStats _),
    "q_union" -> (qUnion _),
    "q_except" -> (qExcept _),
    "q_minlen_filter" -> (qMinlenFilter _),
    "q_balanced_sample" -> (qBalancedSample _),
    "q_uuid_extract" -> (qUuidExtract _),
    "q_sha" -> (qSha _),
    "q_recency_gate" -> (qRecencyGate _),
    "q_sessionize" -> (qSessionize _)
  )

  def oracles: Map[String, String] = Map(
    "q_json_props" -> qJsonPropsSql,
    "q_cube" -> qCubeSql,
    "q_percentiles" -> qPercentilesSql,
    "q_containment_join" -> qContainmentJoinSql,
    "q_anti_join" -> qAntiJoinSql,
    "q_semi_join" -> qSemiJoinSql,
    "q_distinct" -> qDistinctSql,
    "q_topk_groups" -> qTopkGroupsSql,
    "q_rollup" -> qRollupSql,
    "q_window_topn" -> qWindowTopnSql,
    "q_stats" -> qStatsSql,
    "q_union" -> qUnionSql,
    "q_except" -> qExceptSql,
    "q_minlen_filter" -> qMinlenFilterSql,
    "q_balanced_sample" -> qBalancedSampleSql,
    "q_uuid_extract" -> qUuidExtractSql,
    "q_sha" -> qShaSql,
    "q_recency_gate" -> qRecencyGateSql,
    "q_sessionize" -> qSessionizeSql
  )
}
