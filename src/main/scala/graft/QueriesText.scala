package graft

import graft.core.SmallScan.sortSmall
import graft.ops.{Ann, Dedup}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over `documents`/`embeddings`: text
  * analysis (language-ID, quality scoring, token counting, fingerprinting),
  * deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard), and
  * similarity search — each with a DuckDB oracle.
  */
object TextQueries {
  import Queries.t

  // --- token sets / shingles (SQL mirrors in each oracle) -------------------

  private def toks(c: Column): Column = split(lower(trim(c)), "\\s+")
  private val toksSql = "regexp_split_to_array(lower(trim(text)), '\\s+')"

  // --- token counting (SURVEY §2.3 P9 analog) -------------------------------

  def qTokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        size(toks(col("text"))).as("n_ws_tokens"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]")).cast("bigint")
          .as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  val qTokenCountSql: String =
    s"""SELECT doc_id,
       |  CAST(len($toksSql) AS INT) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  // --- quality scoring (length/punct/stopword ratios) -----------------------

  private val enStops = Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

  def qQuality(s: SparkSession, dir: String): DataFrame = {
    val tk = toks(col("text"))
    val nWords = size(tk)
    val nChars = length(col("text"))
    val nPunct = regexp_count(col("text"), lit("[.,!?;:]"))
    val nStop = size(filter(tk, x => array_contains(array(enStops.map(lit): _*), x)))
    t(s, dir, "documents")
      .select(col("doc_id"), nChars.as("n_chars"), nWords.as("n_words"),
        nPunct.cast("bigint").as("n_punct"), nStop.as("n_stop"),
        round(nPunct.cast("double") / nChars, 6).as("punct_ratio"),
        round(nStop.cast("double") / nWords, 6).as("stopword_ratio"),
        round(nStop.cast("double") / nWords * 0.5 +
          least(nWords, lit(100)).cast("double") / 100.0 * 0.5, 6).as("quality_score"))
      .orderBy(col("doc_id"))
  }
  val qQualitySql: String = {
    val stopsList = enStops.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT doc_id, n_chars, n_words, n_punct, n_stop,
       |  ROUND(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
       |  ROUND(CAST(n_stop AS DOUBLE) / n_words, 6) AS stopword_ratio,
       |  ROUND(CAST(n_stop AS DOUBLE) / n_words * 0.5 +
       |        CAST(least(n_words, 100) AS DOUBLE) / 100.0 * 0.5, 6) AS quality_score
       |FROM (
       |  SELECT doc_id,
       |    CAST(length(text) AS INT) AS n_chars,
       |    CAST(len($toksSql) AS INT) AS n_words,
       |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
       |    CAST(len(list_filter($toksSql, x -> list_contains($stopsList, x))) AS INT) AS n_stop
       |  FROM documents) t
       |ORDER BY doc_id""".stripMargin
  }

  // --- language-ID heuristic (F5 analog: per-language score, argmax with
  // fixed priority, threshold else 'und') ------------------------------------

  private val langStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that", "it", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ich", "nicht", "mit", "ein", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est", "dans", "que"),
    "es" -> Seq("el", "que", "de", "en", "los", "se", "del", "las", "por", "un"),
    "nl" -> Seq("de", "het", "een", "en", "van", "ik", "dat", "niet", "op", "te"))

  def qLangid(s: SparkSession, dir: String): DataFrame = {
    val tk = toks(col("text"))
    val scoreCols = langStops.map { case (lang, stops) =>
      size(filter(tk, x => array_contains(array(stops.map(lit): _*), x))).as(s"s_$lang")
    }
    val scored = t(s, dir, "documents")
      .select(col("doc_id") +: scoreCols: _*)
    val langs = langStops.map(_._1)
    // argmax with fixed priority order on ties; 'und' when best score is 0
    val best = langs.map(l => col(s"s_$l")).reduce((a, b) => greatest(a, b))
    val pick = langs.foldRight(lit("und")) { case (l, rest) =>
      when(col(s"s_$l") === best && best > 0, lit(l)).otherwise(rest)
    }
    scored.withColumn("lang_guess", pick)
      .orderBy(col("doc_id"))
  }
  val qLangidSql: String = {
    val scoreExprs = langStops.map { case (lang, stops) =>
      val l = stops.map(w => s"'$w'").mkString("[", ", ", "]")
      s"CAST(len(list_filter($toksSql, x -> list_contains($l, x))) AS INT) AS s_$lang"
    }.mkString(",\n    ")
    val langs = langStops.map(_._1)
    val bestExpr = "greatest(" + langs.map(l => s"s_$l").mkString(", ") + ")"
    val pick = langs.reverse.foldLeft("'und'") { case (rest, l) =>
      s"CASE WHEN s_$l = best AND best > 0 THEN '$l' ELSE $rest END"
    }
    s"""SELECT doc_id, s_en, s_de, s_fr, s_es, s_nl, $pick AS lang_guess
       |FROM (SELECT *, $bestExpr AS best FROM (
       |  SELECT doc_id,
       |    $scoreExprs
       |  FROM documents) t) u
       |ORDER BY doc_id""".stripMargin
  }

  // --- document fingerprint (normalized content hash; the winnowing
  // fingerprint expression is covered by unit tests) -------------------------

  def qFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))
      .orderBy(col("doc_id"))
  val qFingerprintSql: String =
    """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // --- dedup corpus: originals + exact copies + unrelated decoys ------------

  private[graft] def dedupCorpus(s: SparkSession, dir: String): DataFrame = {
    // NOT spread here: the three union branches all derive from this frame
    // (a spread would be re-evaluated per branch), and the exact-dedup
    // consumer's first op is an aggregate that needs no pre-exchange. The
    // LSH pair operators spread their own input once, after the union.
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val dups = base.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val gibberish = concat_ws(" ",
      (0 until 20).map(i => md5(concat(col("doc_id").cast("string"), lit(s":$i")))): _*)
    val decoys = base.filter(col("doc_id") % 3 === 1)
      .select((col("doc_id") + 2000000).as("doc_id"), gibberish.as("text"))
    base.unionByName(dups).unionByName(decoys)
  }

  private val dedupCorpusSql: String = {
    val gib = (0 until 20)
      .map(i => s"md5(CAST(doc_id AS VARCHAR) || ':$i')").mkString(" || ' ' || ")
    s"""SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id, $gib AS text FROM documents WHERE doc_id % 3 = 1""".stripMargin
  }

  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(dedupCorpus(s, dir), "doc_id", "text")
      .filter(col("n_copies") > 1)
      .orderBy(col("keep_id"))
  val qDedupExactSql: String =
    s"""SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
       |FROM ($dedupCorpusSql) corpus
       |GROUP BY md5(text) HAVING COUNT(*) > 1
       |ORDER BY keep_id""".stripMargin

  // SQL mirror of Dedup.shingleSet(text, 3)
  private val shinglesSql =
    s"""list_distinct(CASE WHEN len($toksSql) < 3
       |  THEN [array_to_string($toksSql, ' ')]
       |  ELSE list_transform(generate_series(1, len($toksSql) - 2),
       |         i -> $toksSql[i] || ' ' || $toksSql[i+1] || ' ' || $toksSql[i+2])
       |  END)""".stripMargin

  /** MinHash-LSH near-dup pairs at threshold 0.995: banding finds every
    * identical-shingle-set pair with certainty (equal signatures ⇒ equal
    * bands), and exact verification deterministically excludes everything
    * under the threshold — so the oracle is the identical-text self-join
    * (fixed-data check: max non-identical shingle Jaccard is 0.989). */
  def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(dedupCorpus(s, dir), "doc_id", "text", threshold = 0.995)
      .orderBy(col("a_id"), col("b_id"))
  val qDedupMinhashSql: String =
    s"""WITH corpus AS ($dedupCorpusSql)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id, 1.0 AS jaccard
       |FROM corpus a JOIN corpus b ON a.text = b.text AND a.doc_id < b.doc_id
       |ORDER BY a_id, b_id""".stripMargin

  /** SimHash pairs (Hamming ≤ 3 via pigeonhole-complete 16-bit banding) with
    * shingle-Jaccard ≥ 0.995 confirmation — same determinism argument. */
  def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(dedupCorpus(s, dir), "doc_id", "text",
      maxDistance = 3, jaccardThreshold = 0.995)
      .orderBy(col("a_id"), col("b_id"))
  val qDedupSimhashSql: String =
    s"""WITH corpus AS ($dedupCorpusSql)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(0 AS INT) AS hamming
       |FROM corpus a JOIN corpus b ON a.text = b.text AND a.doc_id < b.doc_id
       |ORDER BY a_id, b_id""".stripMargin

  // --- n-gram Jaccard similarity of adjacent doc pairs (exact, exhaustive
  // over the pair list — the verification kernel of the LSH pipelines) ------

  def qNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val d = Queries.spread(t(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), Dedup.shingleSet(col("text"), 3).as("sh"))
    val a = d.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = d.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    a.join(b, col("b_id") === col("a_id") + 1)
      .select(col("a_id"), col("b_id"),
        round(size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))), 6).as("jaccard"))
      .orderBy(col("a_id"))
  }
  val qNgramJaccardSql: String =
    s"""WITH d AS (SELECT doc_id, $shinglesSql AS sh FROM documents)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |        len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
       |FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
       |ORDER BY a_id""".stripMargin

  // --- embedding-cosine near-duplicate pairs --------------------------------
  // Exact all-pairs here (the oracle must be exhaustive); the sub-quadratic
  // scale path is the RHP-bucketed variant (Ann.lshTopK, DedupAnnSpec).

  /** The synthetic embeddings alone contain NO pair with cos ≥ 0.9 (the
    * oracle compared 0 = 0 rows in rounds 2-3 — vacuously green), so the
    * corpus is augmented IN the query with deterministic derived
    * near-duplicates: for vec_id < 8, a copy at vec_id+100000 with every
    * element shifted by +0.03 — cos(v, v+0.03·1) lands in ≈[0.95, 1) for
    * these unit-scale vectors, so the match arm, the rounding, and the
    * ordering are all exercised against NON-EMPTY oracle output. Both
    * engines compute the same double arithmetic on the same derivation;
    * the ≥0.9 filter applies to the ROUNDED value on both sides, so even a
    * boundary-grazing cosine cannot diverge. */
  def qDedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val base = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val seeded = base.filter(col("vec_id") < 8)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("v"), x => x + lit(0.03)).as("v"))
    // Norms hoisted out of the pair loop (Ann.cosineNormed): each of the
    // ~n²/2 pairs costs one dot product instead of three — bit-identical
    // arithmetic, the sqrt factors are just computed once per row.
    val e = base.unionAll(seeded)
    // spread the STREAM side only (the build side is broadcast as-is): the
    // n²/2 pair scoring otherwise runs on the scan's single partition. By
    // vec_id: the broadcast join keeps the stream side's range partitioning,
    // which satisfies the final (a_id, b_id) order with no second exchange.
    val a = Queries.spread(e, col("vec_id")).select(col("vec_id").as("a_id"), col("v").as("av"),
      Ann.norm(col("v")).as("a_norm"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("bv"),
      Ann.norm(col("v")).as("b_norm"))
    a.crossJoin(broadcast(b)).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(Ann.cosineNormed(col("av"), col("bv"), col("a_norm"), col("b_norm")), 4).as("cos"))
      .filter(col("cos") >= 0.9)
      .orderBy(col("a_id"), col("b_id"))
  }
  val qDedupEmbeddingSql: String =
    """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |e AS (SELECT vec_id, v FROM base
      |      UNION ALL
      |      SELECT vec_id + 100000, list_transform(v, x -> x + 0.03)
      |      FROM base WHERE vec_id < 8)
      |SELECT a_id, b_id, cos FROM (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |    ROUND(list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id) t
      |WHERE cos >= 0.9
      |ORDER BY a_id, b_id""".stripMargin

  // --- brute-force cosine top-k over embeddings ----------------------------

  /** k = 10 neighbours for each of 3 query vectors: at most 30 rows, so
    * the result sorts in one partition. */
  def qAnnTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
    sortSmall(Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", "vec_id", k = 10)
      .select(col("q_id"), col("rank"), col("nn_id"), round(col("cos"), 4).as("cos")),
      col("q_id"), col("rank"))
  }
  val qAnnTopkSql: String =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id < 3),
      |scored AS (
      |  SELECT q.q_id, c.vec_id AS nn_id,
      |    list_dot_product(q.qv, c.v) /
      |      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))) AS cos
      |  FROM c CROSS JOIN q),
      |ranked AS (
      |  SELECT q_id, nn_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rank
      |  FROM scored)
      |SELECT q_id, CAST(rank AS INT) AS rank, nn_id, ROUND(cos, 4) AS cos
      |FROM ranked WHERE rank <= 10
      |ORDER BY q_id, rank""".stripMargin

  // --- formatter stages (P4-P6) over synthesized dirty text -----------------

  def qFormatters(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val dirty = concat(
      col("text"), lit(" contact user"), col("doc_id"),
      lit("@mail"), col("doc_id") % 10, lit(".com or 10.0."),
      col("doc_id") % 256, lit("."), (col("doc_id") * 7) % 256, lit(" now"))
    t(s, dir, "documents")
      .select(col("doc_id"), dirty.as("dirty"))
      .select(col("doc_id"),
        graft.pipeline.Formatters.scrubPii(col("dirty")).as("clean"))
      .orderBy(col("doc_id"))
  }
  val qFormattersSql: String =
    """SELECT doc_id,
      |  text || ' contact <email> or <ip> now' AS clean
      |FROM documents ORDER BY doc_id""".stripMargin

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_formatters" -> (qFormatters _),
    "q_token_count" -> (qTokenCount _),
    "q_quality" -> (qQuality _),
    "q_langid" -> (qLangid _),
    "q_fingerprint" -> (qFingerprint _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_minhash" -> (qDedupMinhash _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_ngram_jaccard" -> (qNgramJaccard _),
    "q_ann_topk" -> (qAnnTopk _),
    "q_dedup_embedding" -> (qDedupEmbedding _)
  )

  def oracles: Map[String, String] = Map(
    "q_formatters" -> qFormattersSql,
    "q_token_count" -> qTokenCountSql,
    "q_quality" -> qQualitySql,
    "q_langid" -> qLangidSql,
    "q_fingerprint" -> qFingerprintSql,
    "q_dedup_exact" -> qDedupExactSql,
    "q_dedup_minhash" -> qDedupMinhashSql,
    "q_dedup_simhash" -> qDedupSimhashSql,
    "q_ngram_jaccard" -> qNgramJaccardSql,
    "q_ann_topk" -> qAnnTopkSql,
    "q_dedup_embedding" -> qDedupEmbeddingSql
  )
}
