package graft.functions

import org.apache.spark.sql.{AnalysisException, Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, Decimal, IntegerType, LongType, NumericType, ShortType}

/** Registration + Column facade for the graft expression library.
  *
  * Expressions are registered in the session FunctionRegistry (SQL-callable)
  * and exposed as Column helpers via `call_function`, which keeps us off the
  * private Column↔Expression constructors that moved in Spark 4.
  */
object GraftFunctions {

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "extract_cc_licenses" -> (es => ExtractCcLicenses(es.head)),
    "parse_cc_license_url" -> (es => ParseCcLicenseUrl(es.head)),
    "url_decode_py" -> (es => UrlDecode(es.head)),
    "canonicalize_url" -> (es => CanonicalizeUrl(es.head)),
    "url_host" -> (es => UrlHost(es.head)),
    "registered_domain" -> (es => RegisteredDomain(es.head)),
    "url_hash64" -> (es => UrlHash64(es.head)),
    "url_key" -> (es => UrlKey(es.head)),
    "minhash_sig" -> (es => MinHashSig(es.head)),
    "simhash64" -> (es => SimHash64(es.head)),
    "winnow_fingerprint" -> (es => WinnowFingerprint(es.head)),
    "gen_image" -> (es => GenImage(es(0), es(1), es(2), es(3))),
    "decode_image_dims" -> (es => DecodeImageDims(es.head)),
    "phash64" -> (es => PHash64(es.head)),
    "psnr_vs_pattern" -> (es => PsnrVsPattern(es(0), es(1), es(2), es(3))),
    "image_check" -> (es => ImageCheck(es(0), es(1), es(2), es(3))),
    "image_feature_stub" -> (es => ImageFeatureStub(es.head)),
    "extract_links" -> (es => ExtractLinks(es.head)),
    "normalize_nfc" -> (es => NormalizeNfc(es.head)),
    "extract_visible_text" -> (es => ExtractVisibleText(es.head)),
    "vec_dot" -> (es => VecDot(es(0), es(1))),
    "shingle_set" -> (es => ShingleSet(es(0), es(1))),
    "sorted_pairs" -> (es => SortedPairs(es.head)),
    "bounded_min_list" -> (es => BoundedMinList(es(0),
      positiveIntLiteral("bounded_min_list", "k", es(1)))),
    "lang_decision" -> (es => LangDecision(es.head, langThresholds(es.tail))),
    "bloom_might_contain" -> (es => graft.frontier.BloomMightContain(es(0), es(1), es(2))),
    "cuckoo_might_contain" -> (es => graft.frontier.CuckooMightContain(es(0), es(1), es(2))),
    "constraint_barrier" -> (es => graft.frontier.ConstraintBarrier(es.head))
  )

  /** Literal arguments are read once, when the builder runs during
    * analysis, so anything but a foldable numeric literal is an analysis
    * error naming the argument — not a ClassCastException, and never an
    * eval of an unresolved expression. */
  private def literalArgError(fn: String, arg: String, kind: String, e: Expression) =
    new AnalysisException(s"INVALID_PARAMETER_VALUE.$kind",
      Map("parameter" -> s"`$arg`", "functionName" -> s"`$fn`",
        "invalidValue" -> e.sql))

  private def numericLiteral(fn: String, arg: String, e: Expression): Double =
    (if (e.foldable && e.dataType.isInstanceOf[NumericType]) e.eval() else null) match {
      case d: Decimal => d.toDouble
      case n: java.lang.Number => n.doubleValue
      case _ => throw literalArgError(fn, arg, "DOUBLE", e)
    }

  private val IntegralTypes = Set[DataType](ByteType, ShortType, IntegerType, LongType)

  private def positiveIntLiteral(fn: String, arg: String, e: Expression): Int =
    (if (e.foldable && IntegralTypes(e.dataType)) e.eval() else null) match {
      case n: java.lang.Number if n.longValue > 0 && n.longValue <= Int.MaxValue => n.intValue
      case _ => throw literalArgError(fn, arg, "INTEGER", e)
    }

  /** One threshold per language of [[LangHeuristic.langStops]], in order. */
  private def langThresholds(es: Seq[Expression]): Seq[Double] = {
    val ths = es.zipWithIndex.map { case (e, i) =>
      numericLiteral("lang_decision", s"threshold ${i + 1}", e) }
    val n = LangHeuristic.langStops.size
    if (ths.size != n) throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      Map("functionName" -> "`lang_decision`", "expectedNum" -> (n + 1).toString,
        "actualNum" -> (ths.size + 1).toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))
    ths
  }

  /** Registers the library in `spark`'s own function registry. Idempotent:
    * names the session already resolves are left untouched, so no
    * process-wide record of sessions is kept. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  // --- Column helpers -------------------------------------------------------

  def extractCcLicenses(html: Column): Column = call_function("extract_cc_licenses", html)
  def parseCcLicenseUrlCol(url: Column): Column = call_function("parse_cc_license_url", url)
  def urlDecode(s: Column): Column = call_function("url_decode_py", s)
  def canonicalizeUrl(url: Column): Column = call_function("canonicalize_url", url)
  def urlHost(url: Column): Column = call_function("url_host", url)
  def registeredDomain(url: Column): Column = call_function("registered_domain", url)
  def urlHash64(url: Column): Column = call_function("url_hash64", url)
  def urlKey(url: Column): Column = call_function("url_key", url)
  def minhashSig(text: Column): Column = call_function("minhash_sig", text)
  def simhash64(text: Column): Column = call_function("simhash64", text)
  def winnowFingerprint(text: Column): Column = call_function("winnow_fingerprint", text)
  def genImage(seed: Column, w: Column, h: Column, fmt: Column): Column =
    call_function("gen_image", seed, w, h, fmt)
  def decodeImageDims(bytes: Column): Column = call_function("decode_image_dims", bytes)
  def phash64(bytes: Column): Column = call_function("phash64", bytes)
  def psnrVsPattern(bytes: Column, seed: Column, w: Column, h: Column): Column =
    call_function("psnr_vs_pattern", bytes, seed, w, h)
  def imageCheck(bytes: Column, seed: Column, w: Column, h: Column): Column =
    call_function("image_check", bytes, seed, w, h)
  def imageFeatureStub(bytes: Column): Column = call_function("image_feature_stub", bytes)
  def extractLinks(html: Column): Column = call_function("extract_links", html)
  def normalizeNfc(s: Column): Column = call_function("normalize_nfc", s)
  def extractVisibleText(html: Column): Column = call_function("extract_visible_text", html)
  def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)
  def sortedPairs(arr: Column): Column = call_function("sorted_pairs", arr)
  def boundedMinList(e: Column, k: Int): Column =
    call_function("bounded_min_list", e, lit(k))
  def constraintBarrier(e: Column): Column = call_function("constraint_barrier", e)

  /** The 11 license metadata columns of the C5 schema from one extract-struct
    * column (the projection step of `license_annotator.py:53-71`), with
    * `potential_licenses` in the reference's struct-of-8-parallel-arrays shape
    * (`script_utils.py:301-315`). */
  def licenseMetadataColumns(extracted: Column): Seq[Column] = {
    val ls = extracted.getField("licenses")
    val best = element_at(ls, 1)
    val err = extracted.getField("parse_error")
    def field(name: String): Column = when(!err && size(ls) > 0, best.getField(name))
    Seq(
      field("abbr").as("license_abbr"),
      field("version").as("license_version"),
      field("location").as("license_location"),
      field("in_head").as("license_in_head"),
      field("in_footer").as("license_in_footer"),
      field("element").as("license_element"),
      field("left_context").as("license_left_context"),
      field("right_context").as("license_right_context"),
      when(!err && size(ls) > 0, struct(
        transform(ls, l => l.getField("abbr")).as("abbr"),
        transform(ls, l => l.getField("in_footer")).as("in_footer"),
        transform(ls, l => l.getField("in_head")).as("in_head"),
        transform(ls, l => l.getField("location")).as("location"),
        transform(ls, l => l.getField("version")).as("version"),
        transform(ls, l => l.getField("element")).as("element"),
        transform(ls, l => l.getField("left_context")).as("left_context"),
        transform(ls, l => l.getField("right_context")).as("right_context")
      )).as("potential_licenses"),
      err.as("license_parse_error"),
      when(!err && size(ls) > 0,
        size(array_distinct(transform(ls, l => l.getField("abbr")))) > 1
      ).as("license_disagreement")
    )
  }
}
