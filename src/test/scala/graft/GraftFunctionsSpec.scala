package graft

import graft.functions.GraftFunctions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.FunctionIdentifier

class GraftFunctionsSpec extends SparkSpecBase {

  test("register: lives in the session's own registry; a repeat call is a no-op") {
    GraftFunctions.register(spark)
    val registry = spark.sessionState.functionRegistry
    val id = FunctionIdentifier("url_hash64")
    val info = registry.lookupFunction(id).get
    GraftFunctions.register(spark)
    assert(registry.lookupFunction(id).get eq info, "a repeat register re-registered")
    // a fresh session starts from the built-ins only and registers on its own
    val other = spark.newSession()
    GraftFunctions.register(other)
    val q = "SELECT url_hash64('http://a.example/x')"
    assert(other.sql(q).head().getLong(0) === spark.sql(q).head().getLong(0))
  }

  test("literal arguments: malformed SQL calls fail at analysis time, naming the argument") {
    import spark.implicits._
    GraftFunctions.register(spark)
    Seq((3L, "some text"), (1L, "more text")).toDF("id", "t")
      .createOrReplaceTempView("graft_fn_args")
    def rejected(expr: String, names: String): Unit = {
      val e = intercept[AnalysisException](spark.sql(s"SELECT $expr FROM graft_fn_args"))
      assert(e.getMessage.contains(names), s"$expr: ${e.getMessage}")
    }
    rejected("bounded_min_list(id, id)", "`k`")   // not a literal
    rejected("bounded_min_list(id, 'x')", "`k`")  // not numeric
    rejected("bounded_min_list(id, 2.5)", "`k`")  // not integral
    rejected("bounded_min_list(id, 0)", "`k`")    // not positive
    rejected("bounded_min_list(map(id, t), 2)", "bounded_min_list") // unorderable
    rejected("lang_decision(t, id)", "`threshold 1`")
    rejected("lang_decision(t, 0.5, 'x')", "`threshold 2`")
    rejected("lang_decision(t, 0.5)", "`lang_decision`") // one threshold per language
    // well-formed calls, including a BIGINT k, still analyze and run
    assert(spark.sql("SELECT bounded_min_list(id, 2L) FROM graft_fn_args")
      .head().getSeq[Long](0) === Seq(1L, 3L))
    val ths = Seq.fill(graft.functions.LangHeuristic.langStops.size)("0.5BD").mkString(", ")
    assert(spark.sql(s"SELECT lang_decision(t, $ths) FROM graft_fn_args").count() === 2)
  }
}
