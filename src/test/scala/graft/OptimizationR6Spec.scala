package graft

import graft.functions.{GraftFunctions, LangHeuristic}
import graft.ops.Dedup

import org.apache.spark.sql.functions._

/** Focused specs for the round-6 optimization internals: the sorted_pairs
  * pair-emission kernel that replaced the LSH bucket self-join, the
  * SmallScan parallelism floor's gate, and the single-pass language
  * decision kernel that replaced the per-token HOF aggregate — each pinned
  * to the semantics of the shape it replaced.
  */
class OptimizationR6Spec extends SparkSpecBase {

  test("sorted_pairs emits exactly the i<j pairs of a sorted array, in order") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val out = Seq(Seq(2L, 5L, 9L)).toDF("ids")
      .select(explode(GraftFunctions.sortedPairs(col("ids"))).as("p"))
      .select(col("p.a"), col("p.b"))
      .as[(Long, Long)].collect().toSeq
    assert(out === Seq((2L, 5L), (2L, 9L), (5L, 9L)))
    // empty and singleton arrays yield no pairs
    val none = Seq(Seq.empty[Long], Seq(7L)).toDF("ids")
      .select(explode(GraftFunctions.sortedPairs(col("ids"))).as("p"))
      .count()
    assert(none === 0L)
    // string element type (generic path with value copy)
    val strs = Seq(Seq("a", "b", "c")).toDF("ids")
      .select(explode(GraftFunctions.sortedPairs(col("ids"))).as("p"))
      .select(col("p.a"), col("p.b"))
      .as[(String, String)].collect().toSeq
    assert(strs === Seq(("a", "b"), ("a", "c"), ("b", "c")))
  }

  test("hammingPairs64 via members array equals the brute-force pair set") {
    import spark.implicits._
    // adversarial sigs: shared 16-bit bands, duplicates across bands, and
    // pairs over the distance cut
    val sigs = Seq(
      (1L, 0x0000000000000000L),
      (2L, 0x0000000000000001L), // d(1,2)=1
      (3L, 0x0000000000000003L), // d(1,3)=2, d(2,3)=1
      (4L, 0x00000000000000FFL), // d(1,4)=8 — banded together, rejected
      (5L, 0xFFFF00000000F000L), // shares band with nobody... except via zeros
      (6L, 0xFFFF00000000F001L) // d(5,6)=1
    ).toDF("id", "sig")
    val found = Dedup.hammingPairs64(sigs, maxDistance = 3,
      maxBucketSize = 1000, observeName = s"r6spec_${System.nanoTime()}")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val local = sigs.as[(Long, Long)].collect()
    val expected = (for {
      (a, sa) <- local; (b, sb) <- local
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    assert(found === expected)
  }

  test("bounded_min_list equals the row_number-window cap it replaced, " +
      "including over-cap buckets, partial merges and the drop count") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // groups of wildly different sizes; ids inserted in descending order so
    // the bounded heap must actually evict; 64 input partitions so the
    // partial->final merge (and state serialization) is exercised
    val cap = 3
    val rows = for {
      g <- 0 until 20
      i <- 0 until (g * 7 % 23) + 1
    } yield (g.toLong, (1000 - i).toLong)
    val df = spark.createDataFrame(rows).toDF("g", "id").repartition(64)
    val got = df.groupBy("g")
      .agg(GraftFunctions.boundedMinList(col("id"), cap).as("members"),
        count(lit(1)).as("n"))
      .select(col("g"), col("members"),
        greatest(col("n") - size(col("members")), lit(0L)).as("dropped"))
      .as[(Long, Seq[Long], Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val expected = rows.groupBy(_._1).map { case (g, rs) =>
      val sorted = rs.map(_._2).sorted
      g -> ((sorted.take(cap), math.max(0L, sorted.size.toLong - cap)))
    }
    assert(got === expected)
    // struct elements (the hammingPairs64 shape): ordering is by the
    // leading unique id field, ascending
    val sgot = spark.createDataFrame(rows).toDF("g", "id")
      .withColumn("sig", -col("id"))
      .groupBy("g")
      .agg(GraftFunctions.boundedMinList(struct(col("id"), col("sig")), cap).as("m"))
      .select(col("g"), col("m"))
      .as[(Long, Seq[(Long, Long)])].collect().toMap
    val sexp = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(_._2).sorted.take(cap).map(i => (i, -i))
    }
    assert(sgot === sexp)
  }

  test("SmallScan.spread floors parallelism on a tiny scan and is gated by size") {
    import spark.implicits._
    val tiny = Seq.tabulate(100)(i => (i.toLong, s"row$i")).toDF("id", "s")
    val p = spark.sparkContext.defaultParallelism
    val spreadDf = graft.core.SmallScan.spread(tiny)
    assert(spreadDf.rdd.getNumPartitions >= p)
    // content unchanged (only placement differs)
    assert(spreadDf.orderBy("id").as[(Long, String)].collect().toSeq ===
      tiny.orderBy("id").as[(Long, String)].collect().toSeq)
    // keyed by the final order key: range-partitioned, same rows, and the
    // ORDER BY on that key plans no exchange of its own
    val keyed = graft.core.SmallScan.spread(tiny, col("id"))
    assert(keyed.rdd.getNumPartitions >= p)
    assert(keyed.orderBy("id").as[(Long, String)].collect().toSeq ===
      tiny.orderBy("id").as[(Long, String)].collect().toSeq)
    val plan = keyed.orderBy("id").queryExecution.executedPlan.toString // not yet run
    assert(plan.contains("rangepartitioning"), plan)
    assert("Exchange ".r.findAllMatchIn(plan).size === 1, plan)
  }

  test("lang_decision kernel: threshold strictness, fixed-order ties, empty text") {
    val th = Array(0.10, 0.05, 0.05, 0.05, 0.05) // en, de, fr, es, nl default
    def decide(s: String): (String, Option[Double]) = {
      val r = LangHeuristic.decide(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), th)
      (Option(r.get(0, org.apache.spark.sql.types.StringType))
        .map(_.toString).orNull,
        if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    }
    // clear english: "the ... is" 2 hits / 4 tokens = 0.5 > 0.10
    assert(decide("the weather is nice") === ("en", Some(0.5)))
    // empty text: 1 empty token, no hits, all scores 0 -> null
    assert(decide("") === (null, None))
    // strictness: exactly AT the en threshold must NOT pass (score > th).
    // 1 en hit in 10 tokens = 0.10, not > 0.10
    assert(decide("the zz yy xx ww vv uu tt ss rr")._1 === null)
    // fixed-order tie: "de" is a stopword for BOTH fr ("des"? no) — use a
    // token in two stop lists: "que" is fr AND es; single token -> both
    // score 1.0, fr (earlier in fixed order) wins
    assert(decide("que")._1 === "fr")
    // de beats nothing at 1 hit / 21 tokens (0.048 < 0.05 default)
    val deTokens = "der " + Seq.fill(20)("zz").mkString(" ")
    assert(decide(deTokens)._1 === null)
  }
}
