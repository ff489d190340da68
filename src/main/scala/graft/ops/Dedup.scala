package graft.ops

import graft.functions.GraftFunctions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators over a document table.
  *
  * Scale design: every variant is a shuffle-on-bucket-key + within-bucket
  * pair-join. The candidate join never crosses buckets, so the shuffle is the
  * only wide stage and its key (band hash) is uniform by construction —
  * pathological buckets (boilerplate-heavy corpora) are capped with
  * `maxBucketSize` so one hot key cannot quadratically blow up a task at
  * 100 TB (dropped buckets are reported via an `observe` metric rather than
  * silently ignored).
  */
object Dedup {

  /** Exact dedup: content-hash groupBy keeping the smallest id per group
    * (SURVEY §2.6 A1; build_duckdbs.py:102-120 SELECT DISTINCT analog). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** `df` with `jaccard`, the exact Jaccard similarity of its shingle sets
    * `a_toks` and `b_toks`; null when both are empty. The sets hold distinct
    * elements, so the intersection is built once and |A∪B| = |A| + |B| −
    * |A∩B|. Both columns sit behind constraint_barrier, so a filter on
    * `jaccard` stays above them and shares their one evaluation with the
    * projection instead of inlining the set operations. */
  private def withJaccard(df: DataFrame): DataFrame = {
    val inter = df.withColumn("n_inter", GraftFunctions.constraintBarrier(
      size(array_intersect(col("a_toks"), col("b_toks")))))
    val union = size(col("a_toks")) + size(col("b_toks")) - col("n_inter")
    inter.withColumn("jaccard", GraftFunctions.constraintBarrier(
      when(union > 0, col("n_inter").cast("double") / union)))
  }

  /** Distinct word n-gram shingles (whole text as one shingle when shorter
    * than n tokens) — a native codegen'd kernel
    * ([[graft.functions.ExprKernels.shingleSet]]); the equivalent
    * nested-HOF chain evaluated ~8x slower and dominated dedup-query codegen
    * compile time. */
  def shingleSet(textCol: Column, n: Int): Column =
    call_function("shingle_set", textCol, lit(n))

  /** MinHash+LSH near-dup candidate pairs with exact shingle-Jaccard
    * verification.
    *
    * Pipeline: signature (k hashes) → split into `bands` band-hashes →
    * explode → shuffle on (band, bandHash) → within-bucket self-join →
    * distinct pairs → verify with exact Jaccard ≥ `threshold`.
    *
    * @return (a_id, b_id, jaccard) with a_id < b_id
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 8,
      shingleSize: Int = 3,
      threshold: Double = 0.95,
      maxBucketSize: Int = 1000): DataFrame = {
    val spark = df.sparkSession
    GraftFunctions.register(spark)
    val rows = numHashes / bands
    // signatures feed three plan branches (banding + both verify sides),
    // but column pruning already keeps the hashing out of both verify
    // sides, so it runs once per row with or without the persist. What the
    // persist buys: it is never unpersisted, so a later call over a
    // plan-equal input reads these rows from the session-shared cache
    // instead of rescanning and rehashing (warm q_dedup_minhash at sf0.01,
    // local[4], median of 7: 1.79 s with it, 4.47 s without). The cached
    // frame outlives the call.
    // The persist carries raw text, NOT the shingle set: only candidate
    // pairs ever need shingles for verification, so shingle_set is
    // evaluated ABOVE the verify join (2·|pairs| evaluations instead of
    // |corpus|, and the cache stores one text column instead of a same-
    // sized shingle array built for rows that never reach verify).
    // NOT SmallScan.spread here: a measured A/B put the extra exchange of
    // text rows above the single-core hashing it parallelizes (~0.15 s of
    // kernel work vs ~0.3-0.7 s of shuffle+sort — OPTIMIZATION_r06.md).
    val sigs = df.select(
      col(idCol).as("id"),
      col(textCol).as("text"),
      GraftFunctions.minhashSig(col(textCol)).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // band j = hash of signature slice [j*rows, (j+1)*rows)
    val banded = sigs.select(col("id"), posexplode(
      array((0 until bands).map(j =>
        hash(slice(col("sig"), j * rows + 1, rows)).as(s"b$j")): _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))

    // Within-bucket pairs from ONE capped members array (sorted_pairs
    // kernel) instead of a bucket self-join — guide §2.4 remove-shuffles —
    // with the bucket cap (hot-key guard) applied by the bounded top-k
    // aggregate itself: `bounded_min_list(id, cap)` keeps exactly the cap
    // smallest ids per bucket, the member set the previous
    // row_number-window + filter + sort_array(collect_list) formulation
    // kept, but with PARTIAL aggregation — a hot bucket ships at most cap
    // ids per map task instead of every row through the window's exchange
    // + sort (guide §2.3/§2.5). Dropped rows stay counted via observe
    // (count minus kept, not silent). a_id < b_id holds because members is
    // sorted on the unique id; pairs are identical to the self-join's.
    val candidates = banded
      .groupBy(col("band"), col("band_hash"))
      .agg(GraftFunctions.boundedMinList(col("id"), maxBucketSize).as("members"),
        count(lit(1)).as("n_in_bucket"))
      .observe("minhash_bucket_cap",
        sum(greatest(col("n_in_bucket") - size(col("members")), lit(0L)))
          .as("rows_dropped_by_bucket_cap"))
      .select(explode(GraftFunctions.sortedPairs(col("members"))).as("p"))
      .select(col("p").getField("a").as("a_id"), col("p").getField("b").as("b_id"))
      .distinct()

    // exact verification on word-shingle sets, computed ABOVE the join so
    // only candidate rows pay the shingle kernel (Catalyst prunes columns
    // through joins but never pushes computed projections below them).
    // Join strategy left to the planner/AQE: a measured shuffled-hash hint
    // here traded ~0.1 s of warm sort time for ~1.2 s of extra one-off
    // planning/codegen per session — a net loss for a run-once query
    // (OPTIMIZATION_r06.md).
    val ta = sigs.select(col("id").as("a_id"), col("text").as("a_text"))
    val tb = sigs.select(col("id").as("b_id"), col("text").as("b_text"))
    candidates
      .join(ta, "a_id").join(tb, "b_id")
      // constraint_barrier (the non-deterministic identity, see
      // BloomProbe): without it, predicate pushdown inlines the threshold
      // filter into the JOIN CONDITION, substituting the shingle kernel
      // once per reference jaccard makes to each side. Barriered,
      // the filter stays above this project and each shingle set is built
      // exactly once per candidate row.
      .withColumn("a_toks", GraftFunctions.constraintBarrier(
        shingleSet(col("a_text"), shingleSize)))
      .withColumn("b_toks", GraftFunctions.constraintBarrier(
        shingleSet(col("b_text"), shingleSize)))
      .transform(withJaccard)
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Resolve near-dup PAIRS into groups: iterative min-label propagation
    * (distributed connected components). Each round joins every id with its
    * neighbors' current labels and keeps the minimum; converges in
    * O(log(max component diameter)) rounds — dedup clusters are tiny, so 2-3
    * shuffles in practice. Returns (id, keep_id) where keep_id is the
    * smallest id of the component (the canonical survivor).
    *
    * Iteration hygiene at scale: each round `localCheckpoint`s the labels —
    * truncating lineage so plan re-analysis cost stays constant per round
    * instead of growing with the join chain — and the convergence signal
    * rides the SAME job via `observe` (an accumulator-backed metric filled
    * while the checkpoint materializes), so each round is ONE Spark job, not
    * a label job plus a separate convergence count.
    */
  def resolveGroups(pairs: DataFrame, maxIterations: Int = 10): DataFrame = {
    val edges = pairs.select(col("a_id"), col("b_id"))
      .unionByName(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .distinct()
      .cache()
    var labels = edges.select(col("a_id").as("id"))
      .distinct()
      .withColumn("keep_id", col("id"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIterations) {
      // each node adopts min(own label, neighbors' labels)
      val viaNeighbors = edges
        .join(labels.withColumnsRenamed(Map("id" -> "b_id", "keep_id" -> "nb_keep")), "b_id")
        .groupBy(col("a_id").as("id"))
        .agg(min(col("nb_keep")).as("nb_min"))
      val obs = org.apache.spark.sql.Observation(s"cc_converge_$iter")
      val next = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"), col("keep_id"),
          least(col("keep_id"), coalesce(col("nb_min"), col("keep_id"))).as("new_keep"))
        .observe(obs, sum(when(col("new_keep") < col("keep_id"), 1L).otherwise(0L)).as("n_changed"))
        .select(col("id"), col("new_keep").as("keep_id"))
        .localCheckpoint() // materializes: one job computes labels AND the metric
      changed = obs.get("n_changed").asInstanceOf[Long]
      labels = next
      iter += 1
    }
    edges.unpersist()
    labels
  }

  /** Generic 64-bit-signature near-dup pairs: 4×16-bit band blocking
    * (pigeonhole: any pair within Hamming distance ≤3 shares at least one
    * exact 16-bit band), then exact Hamming verification ≤ `maxDistance`.
    * Works for ANY 64-bit perceptual signature — text simhash, image phash.
    *
    * @param sigs (id, sig: long)
    */
  def hammingPairs64(
      sigs: DataFrame,
      maxDistance: Int,
      maxBucketSize: Int,
      observeName: String): DataFrame = {
    GraftFunctions.register(sigs.sparkSession)
    val banded = sigs.select(col("id"), col("sig"), posexplode(array(
      (0 until 4).map(j =>
        shiftrightunsigned(col("sig"), j * 16).bitwiseAND(lit(0xffffL))): _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_key"))

    // Pairs from ONE capped members array per bucket (see minhashPairs):
    // members carry (id, sig) — 16 bytes/row, bounded by the cap via the
    // bounded top-k aggregate (struct ordering = id ordering, ids unique),
    // so a hot bucket ships at most cap elements per map task and the
    // Hamming distance is computed in place, no join at all. Dropped rows
    // stay counted via observe. Members sorted on the unique id ⇒ a_id < b_id.
    banded
      .groupBy(col("band"), col("band_key"))
      .agg(GraftFunctions.boundedMinList(
          struct(col("id"), col("sig")), maxBucketSize).as("members"),
        count(lit(1)).as("n_in_bucket"))
      .observe(observeName,
        sum(greatest(col("n_in_bucket") - size(col("members")), lit(0L)))
          .as("rows_dropped_by_bucket_cap"))
      .select(explode(GraftFunctions.sortedPairs(col("members"))).as("p"))
      .select(
        col("p").getField("a").getField("id").as("a_id"),
        col("p").getField("b").getField("id").as("b_id"),
        bit_count(col("p").getField("a").getField("sig")
          .bitwiseXOR(col("p").getField("b").getField("sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDistance)
  }

  /** SimHash near-dup pairs over text (see [[hammingPairs64]]), with
    * optional exact shingle-Jaccard confirmation. */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDistance: Int = 3,
      maxBucketSize: Int = 1000,
      jaccardThreshold: Double = 0.0,
      shingleSize: Int = 3): DataFrame = {
    val spark = df.sparkSession
    GraftFunctions.register(spark)
    val sigs = df.select(col(idCol).as("id"),
      col(textCol).as("text"),
      GraftFunctions.simhash64(col(textCol)).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = hammingPairs64(sigs.select(col("id"), col("sig")),
      maxDistance, maxBucketSize, "simhash_bucket_cap")
    if (jaccardThreshold <= 0.0) pairs
    else {
      // optional exact content confirmation: kills hash-collision pairs of
      // unrelated docs (a 64-bit simhash collides eventually at corpus
      // scale). Shingles are built above the join — candidate rows only —
      // for the same reasons as in minhashPairs.
      val ta = sigs.select(col("id").as("a_id"), col("text").as("a_text"))
      val tb = sigs.select(col("id").as("b_id"), col("text").as("b_text"))
      pairs.join(ta, "a_id").join(tb, "b_id")
        .withColumn("a_toks", GraftFunctions.constraintBarrier(
          shingleSet(col("a_text"), shingleSize)))
        .withColumn("b_toks", GraftFunctions.constraintBarrier(
          shingleSet(col("b_text"), shingleSize)))
        .transform(withJaccard)
        .filter(col("jaccard") >= jaccardThreshold)
        .select(col("a_id"), col("b_id"), col("hamming"))
    }
  }

  /** Image near-duplicates by perceptual-hash Hamming distance — the IMAGE
    * analog of [[simhashPairs]] for the image+caption corpus: one
    * decode+phash per blob (fused kernel), then the same band-bucketed
    * candidate generation and exact verify. At 100 TB the blobs never
    * shuffle: only (id, 64-bit sig) enters the banding exchange. */
  def phashPairs(
      df: DataFrame,
      idCol: String,
      bytesCol: String,
      maxDistance: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    hammingPairs64(
      df.select(col(idCol).as("id"),
        GraftFunctions.phash64(col(bytesCol)).as("sig")),
      maxDistance, maxBucketSize, "phash_bucket_cap")
  }
}
