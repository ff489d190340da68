package graft.core

import org.apache.spark.sql.{Column, DataFrame}

/** Parallelism floor for unsplittable small scans (guide §2.5, input skew:
  * "one huge unsplittable file — repartition immediately after the read").
  *
  * A single-file single-row-group parquet yields ONE non-empty scan
  * partition, so a compute-heavy narrow chain (HTML parse, image decode,
  * signature hashing) downstream of it runs on one core no matter how many
  * the session has. [[spread]] spreads such a scan across
  * `defaultParallelism` partitions — and is a NO-OP whenever the plan
  * already carries at least that many partitions, so a real multi-row-group
  * table at scale never pays the extra exchange. Apply to the narrow
  * key/text frame BEFORE attaching heavy derived columns, so the exchange
  * moves input rows, not computed payloads. Results are partitioning-
  * independent by the engine's determinism rule (every operator orders by
  * data, never by partition iteration), and the round-robin itself is
  * retry-deterministic via Spark's sort-before-repartition.
  *
  * Keyed by the query's final order key, the spread range-partitions
  * instead of round-robin. A final ORDER BY over a round-robin frame plans
  * its own range exchange, and Spark's `RangePartitioner` samples its bounds
  * by reading every partition of the stage below it in full, so the whole
  * heavy chain runs twice: once in the sample job, once in the shuffle-map
  * job (for `q_c5_pipeline`, its 11-stage annotate chain). A range partitioning on that key satisfies the final sort,
  * which then needs no exchange of its own, and the sample job reads only
  * the narrow scan frame. A key that is not a column of the scan frame
  * (a score, a pair id built by a join) keeps the round-robin.
  *
  * [[sortSmall]] is the other end: a result that the query's own semantics
  * bound (groups of a fixed flag or license domain, k neighbours of a fixed
  * query set) is sorted in one partition. A single partition satisfies the
  * global sort, so Spark plans neither a range exchange nor the
  * `RangePartitioner` job that samples its bounds; the stages below the
  * last exchange keep their parallelism. A result that can grow with the
  * input (dedup pairs, per-document rows) keeps `orderBy`.
  */
object SmallScan {
  def spread(df: DataFrame, by: Column*): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    // Gate on the OPTIMIZER's size estimate, not df.rdd.getNumPartitions:
    // materializing the RDD forces physical planning + whole-stage-codegen
    // compilation of the subtree just to read a partition count — measured
    // ~0.5-1 s of pure overhead per query construction. A frame at most one
    // file-split wide cannot scan with more than a handful of partitions,
    // which is exactly the case the repartition exists for.
    val oneSplit = BigInt(spark.sessionState.conf.filesMaxPartitionBytes)
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes > oneSplit) df
    else if (by.isEmpty) df.repartition(p)
    else df.repartitionByRange(p, by: _*)
  }

  /** `df` sorted by `keys` in one partition; only for a bounded result. */
  def sortSmall(df: DataFrame, keys: Column*): DataFrame = df.coalesce(1).orderBy(keys: _*)
}
