package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>` cast to double for engine-stable arithmetic).
  *
  * Brute force is the exact baseline: broadcast the (small) query set and
  * scan the corpus once — a single narrow stage plus a per-query top-k, no
  * corpus shuffle, which is the right plan at any corpus size as long as the
  * query set is small. The LSH variant buckets by random-hyperplane sign
  * bits so the scan only touches colliding buckets — the scale path when the
  * query side is also large.
  */
object Ann {

  /** Sequential dot product (index order — deterministic and identical to a
    * C++ loop, so oracle engines agree bit-for-bit). Tight-loop expression;
    * needs GraftFunctions.register on the session (all entry points do). */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vecDot(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** [[cosine]] with the two norms hoisted out of the pair loop: callers
    * compute `sqrt(dot(v, v))` ONCE per row before the join and pass it in,
    * so each candidate pair costs one dot product instead of three (the
    * per-pair `dot(a,a)`/`dot(b,b)` dominated the scoring stage — guide
    * §1.2 per-task work). Bit-identical to [[cosine]]: same operations in
    * the same order, only evaluated earlier. */
  def cosineNormed(a: Column, b: Column, aNorm: Column, bNorm: Column): Column =
    dot(a, b) / (aNorm * bNorm)

  /** `sqrt(dot(v, v))` — the hoisted norm factor of [[cosineNormed]]. */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** The query side of every search: `(q_id, q_vec, <key columns>, q_norm)`
    * — ids renamed, vectors cast to double, `withKey` adding the join key
    * (a probed cell, an LSH bucket; identity for brute force) before the
    * hoisted norm. */
  private def queryVectors(queries: DataFrame, qidCol: String, vecCol: String)(
      withKey: DataFrame => DataFrame = identity): DataFrame =
    withKey(queries.select(col(qidCol).as("q_id"),
      col(vecCol).cast("array<double>").as("q_vec")))
      .withColumn("q_norm", norm(col("q_vec")))

  /** Score the candidate pairs of `pairs` (a join of a `(nn_id, c_vec,
    * c_norm)` corpus side with [[queryVectors]]) and keep each query's top
    * `k` by `(cos desc, nn_id)`. */
  private def rankTopK(pairs: DataFrame, k: Int): DataFrame = {
    val scored = pairs.select(col("q_id"), col("nn_id"),
      cosineNormed(col("q_vec"), col("c_vec"), col("q_norm"), col("c_norm")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Exact top-k cosine neighbors for each query row.
    *
    * @param corpus  (idCol, vecCol) table — scanned once, never shuffled
    * @param queries (qidCol, vecCol) small table — broadcast
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      qidCol: String,
      k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // parallelism floor on the scored (stream) side — no-op at scale where
    // the corpus scan already carries >= defaultParallelism partitions
    val c = graft.core.SmallScan.spread(
      corpus.select(col(idCol).as("nn_id"), col(vecCol).cast("array<double>").as("c_vec")))
      .withColumn("c_norm", norm(col("c_vec")))
    rankTopK(c.crossJoin(broadcast(queryVectors(queries, qidCol, vecCol)())), k)
  }

  /** Deterministic trainless IVF: `nCells` seeded pseudo-random unit-ish
    * centroids; every corpus vector lands in its nearest cell, queries probe
    * the `nProbe` nearest cells. No fitted model object — centroids are a
    * pure function of (seed, cell, dim), identical on every executor. */
  def ivfCentroid(cell: Int, dim: Int): Seq[Double] =
    (0 until dim).map { d =>
      val h = graft.functions.TextHashing.splitmix64(cell.toLong * 7919L + d + 1)
      (h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }

  private def cellScores(vec: Column, dim: Int, nCells: Int): Column = {
    val cents = array((0 until nCells).map(c => array(ivfCentroid(c, dim).map(lit): _*)): _*)
    transform(cents, c => dot(c, vec))
  }

  /** (score, cell) structs with the nCells×dim dot products evaluated ONCE
    * (round 1 instantiated the scores array twice in ivfCell and nCells times
    * in ivfProbeCells when subexpression elimination missed). */
  private def scoredCells(vec: Column, dim: Int, nCells: Int): Column =
    zip_with(cellScores(vec, dim, nCells),
      sequence(lit(0), lit(nCells - 1)),
      (s, c) => struct(s.as("s"), c.as("cell")))

  /** Nearest-centroid cell id for a (double-array) vector column (first max
    * wins ties, matching array_position semantics). */
  def ivfCell(vec: Column, dim: Int, nCells: Int): Column =
    aggregate(scoredCells(vec, dim, nCells),
      struct(lit(Double.NegativeInfinity).as("s"), lit(-1).as("cell")),
      (acc, x) => when(x.getField("s") > acc.getField("s"), x).otherwise(acc))
      .getField("cell")

  /** Top-`nProbe` cell ids for a query vector (by centroid dot product). */
  def ivfProbeCells(vec: Column, dim: Int, nCells: Int, nProbe: Int): Column =
    slice(reverse(array_sort(scoredCells(vec, dim, nCells))), 1, nProbe)
      .getField("cell")

  /** IVF ANN: corpus bucketed once by nearest centroid; each query probes
    * only its `nProbe` nearest cells. The corpus-side `ivfCell` is the
    * partition key at scale (write bucketed/partitioned by cell → a probe
    * reads nProbe/nCells of the data). */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      qidCol: String,
      dim: Int,
      nCells: Int,
      nProbe: Int,
      k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("nn_id"),
      col(vecCol).cast("array<double>").as("c_vec"))
      .withColumn("cell", ivfCell(col("c_vec"), dim, nCells))
      .withColumn("c_norm", norm(col("c_vec")))
    val q = queryVectors(queries, qidCol, vecCol)(
      _.withColumn("cell", explode(ivfProbeCells(col("q_vec"), dim, nCells, nProbe))))
    rankTopK(c.join(broadcast(q), "cell"), k)
  }

  /** The IVF 100-TB path, part 1: write the corpus PARTITIONED BY its IVF
    * cell. One pass assigns cells and lays the data out so a probe later
    * reads only nProbe/nCells of the files. */
  def ivfWriteBucketed(
      corpus: DataFrame,
      path: String,
      idCol: String,
      vecCol: String,
      dim: Int,
      nCells: Int): Unit = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    corpus.select(col(idCol).as("nn_id"),
      col(vecCol).cast("array<double>").as("c_vec"))
      .withColumn("cell", ivfCell(col("c_vec"), dim, nCells))
      .write.partitionBy("cell").mode("overwrite").parquet(path)
  }

  /** The IVF 100-TB path, part 2: probe a [[ivfWriteBucketed]] corpus. The
    * probed cell set is collected (bounded by |queries| × nProbe — the query
    * side is small by the same contract that lets it broadcast) and pushed
    * into the scan as a STATIC partition filter, so only the probed cells'
    * directories are read — the `.explain` shows the pruned PartitionFilters
    * and the spec asserts via input_file_name that untouched cells cost no
    * I/O. Result is identical to [[ivfTopK]] on the same parameters. */
  def ivfTopKBucketed(
      path: String,
      queries: DataFrame,
      vecCol: String,
      qidCol: String,
      dim: Int,
      nCells: Int,
      nProbe: Int,
      k: Int): DataFrame = {
    val spark = queries.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val q = queryVectors(queries, qidCol, vecCol)(
      _.withColumn("cell", explode(ivfProbeCells(col("q_vec"), dim, nCells, nProbe))))
    val probedCells = q.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val c = spark.read.parquet(path)
      .filter(col("cell").isin(probedCells: _*))
      .withColumn("c_norm", norm(col("c_vec")))
    rankTopK(c.join(broadcast(q), "cell"), k)
  }

  /** Random-hyperplane LSH signature: `nBits` sign bits packed into a long.
    * Hyperplanes are fixed seeded pseudo-random vectors (splitmix64 stream),
    * identical on every executor — no fitted model object to ship. */
  def rhpSignature(vec: Column, dim: Int, nBits: Int): Column = {
    require(nBits <= 63)
    val planes: Seq[Seq[Double]] = (0 until nBits).map { b =>
      (0 until dim).map { d =>
        // map splitmix64 to (-1, 1)
        val h = graft.functions.TextHashing.splitmix64(b.toLong * 131071L + d)
        (h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
      }
    }
    val planeArr = array(planes.map(p => array(p.map(lit): _*)): _*)
    aggregate(
      zip_with(planeArr, sequence(lit(0), lit(nBits - 1)),
        (plane, idx) => when(dot(plane, vec.cast("array<double>")) >= 0,
          pow(lit(2.0), idx.cast("double")).cast("long")).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Bucketed ANN: join corpus and queries on the LSH bucket, rank within
    * collisions. Trades recall for touching only matching buckets. */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      qidCol: String,
      dim: Int,
      nBits: Int,
      k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("nn_id"),
      col(vecCol).cast("array<double>").as("c_vec"))
      .withColumn("bucket", rhpSignature(col("c_vec"), dim, nBits))
      .withColumn("c_norm", norm(col("c_vec")))
    val q = queryVectors(queries, qidCol, vecCol)(
      _.withColumn("bucket", rhpSignature(col("q_vec"), dim, nBits)))
    rankTopK(c.join(broadcast(q), "bucket"), k)
  }
}
