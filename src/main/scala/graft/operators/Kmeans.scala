package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, IntegerType, StructField, StructType}

/** Distributed k-means for IVF coarse quantization — the TRAINED
  * alternative to [[Similarity.cellId]]'s sign-pattern quantizer (the
  * public Lloyd's algorithm, the centroid layer of every IVF ANN
  * index). Everything runs in EXACT INTEGER arithmetic so the result
  * is bit-identical under any partitioning — the property that makes
  * an oracle-checked query possible at all:
  *
  *   - vectors quantize once to per-dimension Longs
  *     (`round(x * 65536)` — 16 fractional bits);
  *   - assignment distance is an exact Long sum of squared integer
  *     diffs (64 dims × (2^18)^2 ≈ 2^42, far inside Long), computed
  *     by the fused native argmin kernel
  *     ([[graft.plans.NearestCellId]] — overflow fails loudly, never
  *     wraps); the `zip_with`+`aggregate` HOF forms survive as the
  *     independent spec twins ([[assign]], [[cellIdExprHof]]);
  *   - ties break on (distance, centroid id) lexicographically —
  *     order-independent in both forms;
  *   - centroid updates are exact integer sums + truncating division
  *     (the one deliberate deviation from float Lloyd's: a rounding
  *     scheme both engines and every partitioning agree on).
  *
  * Scale shape: per iteration, the centroid matrix rides to tasks as
  * ONE referenced object (k small — 256-4096 cells in production),
  * assignment is a MAP-ONLY projection, and the only shuffle is the
  * (cid, dim)-keyed sum — map-side combining, k×d control-plane
  * collect. Iteration count is fixed (production IVF trains on a
  * SAMPLE then assigns the full corpus once — the same functions
  * compose that way here: train on a sampled df, assign the full
  * one with [[cellIdExpr]]). */
object Kmeans {

  /** 16-fractional-bit integer quantization of a float/double vector
    * column. A NULL vector fails the job loudly (codegen'd per-row
    * assert — the Ranking.globalRank discipline): a silent
    * null-distance would otherwise let rows vanish from argmin
    * aggregates instead of surfacing the bad input. */
  def quantize(v: Column): Column =
    when(assert_true(v.isNotNull,
        lit("Kmeans: NULL embedding vector — filter or impute NULLs " +
          "before training/assignment")).isNull,
      transform(v, x => round(x * 65536.0).cast("long")))

  private def centroidDf(spark: SparkSession,
                         centroids: Array[Array[Long]]): DataFrame = {
    val rows = centroids.zipWithIndex.map { case (c, i) =>
      org.apache.spark.sql.Row(i, c.toSeq)
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(rows: _*)),
      StructType(Seq(StructField("cid", IntegerType, nullable = false),
        StructField("cv", ArrayType(LongType), nullable = false))))
  }

  private[operators] def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** The trained centroid matrix as ONE plan literal (`typedLit` of
    * array<array<long>> — a single Literal node holding ArrayData, so
    * k×d integers never explode the expression tree the way k×d
    * `lit()` nodes would). */
  private[operators] def centroidLit(centroids: Array[Array[Long]]): Column =
    typedLit(centroids.map(_.toSeq).toSeq)

  /** Per-cell (distance, cid) structs for a quantized vector — struct
    * order is lexicographic, so array_min/array_sort over this IS the
    * (dist, cid)-tie-broken argmin/ranking [[assign]] computes. */
  private def cellDists(qv: Column,
                        centroids: Array[Array[Long]]): Column =
    transform(centroidLit(centroids),
      (cv, i) => struct(sqDist(qv, cv).as("dist"), i.cast("int").as("cid")))

  /** EXPRESSION-level nearest-centroid assignment — [[assign]] as a
    * pure per-row Column, no crossJoin, no groupBy, no shuffle: the
    * shape an INDEX BUILD and a streaming append need (assignment is
    * embarrassingly parallel; the aggregate form exists for training,
    * where the same rows then feed centroid updates). Bit-identical
    * to [[assign]]'s cid by construction: same exact integer
    * distances, same (dist, cid) lexicographic tie-break (pinned in
    * TrainedIvfSpec). */
  def cellIdExpr(qv: Column, centroids: Array[Array[Long]]): Column =
    graft.plans.GraftFunctions.nearestCellId(qv, centroids)

  /** The pre-native HOF form of [[cellIdExpr]], kept as the
    * independent twin ExpressionSpec pins the native expression
    * against: the HOF chain exercises Spark's own array_min/transform
    * machinery, so agreement is evidence, not tautology. Not a hot
    * path — it re-evaluates `qv` once per centroid lambda. */
  private[graft] def cellIdExprHof(qv: Column,
                                   centroids: Array[Array[Long]]): Column =
    array_min(cellDists(qv, centroids)).getField("cid")

  /** The `probes` nearest cells of a quantized vector, nearest first
    * — the multi-probe read side of a trained IVF index (probing
    * P > 1 cells is where a trained quantizer buys its recall at a
    * fixed scan budget). Deterministic: exact integer distances,
    * (dist, cid) tie-break. */
  def nearestCellsExpr(qv: Column, centroids: Array[Array[Long]],
                       probes: Int): Column = {
    require(probes >= 1, s"probes >= 1, got $probes")
    graft.plans.GraftFunctions.nearestCellIds(qv, centroids, probes)
  }

  /** HOF twin of [[nearestCellsExpr]] (see [[cellIdExprHof]]). */
  private[graft] def nearestCellsExprHof(qv: Column,
                                         centroids: Array[Array[Long]],
                                         probes: Int): Column =
    transform(slice(array_sort(cellDists(qv, centroids)), 1, probes),
      s => s.getField("cid"))

  /** Assign every row of `quantized` (vec_id, qv) to its nearest
    * centroid via the AGGREGATE form: broadcast k centroid rows,
    * crossJoin, exact integer argmin with (dist, cid) tie-break
    * through min-of-struct. Output (vec_id, qv, cid).
    *
    * This is the INDEPENDENT TWIN the specs pin [[cellIdExpr]]
    * against (TrainedIvfSpec/KmeansSpec) — it reaches the same argmin
    * through Spark's own join + aggregate machinery, so agreement is
    * evidence. Production paths (training iterations, [[ivfTopOne]],
    * every index build) use the native [[cellIdExpr]] projection:
    * map-only, no crossJoin row blow-up, no per-vec_id re-aggregation
    * shuffle. */
  def assign(quantized: DataFrame,
             centroids: Array[Array[Long]]): DataFrame = {
    val spark = quantized.sparkSession
    quantized.crossJoin(broadcast(centroidDf(spark, centroids)))
      .select(col("vec_id"), col("qv"),
        struct(sqDist(col("qv"), col("cv")).as("dist"),
          col("cid").as("cid")).as("dc"))
      .groupBy("vec_id")
      .agg(min(col("dc")).as("m"), first(col("qv")).as("qv"))
      .select(col("vec_id"), col("qv"), col("m.cid").as("cid"))
  }

  /** Train `k` centroids with `iters` exact-integer Lloyd rounds.
    * Init = the vectors of the k smallest vec_ids (deterministic; a
    * production trainer would k-means++ on a sample — init choice
    * only affects quality, never the determinism contract). Empty
    * cells keep their previous centroid. Returns the centroid matrix
    * (index = cell id). */
  def train(embeddings: DataFrame, k: Int, iters: Int,
            vecCol: String = "embedding"): Array[Array[Long]] =
    trainQuantized(
      embeddings.select(col("vec_id"), quantize(col(vecCol)).as("qv")),
      k, iters)

  /** [[train]] over ALREADY-QUANTIZED long vectors — the entry point
    * residual-PQ training needs (residuals live in the quantized
    * integer domain already; running them through [[quantize]] again
    * would re-scale by 2^16). Input: (vec_id, qv: array<long>). */
  def trainQuantized(input: DataFrame, k: Int, iters: Int): Array[Array[Long]] = {
    require(k >= 1 && iters >= 1, s"need k>=1, iters>=1: k=$k iters=$iters")
    val quantized = input
      .select(col("vec_id"), col("qv"))
      .cache()
    try {
      var centroids = quantized.orderBy("vec_id").limit(k)
        .collect().map(_.getSeq[Long](1).toArray)
      require(centroids.length == k,
        s"need at least $k vectors to seed $k cells, got ${centroids.length}")
      var it = 0
      // Lloyd rounds plan with AQE OFF and the reduce side sized to the
      // k×d key space (the probe discipline): each round's collect is
      // bounded at k×d rows by construction (map-side partial
      // aggregation means the exchange moves ≤ k×d rows per map task
      // at ANY corpus size), so AQE re-optimization buys nothing and
      // its per-round withFinalPlanUpdate re-planning is pure driver
      // cost × iters. Scale-adaptive: partitions derive from k×d.
      val d = centroids.head.length
      val rounds = graft.sources.SnapshotTable.loopFrame(quantized,
        Some(math.max(1L, k.toLong * d / 50000L + 1).toInt))
      while (it < iters) {
        // (cid, dim)-keyed exact sums; truncating integer mean.
        // Assignment is the native map-only argmin (bit-identical to
        // the aggregate [[assign]] twin by the spec pins): the
        // per-iteration cost is ONE projection + the k×d-keyed sum —
        // no crossJoin row blow-up, no per-vec_id shuffle.
        val sums = rounds
          .select(cellIdExpr(col("qv"), centroids).as("cid"),
            posexplode(col("qv")).as(Seq("dim", "x")))
          .groupBy("cid", "dim")
          .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
          .collect()
        val next = centroids.map(_.clone())
        sums.foreach { r =>
          next(r.getInt(0))(r.getInt(1)) = r.getLong(2) / r.getLong(3)
        }
        centroids = next
        it += 1
      }
      centroids
    } finally { quantized.unpersist(); () }
  }

  /** IVF probe with the trained quantizer, exact within the cell:
    * queries (selected by `queryPred` over vec_id) scan ONLY their
    * own cell, integer distances, per-query argmin with (dist, id)
    * tie-break. Identical vectors land in identical cells by
    * construction, so planted exact twins are always found — the
    * property the oracle-checked query pins. */
  def ivfTopOne(embeddings: DataFrame, centroids: Array[Array[Long]],
                queryPred: Column, vecCol: String = "embedding"): DataFrame = {
    val assigned = embeddings
      .select(col("vec_id"), quantize(col(vecCol)).as("qv"))
      .withColumn("cid", cellIdExpr(col("qv"), centroids))
    val queries = broadcast(assigned.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("qv").as("quv"),
        col("cid").as("qcid")))
    assigned.join(queries,
        col("cid") === col("qcid") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        struct(sqDist(col("qv"), col("quv")).as("dist"),
          col("vec_id").as("cand_id")).as("dc"))
      .groupBy("query_id")
      .agg(min(col("dc")).as("m"))
      .select(col("query_id"), col("m.cand_id").as("match_id"),
        col("m.dist").as("dist"))
  }
}
