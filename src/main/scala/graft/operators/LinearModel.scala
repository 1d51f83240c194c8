package graft.operators

import java.math.BigInteger

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Trained model-based quality scoring — the "train a quality
  * classifier, score every document, filter by the score" stage of
  * the public LLM-corpus pipelines (fastText-style quality filters),
  * built on the repo's integer-exact discipline so DISTRIBUTED
  * training is bit-identical to a single-threaded reference and to
  * itself under any partitioning:
  *
  *   - Features are INTEGER-valued columns (callers quantize, e.g.
  *     `floor(x * 4096)` with a power-of-two scale so the multiply
  *     is IEEE-exact). All sufficient statistics are then exact
  *     integer sums — commutative, so partial aggregation order
  *     cannot change a single bit.
  *   - [[ridgeFit]] is the CLOSED-FORM linear probe: one distributed
  *     aggregate builds the (d+1)×(d+1) ridge normal equations in
  *     DECIMAL(38,0) (exact far past 100 TB row counts), and the
  *     driver solves them by Cramer determinants over BigInteger —
  *     weights are a deterministic function of exact integers, so an
  *     independent engine (the DuckDB oracle) reproduces them
  *     bit-for-bit.
  *   - [[logisticFit]] is the ITERATIVE binary classifier: weights
  *     live as integers at scale 2^20; each iteration computes the
  *     per-row residual quantized to 1/65536 (a deterministic double
  *     function of exact integers) and one map-side-combined
  *     aggregate of exact integer gradient sums; the driver update
  *     re-quantizes. One Spark job per iteration, O(d) state on the
  *     driver — the classic distributed-GD shape with none of its
  *     nondeterminism.
  *
  * Scale: both trainers shuffle nothing but a d+1-wide partial
  * aggregate per pass; scoring is a pure Column expression (map-only,
  * whole-stage-codegen'd). Feature dot products in the hot loop use
  * `aggregate`/`zip_with` HOFs — at production d the native-kernel
  * escape hatch is the same one the ANN stack took
  * ([[graft.plans]] NearestCellId & co., expressions.scala). */
object LinearModel {

  /** Weight scale of the fixed-point logistic trainer (2^20: ~6
    * decimal digits of weight resolution). */
  val WScale: Long = 1L << 20

  /** Residual quantization of the logistic gradient (1/65536 grid —
    * the repo-wide 16-bit fixed-point convention). */
  val QScale: Long = 1L << 16

  /** Ridge normal equations over integer features, solved exactly.
    * `xCols` must be integer-valued (quantized) columns; the design
    * is `[1, x1..xd]`; `lambda` (an integer) is added to EVERY
    * diagonal entry including the intercept's — the estimator is
    * defined that way here so the oracle twin is one uniform SQL
    * expression. Returns d+1 weights (intercept first): exactly
    * `doubleValue(det Aᵢ) / doubleValue(det A)` per Cramer over the
    * exact integer statistics. */
  def ridgeFit(df: DataFrame, xCols: Seq[Column], yCol: Column,
               lambda: Long = 1L): Array[Double] = {
    val d = xCols.length
    require(d >= 1, "ridgeFit: at least one feature")
    val dec = DecimalType(38, 0)
    val design: Seq[Column] = lit(1L) +: xCols
    // Upper-triangle Gram + rhs, one aggregate pass, exact DECIMAL sums.
    val gramAggs = for { i <- 0 to d; j <- i to d } yield
      sum((design(i) * design(j)).cast(dec)).as(s"a_${i}_$j")
    val rhsAggs = (0 to d).map(i => sum((design(i) * yCol).cast(dec))
      .as(s"b_$i"))
    val row = df.agg((gramAggs ++ rhsAggs).head,
      (gramAggs ++ rhsAggs).tail: _*).head()
    def big(name: String): BigInteger = {
      val v = row.getAs[java.math.BigDecimal](name)
      if (v == null) BigInteger.ZERO else v.toBigIntegerExact
    }
    val a = Array.tabulate(d + 1, d + 1) { (i, j) =>
      val base = if (j >= i) big(s"a_${i}_$j") else big(s"a_${j}_$i")
      if (i == j) base.add(BigInteger.valueOf(lambda)) else base
    }
    val b = Array.tabulate(d + 1)(i => big(s"b_$i"))
    val detA = detBareiss(a.map(_.clone())) // detBareiss mutates its input
    require(detA.signum != 0,
      "ridgeFit: singular normal equations (lambda = 0 with collinear " +
        "features?) — increase lambda")
    Array.tabulate(d + 1) { i =>
      val ai = a.map(_.clone())
      (0 to d).foreach(r => ai(r)(i) = b(r))
      detBareiss(ai).doubleValue / detA.doubleValue
    }
  }

  /** Exact integer determinant — Bareiss fraction-free elimination
    * (every division is exact by construction). Mutates `m`. */
  private def detBareiss(m: Array[Array[BigInteger]]): BigInteger = {
    val n = m.length
    var prev = BigInteger.ONE
    var sign = 1
    for (k <- 0 until n - 1) {
      if (m(k)(k).signum == 0) {
        // pivot: find a nonzero row below, swap (flips sign)
        val p = (k + 1 until n).find(m(_)(k).signum != 0).getOrElse(
          return BigInteger.ZERO)
        val t = m(k); m(k) = m(p); m(p) = t; sign = -sign
      }
      for (i <- k + 1 until n; j <- k + 1 until n)
        m(i)(j) = m(k)(k).multiply(m(i)(j))
          .subtract(m(i)(k).multiply(m(k)(j))).divide(prev)
      prev = m(k)(k)
    }
    val det = m(n - 1)(n - 1)
    if (sign < 0) det.negate else det
  }

  /** The trained score as a Column: `w0 + w1*x1 + … + wd*xd`,
    * LEFT-ASSOCIATED — double arithmetic over exact-integer features
    * is IEEE-deterministic only for a fixed association order, and
    * the oracle twin must spell the same order. */
  def scoreExpr(w: Array[Double], xCols: Seq[Column]): Column =
    xCols.zipWithIndex.foldLeft(lit(w(0))) { case (acc, (x, i)) =>
      acc + lit(w(i + 1)) * x.cast("double")
    }

  /** Deterministic distributed binary logistic regression over an
    * ARRAY column of integer features (no intercept column — append
    * a constant-1 element to the feature array to get one).
    * `yCol` ∈ {0,1}. Full-batch gradient descent, `iters` passes,
    * learning rate `lrNum / 2^lrShift` (per-example, i.e. already
    * divided by n). Returns the trained weights at [[WScale]] —
    * integers, so two runs (any partitioning, any cluster size)
    * agree bit-for-bit; divide by WScale for the real-valued
    * weights. */
  def logisticFit(df: DataFrame, xArr: Column, yCol: Column, dim: Int,
                  iters: Int = 30, lrNum: Long = 1L,
                  lrShift: Int = 0): Array[Long] = {
    require(dim >= 1 && iters >= 0, "logisticFit: dim/iters")
    // PERSIST the design matrix: every gradient pass re-executes this
    // frame, and uncached each of the `iters` epochs would re-run the
    // caller's whole feature pipeline (scan + feature transforms) —
    // the classic train-loop cache. The count below materializes it.
    val prepared = df.select(xArr.cast("array<long>").as("__x"),
      yCol.cast("long").as("__y")).persist()
    try {
    // n for the per-example rate: one count, exact.
    val n = prepared.count()
    require(n > 0, "logisticFit: empty input")
    var w = Array.fill(dim)(0L)
    var it = 0
    // Epochs plan with AQE OFF (the probe discipline): each epoch is a
    // GLOBAL aggregate over the persisted design matrix — one partial
    // pass + a single-reducer merge, a plan AQE can never improve —
    // while its withFinalPlanUpdate re-planning costs driver time ×
    // iters. Valid at any scale: the aggregate's reduce side is one
    // dim-wide row by construction.
    val epochs = graft.sources.SnapshotTable.loopFrame(prepared)
    while (it < iters) {
      // z = (w · x) / WScale — the dot is EXACT integer arithmetic,
      // evaluated by the native [[graft.plans.DotLongWeights]]
      // expression (bit-identical to the aggregate(zip_with(...)) HOF
      // chain it replaced — pinned in ExpressionSpec — but one plan
      // node instead of a lambda chain, so the per-iteration Catalyst
      // analysis that dominated training driver time is flat, and the
      // weights ride as a referenced object so codegen compiles once
      // across iterations).
      val dot = graft.plans.GraftFunctions.dotLongWeights(col("__x"), w)
      val z = dot.cast("double") / lit(WScale.toDouble)
      // residual r = sigmoid(z) − y, quantized to the 1/QScale grid:
      // a deterministic double function of exact integers, rounded to
      // an exact integer — the gradient sums below are then
      // order-independent.
      val q = round((lit(1.0) / (lit(1.0) + exp(-z)) - col("__y"))
        * lit(QScale.toDouble)).cast("long")
      val gradAggs = (0 until dim).map(j =>
        sum(col("__q") * element_at(col("__x"), j + 1)).as(s"g_$j"))
      val row = epochs.withColumn("__q", q)
        .agg(gradAggs.head, gradAggs.tail: _*).head()
      val denom = n.toDouble * QScale.toDouble
      w = Array.tabulate(dim) { j =>
        val g = if (row.isNullAt(j)) 0L else row.getLong(j)
        // update in double from exact ints, re-quantized: the state
        // stays integer, so the trajectory is partition-invariant.
        w(j) - Math.round(
          lrNum.toDouble / (1L << lrShift).toDouble *
            (g.toDouble / denom) * WScale.toDouble)
      }
      it += 1
    }
    w
    } finally { prepared.unpersist(false); () }
  }

  /** Logistic score (probability) for a feature ARRAY under scaled
    * weights — the deployment-side Column twin of [[logisticFit]]. */
  def logisticScoreExpr(w: Array[Long], xArr: Column): Column = {
    val dot = graft.plans.GraftFunctions.dotLongWeights(
      xArr.cast("array<long>"), w)
    lit(1.0) / (lit(1.0) + exp(-(dot.cast("double") / lit(WScale.toDouble))))
  }
}
