package graft

import java.math.BigInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.LinearModel

/** Integer-exact trained quality models: distributed training must be
  * bit-identical to a single-threaded reference and invariant to
  * partitioning; the closed-form probe must equal an independent
  * exact solve. */
class LinearModelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // Deterministic synthetic fixture: integer features on a known
  // plane + label from a noisy threshold (hash-based "noise" so every
  // run sees the same rows).
  private def fixture(n: Int) = (0 until n).map { i =>
    val x1 = (i * 37 % 201) - 100L
    val x2 = (i * 91 % 157) - 78L
    val noise = (i * 2654435761L % 41) - 20L
    val y = if (2 * x1 - 3 * x2 + noise > 0) 1L else 0L
    (x1, x2, y)
  }

  test("ridgeFit: distributed == exact local solve, invariant to partitioning") {
    val rows = fixture(500)
    val df = rows.toDF("x1", "x2", "y")
    val w1 = LinearModel.ridgeFit(df.repartition(1),
      Seq(col("x1"), col("x2")), col("y"), lambda = 3L)
    val w7 = LinearModel.ridgeFit(df.repartition(7),
      Seq(col("x1"), col("x2")), col("y"), lambda = 3L)
    assert(w1.toSeq == w7.toSeq, "partitioning must not change a bit")
    // independent exact reference: build the normal equations in
    // BigInteger from the raw rows and solve 3x3 by explicit Cramer
    def bi(l: Long) = BigInteger.valueOf(l)
    val d = Seq(
      Seq(bi(rows.length), bi(rows.map(_._1).sum), bi(rows.map(_._2).sum)),
      Seq(bi(rows.map(_._1).sum), bi(rows.map(r => r._1 * r._1).sum),
        bi(rows.map(r => r._1 * r._2).sum)),
      Seq(bi(rows.map(_._2).sum), bi(rows.map(r => r._1 * r._2).sum),
        bi(rows.map(r => r._2 * r._2).sum)))
    val a = d.zipWithIndex.map { case (r, i) =>
      r.zipWithIndex.map { case (v, j) =>
        if (i == j) v.add(bi(3L)) else v } }
    val b = Seq(bi(rows.map(_._3).sum),
      bi(rows.map(r => r._1 * r._3).sum), bi(rows.map(r => r._2 * r._3).sum))
    def det3(m: Seq[Seq[BigInteger]]): BigInteger =
      m(0)(0).multiply(m(1)(1).multiply(m(2)(2))
          .subtract(m(1)(2).multiply(m(2)(1))))
        .subtract(m(0)(1).multiply(m(1)(0).multiply(m(2)(2))
          .subtract(m(1)(2).multiply(m(2)(0)))))
        .add(m(0)(2).multiply(m(1)(0).multiply(m(2)(1))
          .subtract(m(1)(1).multiply(m(2)(0)))))
    val dA = det3(a)
    val expect = (0 to 2).map { i =>
      val ai = a.zipWithIndex.map { case (r, ri) =>
        r.zipWithIndex.map { case (v, ci) => if (ci == i) b(ri) else v } }
      det3(ai).doubleValue / dA.doubleValue
    }
    assert(w1.toSeq == expect, "Cramer-over-exact-integers reference")
  }

  test("ridgeFit: singular system fails loudly at lambda = 0") {
    val df = Seq((1L, 2L, 1L), (2L, 4L, 0L), (3L, 6L, 1L))
      .toDF("x1", "x2", "y") // x2 = 2*x1: collinear
    intercept[IllegalArgumentException] {
      LinearModel.ridgeFit(df, Seq(col("x1"), col("x2")), col("y"),
        lambda = 0L)
    }
  }

  test("logisticFit: bit-identical across partitionings AND to a local reference") {
    val rows = fixture(400)
    // feature array [x1, x2, 1] — the constant element is the intercept
    val df = rows.toDF("x1", "x2", "y")
      .select(array(col("x1"), col("x2"), lit(1L)).as("x"), col("y"))
    def train(parts: Int) = LinearModel.logisticFit(
      df.repartition(parts), col("x"), col("y"), dim = 3,
      iters = 12, lrNum = 1L, lrShift = 8)
    val w1 = train(1); val w5 = train(5)
    assert(w1.toSeq == w5.toSeq, "integer state ⇒ partition invariance")
    val xs = rows.map(r => Array(r._1, r._2, 1L))
    val ys = rows.map(_._3)
    val n = rows.length
    val w = References.logisticFit(xs, ys, dim = 3, iters = 12, lrNum = 1L,
      lrShift = 8)
    assert(w1.toSeq == w.toSeq, "distributed == single-threaded, bit for bit")
    // and the model actually learned: accuracy beats the majority class
    val scored = df.withColumn("p",
      LinearModel.logisticScoreExpr(w1, col("x")))
    val acc = scored.filter((col("p") >= 0.5) === (col("y") === 1L))
      .count().toDouble / n
    val majority = math.max(ys.count(_ == 1L), ys.count(_ == 0L)).toDouble / n
    assert(acc > majority + 0.05, s"acc $acc must beat majority $majority")
  }

  test("scoreExpr is the left-associated affine form") {
    val df = Seq((2L, 5L)).toDF("x1", "x2")
    val s = df.select(LinearModel.scoreExpr(Array(1.5, 2.0, -0.5),
      Seq(col("x1"), col("x2"))).as("s")).head.getDouble(0)
    assert(s == ((1.5 + 2.0 * 2.0) + -0.5 * 5.0))
  }
}
