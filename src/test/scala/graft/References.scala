package graft

import graft.operators.LinearModel

/** Single-threaded reference implementations of graft's iterative
  * trainers, in plain Scala collections: the operator specs and the
  * query-level pins compare the distributed results against these. */
object References {

  /** Word frequencies as BPE training counts them: lowercased,
    * split on whitespace, words longer than `maxWordChars` left out. */
  def bpeWords(texts: Iterator[String],
               maxWordChars: Int = 512): Map[String, Long] =
    texts.flatMap(_.toLowerCase.split("\\s+"))
      .filter(w => w.nonEmpty && w.length <= maxWordChars)
      .foldLeft(Map.empty[String, Long]) { (m, w) =>
        m.updated(w, m.getOrElse(w, 0L) + 1L) }

  /** BPE training, Sennrich-style, lexicographic tie-break. */
  def bpeTrain(words: Map[String, Long],
               numMerges: Int): Seq[(String, String)] = {
    var vocab: Map[Vector[String], Long] =
      words.groupMapReduce(_._1.map(_.toString).toVector)(_._2)(_ + _)
    val merges = Seq.newBuilder[(String, String)]
    var i = 0
    var done = false
    while (i < numMerges && !done) {
      val counts = collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, cnt) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + cnt
          case _ => ()
        }
      }
      if (counts.isEmpty) done = true
      else {
        val (l, r) = counts.toSeq
          .minBy { case ((a, b), n) => (-n, a, b) }._1
        merges += l -> r
        vocab = vocab.groupMapReduce { case (syms, _) =>
          val out = Vector.newBuilder[String]
          var prev: String = null
          syms.foreach { x =>
            if (prev == null) prev = x
            else if (prev == l && x == r) { out += (l + r); prev = null }
            else { out += prev; prev = x }
          }
          if (prev != null) out += prev
          out.result()
        }(_._2)(_ + _)
        i += 1
      }
    }
    merges.result()
  }

  /** [[LinearModel.logisticFit]]'s quantized full-batch gradient
    * descent over integer feature arrays `xs` and labels `ys`. */
  def logisticFit(xs: Seq[Array[Long]], ys: Seq[Long], dim: Int,
                  iters: Int, lrNum: Long, lrShift: Int): Array[Long] = {
    var w = Array.fill(dim)(0L)
    val denom = xs.length.toDouble * LinearModel.QScale.toDouble
    for (_ <- 0 until iters) {
      val grads = Array.fill(dim)(0L)
      xs.zip(ys).foreach { case (x, y) =>
        val q = residual(w, x, y)
        x.indices.foreach(j => grads(j) += q * x(j))
      }
      w = Array.tabulate(dim)(j => w(j) - Math.round(
        lrNum.toDouble / (1L << lrShift).toDouble *
          (grads(j).toDouble / denom) * LinearModel.WScale.toDouble))
    }
    w
  }

  /** The logistic score of `x` under scaled weights `w`. */
  def logisticScore(w: Array[Long], x: Array[Long]): Double = {
    val dot = x.indices.map(j => w(j) * x(j)).sum
    1.0 / (1.0 + math.exp(-(dot.toDouble / LinearModel.WScale.toDouble)))
  }

  // Spark's round() is HALF_UP on the BigDecimal value — mirror it
  // exactly (Math.round would differ on negative halves)
  private def residual(w: Array[Long], x: Array[Long], y: Long): Long =
    java.math.BigDecimal.valueOf(
        (logisticScore(w, x) - y) * LinearModel.QScale.toDouble)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
}
