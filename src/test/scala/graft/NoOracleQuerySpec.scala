package graft

import org.scalatest.funsuite.AnyFunSuite

/** The declared queries without a DuckDB oracle, run through
  * `SparkEntry.queries` on sf0.001 with their own parameters and
  * pinned to the single-threaded references of [[References]]. */
class NoOracleQuerySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  private def run(name: String) =
    SparkEntry.queries(name)(spark, dir).collect().toSeq

  private def bpeRef(numMerges: Int) = References.bpeTrain(
    References.bpeWords(spark.read.parquet(s"$dir/documents.parquet")
      .select("text").collect().iterator.map(_.getString(0))),
    numMerges)

  Seq("q_bpe_train" -> 10, "q_bpe_train_batched" -> 30).foreach {
    case (name, merges) =>
      test(s"$name equals the reference trainer's $merges merges") {
        val got = run(name).map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        val want = bpeRef(merges).zipWithIndex.map { case ((l, r), i) =>
          (i.toLong, l, r) }
        assert(got == want)
      }
  }

  test("q_quality_classifier equals the reference fit and its correct count") {
    // the query's features: floor(e * 4096) per element plus a
    // constant 1, label 1 for label <= 4
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("embedding", "label").collect().toSeq
    val xs = rows.map(r => (r.getSeq[Float](0).map(e =>
      math.floor(e.toDouble * 4096).toLong) :+ 1L).toArray)
    val ys = rows.map(r => if (r.getInt(1) <= 4) 1L else 0L)
    val w = References.logisticFit(xs, ys, dim = 65, iters = 10, lrNum = 1L,
      lrShift = 6)
    val nCorrect = xs.zip(ys).count { case (x, y) =>
      (References.logisticScore(w, x) >= 0.5) == (y == 1L) }
    val want = w.zipWithIndex.map { case (wj, j) => (j.toLong, wj) }.toSeq :+
      (-1L -> nCorrect.toLong)
    val got = run("q_quality_classifier").map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sortBy(_._1) == want.sortBy(_._1))
  }
}
