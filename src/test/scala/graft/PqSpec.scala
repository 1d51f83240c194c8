package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Kmeans, Pq, Similarity}

/** Product quantization pinned against a single-threaded reference:
  * encoding, ADC distances, index round trip, planted-twin
  * minimality, and the recall the compression buys. */
class PqSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark

  private def emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def quantizeRef(v: Seq[Float]): Array[Long] =
    v.map(x => math.rint(x * 65536.0).toLong).toArray

  private def encodeRef(qv: Array[Long],
                        cbs: Array[Array[Array[Long]]]): Array[Int] = {
    val dsub = cbs.head.head.length
    cbs.zipWithIndex.map { case (cb, s) =>
      val sub = qv.slice(s * dsub, s * dsub + dsub)
      cb.zipWithIndex.map { case (cv, j) =>
        (cv.zip(sub).map { case (a, b) => (a - b) * (a - b) }.sum, j)
      }.min._2
    }
  }

  private def adcRef(qv: Array[Long], codes: Array[Int],
                     cbs: Array[Array[Array[Long]]]): Long = {
    val dsub = cbs.head.head.length
    cbs.zipWithIndex.map { case (cb, s) =>
      val sub = qv.slice(s * dsub, s * dsub + dsub)
      cb(codes(s)).zip(sub).map { case (a, b) => (a - b) * (a - b) }.sum
    }.sum
  }

  test("expression encoding and ADC are bit-identical to the driver reference") {
    val cbs = Pq.train(emb, m = 8, k = 8, iters = 2)
    assert(cbs.length == 8 && cbs.forall(_.length == 8) &&
      cbs.forall(_.forall(_.length == 8)))
    val raw = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val gotCodes = emb.select(col("vec_id"),
        Pq.encodeExpr(Kmeans.quantize(col("embedding")), cbs).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    raw.foreach { case (id, v) =>
      val want = encodeRef(quantizeRef(v), cbs)
      assert(gotCodes(id).sameElements(want),
        s"vec $id: ${gotCodes(id).toSeq} != ${want.toSeq}")
    }
    // ADC via expressions == driver reference for a few query/cand
    // pairs (through the materialized index + pqTopK path).
    val dir = tempDir("graft-pq") + "/idx"
    Pq.writePqIndex(emb, dir, cbs)
    // Sidecar round trip is exact.
    val back = Pq.readCodebookSidecar(spark, dir).get
    assert(back.length == cbs.length && back.zip(cbs).forall {
      case (a, b) => a.zip(b).forall { case (x, y) => x.sameElements(y) } })
    val top = Pq.pqTopK(spark, dir, emb, col("vec_id") < 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(top.nonEmpty)
    top.foreach { case (q, c, d) =>
      val want = adcRef(quantizeRef(raw(q)), encodeRef(quantizeRef(raw(c)), cbs), cbs)
      assert(d == want, s"adc($q,$c): $d != $want")
    }
  }

  test("planted twin achieves the minimum possible ADC distance") {
    // A twin shares the query's codes, and per-subspace the query's
    // own code minimizes its LUT entry — so the twin's ADC distance
    // is the global minimum over every possible code combination.
    // (Other vectors may TIE by landing on the same codes — that is
    // quantization, not error — so the pin is distance-minimality,
    // not top-1 identity.)
    import spark.implicits._
    val base = emb.select(col("vec_id"), col("embedding"))
    val planted = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val corpus = base.unionByName(planted)
    val cbs = Pq.train(corpus, m = 8, k = 8, iters = 2)
    val dir = tempDir("graft-pq-t") + "/idx"
    Pq.writePqIndex(corpus, dir, cbs)
    val top1 = Pq.pqTopK(spark, dir, corpus, col("vec_id") >= 1000000L, k = 1)
      .select("query_id", "cand_id", "adc_dist")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // For each planted query, its twin's ADC distance must equal the
    // top-1 distance (the twin is minimal; a smaller-id tie may hold
    // rank 1, but never at a smaller distance).
    val twinDist = Pq.pqTopK(spark, dir, corpus, col("vec_id") >= 1000000L,
        k = 1000000)
      .filter(col("cand_id") === col("query_id") - 1000000L)
      .select("query_id", "adc_dist")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 20L).foreach { i =>
      val q = i + 1000000L
      assert(twinDist(q) == top1(q)._2,
        s"query $q: twin adc ${twinDist(q)} > top-1 adc ${top1(q)._2}")
    }
  }

  test("IVF-PQ: DPP-pruned cells, all-cells probe degrades to plain PQ, twin minimal") {
    import spark.implicits._
    val base = emb.select(col("vec_id"), col("embedding"))
    val planted = base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val corpus = base.unionByName(planted)
    val cents = Kmeans.train(corpus, 8, 2)
    val cbs = Pq.train(corpus, m = 8, k = 8, iters = 2)
    val dir = tempDir("graft-ivfpq") + "/idx"
    Pq.writeIvfPqIndex(corpus, dir, cents, cbs)
    // Physical layout + DPP on the probe.
    import scala.jdk.CollectionConverters._
    val listing = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try assert(listing.iterator().asScala
      .exists(_.getFileName.toString.startsWith("cell=")))
    finally listing.close()
    val probe = Pq.ivfPqTopK(spark, dir, corpus,
      col("vec_id") >= 1000000L, k = 3, probes = 1)
    assert(probe.queryExecution.executedPlan.toString
      .toLowerCase.contains("dynamicpruning"))
    // All-cells probe == plain PQ over the whole codes table.
    val pqDir = tempDir("graft-ivfpq-f") + "/idx"
    Pq.writePqIndex(corpus, pqDir, cbs)
    def rset(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "adc_dist", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val all = rset(Pq.ivfPqTopK(spark, dir, corpus,
      col("vec_id") >= 1000000L, k = 3, probes = cents.length))
    val plain = rset(Pq.pqTopK(spark, pqDir, corpus,
      col("vec_id") >= 1000000L, k = 3))
    assert(plain.nonEmpty && all == plain)
    // Single-probe twin minimality: the twin lands in the query's own
    // cell (identical vector -> identical cell), so even one probe
    // must surface a candidate at the twin's (minimal) ADC distance.
    val top1 = probe.filter(col("rk") === 1)
      .select("query_id", "adc_dist").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val raw = corpus.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    (0L until 10L).foreach { i =>
      val q = quantizeRef(raw(i + 1000000L))
      val want = adcRef(q, encodeRef(q, cbs), cbs)
      assert(top1(i + 1000000L) == want,
        s"query ${i + 1000000L}: top-1 adc ${top1(i + 1000000L)} != twin $want")
    }
  }

  test("PQ compresses the scan target and still recalls against brute force") {
    val cbs = Pq.train(emb, m = 16, k = 16, iters = 3)
    val dir = tempDir("graft-pq-r") + "/idx"
    Pq.writePqIndex(emb, dir, cbs)
    // Structural compression: the codes table is an order of
    // magnitude smaller than the raw embedding column it replaces.
    def bytesUnder(d: String): Long = {
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.isFile)
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    }
    val rawDir = tempDir("graft-pq-raw") + "/raw"
    emb.select("vec_id", "embedding").write.parquet(rawDir)
    assert(bytesUnder(dir) * 4 < bytesUnder(rawDir),
      s"codes ${bytesUnder(dir)}B vs raw ${bytesUnder(rawDir)}B")
    // Recall@10 of ADC vs exact L2 brute force over the same metric
    // (L2 on the quantized ints — what PQ approximates). Deterministic
    // on the fixed testdata; measured 0.447 at 64-bit codes over
    // 2048-bit vectors on this NEAR-RANDOM synthetic corpus (PQ
    // recall on unclustered data is the hard case — real embedding
    // corpora cluster and recall rises). The floor pins "the
    // compression retains signal" against regressions, not a tuned
    // operating point.
    val pred = col("vec_id") < 32
    val pq = Pq.pqTopK(spark, dir, emb, pred, k = 10)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val qrows = emb.filter(pred)
      .select(col("vec_id").as("query_id"),
        Kmeans.quantize(col("embedding")).as("quv"))
    val brute = emb
      .select(col("vec_id").as("cand_id"),
        Kmeans.quantize(col("embedding")).as("qv"))
      .crossJoin(broadcast(qrows))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        aggregate(zip_with(col("qv"), col("quv"),
          (x, y) => (x - y) * (x - y)), lit(0L), (a, x) => a + x).as("d"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("d").asc, col("cand_id").asc)
    val bruteTop = brute.withColumn("rk",
        org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rk") <= 10)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = pq.intersect(bruteTop).size.toDouble / bruteTop.size
    assert(recall >= 0.4, s"PQ recall@10 collapsed: $recall")
  }

  test("joint trainer == sequential per-subspace trainer, bit-identical (raw and residual)") {
    // Per-subspace Lloyd's is independent, so one joint PqEncode pass
    // per iteration must reproduce the m-sequential-trainings result
    // exactly: same seeds (k smallest vec_ids, sliced), same
    // truncating integer means, same empty-cell rule.
    val joint = Pq.train(emb, m = 8, k = 8, iters = 3)
    val seq = Pq.trainSequential(emb, m = 8, k = 8, iters = 3)
    assert(joint.length == seq.length)
    joint.zip(seq).zipWithIndex.foreach { case ((j, s), sub) =>
      j.zip(s).zipWithIndex.foreach { case ((jc, sc), cw) =>
        assert(jc.sameElements(sc),
          s"subspace $sub codeword $cw: ${jc.toSeq} != ${sc.toSeq}")
      }
    }
    val cents = Kmeans.train(emb, 8, 2)
    val jointR = Pq.trainResidual(emb, cents, m = 8, k = 8, iters = 3)
    val seqR = Pq.trainResidualSequential(emb, cents, m = 8, k = 8, iters = 3)
    jointR.zip(seqR).zipWithIndex.foreach { case ((j, s), sub) =>
      j.zip(s).zipWithIndex.foreach { case ((jc, sc), cw) =>
        assert(jc.sameElements(sc),
          s"residual subspace $sub codeword $cw: ${jc.toSeq} != ${sc.toSeq}")
      }
    }
  }

  private def nearestCellRef(qv: Array[Long],
                             cents: Array[Array[Long]]): Int =
    cents.zipWithIndex.map { case (cv, i) =>
      (cv.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum, i)
    }.min._2

  test("residual IVF-PQ: fused encode == driver reference, twin minimal at one probe") {
    val base = emb.select(col("vec_id"), col("embedding"))
    val planted = base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val corpus = base.unionByName(planted)
    val cents = Kmeans.train(corpus, 8, 2)
    val cbs = Pq.trainResidual(corpus, cents, m = 8, k = 8, iters = 2)
    assert(cbs.length == 8 && cbs.forall(_.length == 8))
    val dir = tempDir("graft-ivfpq-res") + "/idx"
    Pq.writeIvfPqIndex(corpus, dir, cents, cbs, residual = true)
    // The sidecar records the encoding; a raw index stays raw.
    assert(Pq.readCellResidualFlag(spark, dir))
    // Fused (cell, codes) == driver reference: assign, subtract the
    // cell centroid, PQ-encode the residual.
    val raw = corpus.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val rows = spark.read.parquet(dir)
      .select("vec_id", "cell", "codes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toArray))
    assert(rows.length == raw.size)
    rows.foreach { case (id, cell, codes) =>
      val qv = quantizeRef(raw(id))
      val wantCell = nearestCellRef(qv, cents)
      assert(cell == wantCell, s"vec $id: cell $cell != $wantCell")
      val res = qv.zip(cents(wantCell)).map { case (x, c) => x - c }
      val wantCodes = encodeRef(res, cbs)
      assert(codes.sameElements(wantCodes),
        s"vec $id: ${codes.toSeq} != ${wantCodes.toSeq}")
    }
    // Single-probe twin minimality through the residual probe path:
    // the twin shares the query's cell AND its residual codes, so one
    // probe must surface the global-minimum residual-ADC distance.
    val probe = Pq.ivfPqTopK(spark, dir, corpus,
      col("vec_id") >= 1000000L, k = 3, probes = 1)
    assert(probe.queryExecution.executedPlan.toString
      .toLowerCase.contains("dynamicpruning"))
    val top1 = probe.filter(col("rk") === 1)
      .select("query_id", "adc_dist").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 10L).foreach { i =>
      val qv = quantizeRef(raw(i + 1000000L))
      val cell = nearestCellRef(qv, cents)
      val res = qv.zip(cents(cell)).map { case (x, c) => x - c }
      val want = adcRef(res, encodeRef(res, cbs), cbs)
      assert(top1(i + 1000000L) == want,
        s"query ${i + 1000000L}: top-1 adc ${top1(i + 1000000L)} != twin $want")
    }
  }

  test("appendIvfPq: delta-encoded append == full rebuild, scheme from the sidecar") {
    val base = emb.select(col("vec_id"), col("embedding"))
    val half = base.filter(col("vec_id") % 2 === 0)
    val delta = base.filter(col("vec_id") % 2 === 1)
    val cents = Kmeans.train(base, 8, 2)
    for (residual <- Seq(false, true)) {
      val cbs =
        if (residual) Pq.trainResidual(base, cents, m = 8, k = 8, iters = 2)
        else Pq.train(base, m = 8, k = 8, iters = 2)
      val inc = tempDir("graft-ivfpq-app") + "/idx"
      Pq.writeIvfPqIndex(half, inc, cents, cbs, residual = residual)
      Pq.appendIvfPq(delta, inc)
      val full = tempDir("graft-ivfpq-fl") + "/idx"
      Pq.writeIvfPqIndex(base, full, cents, cbs, residual = residual)
      def rset(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "cand_id", "adc_dist", "rk").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
      val got = rset(Pq.ivfPqTopK(spark, inc, base,
        col("vec_id") < 8, k = 3, probes = cents.length))
      val want = rset(Pq.ivfPqTopK(spark, full, base,
        col("vec_id") < 8, k = 3, probes = cents.length))
      assert(want.nonEmpty && got == want,
        s"residual=$residual: incremental index != rebuilt index")
    }
  }
}
