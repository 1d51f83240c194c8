package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Bm25Index, Bpe, CacheRegistry, Dedup, Pq}

/** `corpus`: LLM-corpus operators over a seeded corpus with planted
  * near-duplicate clusters and seeded embeddings with planted
  * clusters. Writes append delta batches (MinHash dedup against an
  * index, IVF-PQ appends, BM25 appends, a BPE training every fourth
  * round); reads are batched ANN top-10 queries with exact re-rank and
  * BM25 searches. Every operator parameter is passed explicitly.
  * Truths: plain-Scala brute-force neighbours, exact shingle Jaccard,
  * a plain-Scala BM25 and a plain-Scala BPE trainer. */
final class CorpusWorkload(spark: SparkSession, rec: Recorder, seed: Long,
                           root: String, rep: Int) extends Workload {
  import CorpusWorkload._

  private val rnd = new scala.util.Random(seed)
  private val mhTable = s"perfbench_minhash_$rep"
  private val ivfDir = s"$root/ivfpq"
  private val rawDir = s"$root/vectors"
  private val bm25Dir = s"$root/bm25"
  private val whDir = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")

  private val vocab: IndexedSeq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < VocabSize)
      seen += Seq.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString
    seen.toIndexedSeq
  }
  /** Every document: id -> words (lower-case, single-space joined). */
  private val texts = scala.collection.mutable.LinkedHashMap.empty[Long, IndexedSeq[String]]
  /** The docs in the MinHash index (the load-time base). */
  private var indexed = IndexedSeq.empty[Long]
  private val shingleIndex = scala.collection.mutable.HashMap.empty[String, ArrayBuffer[Long]]
  private val shingleSets = scala.collection.mutable.HashMap.empty[Long, Set[String]]
  private val centers: IndexedSeq[Array[Float]] =
    IndexedSeq.fill(Clusters)(Array.fill(Dim)(rnd.nextFloat() * 2 - 1))
  private val vectors = scala.collection.mutable.LinkedHashMap.empty[Long, (Int, Array[Float])]
  private var nextDoc = 0L
  private var nextVec = 0L
  private var rounds = 0
  private var txn = 0L
  // BM25 truth state: term -> (doc -> tf), doc lengths.
  private val postings = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.HashMap[Long, Int]]
  private val docLen = scala.collection.mutable.HashMap.empty[Long, Int]
  private var dedupTruth = 0L
  private var dedupHits = 0L
  private var annHits = 0L
  private var annWant = 0L

  def dataDirs: Seq[String] = Seq(ivfDir, rawDir, bm25Dir,
    s"$whDir/$mhTable", s"$whDir/${mhTable}_grams")

  def userBytes: Long =
    texts.valuesIterator.map(ws => 8L + ws.map(_.length).sum + ws.size - 1).sum +
      vectors.size.toLong * (8L + 8L * Dim)

  // ---- generation --------------------------------------------------------
  private def randomDoc(): IndexedSeq[String] =
    IndexedSeq.fill(DocWords)(vocab(rnd.nextInt(vocab.size)))
  /** Near duplicate: the first or last word replaced, so exact Jaccard
    * over 5-word shingles stays at or above (n-1)/(n+1). */
  private def nearDup(src: IndexedSeq[String]): IndexedSeq[String] =
    if (rnd.nextBoolean()) vocab(rnd.nextInt(vocab.size)) +: src.tail
    else src.init :+ vocab(rnd.nextInt(vocab.size))
  /** Far variant: four interior words replaced; Jaccard well below the
    * threshold but high enough to collide in some band. */
  private def farVariant(src: IndexedSeq[String]): IndexedSeq[String] = {
    var out = src
    (0 until 4).foreach { i =>
      val p = 10 + i * (src.size - 20) / 4 + rnd.nextInt(5)
      out = out.updated(p, vocab(rnd.nextInt(vocab.size)))
    }
    out
  }
  private def addDoc(ws: IndexedSeq[String]): Long = {
    val id = nextDoc; nextDoc += 1
    texts(id) = ws
    ws.groupBy(identity).foreach { case (t, occ) =>
      postings.getOrElseUpdate(t, scala.collection.mutable.HashMap.empty)(id) = occ.size }
    docLen(id) = ws.size
    id
  }
  private def shingles(ws: IndexedSeq[String]): Set[String] =
    ws.sliding(W).map(_.mkString(" ")).toSet
  private def docsDf(ids: Seq[Long]): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(ids.map(i => Row(i, texts(i).mkString(" "))): _*),
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  private def newVector(c: Int): Long = {
    val id = nextVec; nextVec += 1
    vectors(id) = (c, centers(c).map(x => x + (rnd.nextFloat() * 2 - 1) * Noise))
    id
  }
  private def vecDf(ids: Seq[Long]): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(ids.map(i => Row(i, vectors(i)._2.toSeq)): _*),
    StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)))))

  // ---- truths --------------------------------------------------------------
  private def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size
  /** Every (delta, indexed) pair with exact Jaccard >= Threshold. */
  private def dupTruth(delta: Seq[Long]): Map[(Long, Long), Double] =
    delta.flatMap { i =>
      val si = shingles(texts(i))
      si.toSeq.flatMap(s => shingleIndex.getOrElse(s, Nil)).distinct.flatMap { j =>
        val jac = jaccard(si, shingleSets(j))
        if (jac >= Threshold) Some((i, j) -> jac) else None
      }
    }.toMap

  /** Cosine of float vectors, accumulated in double. */
  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      d += x * y; na += x * x; nb += y * y; i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }
  /** Brute-force top-K by cosine, self excluded, ties by id. */
  private def bruteTopK(q: Long): Seq[(Long, Double)] = {
    val qv = vectors(q)._2
    vectors.iterator.filter(_._1 != q).map { case (id, (_, v)) => id -> cosine(qv, v) }
      .toSeq.sortBy { case (id, s) => (-s, id) }.take(K)
  }

  private def bm25Truth(terms: Seq[String]): Seq[(Long, Double)] = {
    val n = docLen.size.toDouble
    val avg = docLen.valuesIterator.map(_.toLong).sum / n
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val scores = scala.collection.mutable.HashMap.empty[Long, BigDecimal]
    terms.distinct.foreach { t =>
      postings.get(t).foreach { ps =>
        val idf = math.log(1.0 + (n - ps.size + 0.5) / (ps.size + 0.5))
        ps.foreach { case (d, tf) =>
          val s = r6(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * docLen(d) / avg)))
          scores(d) = scores.getOrElse(d, BigDecimal(0)) + BigDecimal(s)
        }
      }
    }
    scores.toSeq.map { case (d, s) => d -> s.toDouble }.sortBy { case (d, s) => (-s, d) }
  }

  /** Reference BPE: chars of lower-cased whitespace words, weighted by
    * word count; each step merges the most frequent adjacent pair
    * (count desc, then left, then right), left-greedy. */
  private def bpeTruth(ids: Seq[Long], merges: Int): Seq[(String, String)] = {
    var vocabW = ids.flatMap(texts(_)).groupBy(identity).toSeq
      .map { case (w, o) => (w.map(_.toString).toVector, o.size.toLong) }
    val out = ArrayBuffer.empty[(String, String)]
    var done = false
    while (out.size < merges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocabW.foreach { case (syms, c) =>
        syms.sliding(2).foreach { case Seq(l, r) => counts((l, r)) = counts.getOrElse((l, r), 0L) + c; case _ => () }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), _) = counts.toSeq.minBy { case ((l, r), n) => (-n, l, r) }
        out += l -> r
        vocabW = vocabW.map { case (syms, c) => (merge(syms, l, r), c) }
      }
    }
    out.toSeq
  }
  private def merge(syms: Vector[String], l: String, r: String): Vector[String] = {
    val b = Vector.newBuilder[String]
    var i = 0
    while (i < syms.size) {
      if (i + 1 < syms.size && syms(i) == l && syms(i + 1) == r) { b += l + r; i += 2 }
      else { b += syms(i); i += 1 }
    }
    b.result()
  }

  // ---- ops -----------------------------------------------------------------
  private def delta(): (Seq[Long], Seq[Long]) = {
    val near = (0 until DeltaNear).map(_ => addDoc(nearDup(texts(indexed(rnd.nextInt(indexed.size))))))
    val far = (0 until DeltaFar).map(_ => addDoc(farVariant(texts(indexed(rnd.nextInt(indexed.size))))))
    val fresh = (0 until DeltaFresh).map(_ => addDoc(randomDoc()))
    val docs = near ++ far ++ fresh
    val vecs = (0 until Clusters).map(newVector)
    (docs, vecs)
  }

  private def opDedup(ids: Seq[Long]): Unit = {
    val truth = rec.offOp(dupTruth(ids))
    val df = docsDf(ids)
    val (r, res) = rec.op("dedup_delta", write = true) {
      val reg = new CacheRegistry
      try Dedup.incrementalDupPairsIndexed(spark, df, mhTable, w = W, k = MinHashK,
        bands = Bands, threshold = Threshold, registry = reg).collect()
      finally reg.releaseAll()
    }
    res.foreach(rows => rec.offOp {
      val got = rows.map(x => (x.getAs[Long]("i"), x.getAs[Long]("j")) -> x.getAs[Double]("jaccard")).toMap
      val wrong = got.filter { case (p, jac) =>
        !truth.get(p).exists(t => math.abs(t - jac) <= 1.5e-6) }
      val hits = got.keySet.count(truth.contains)
      val recall = if (truth.isEmpty) 1.0 else hits.toDouble / truth.size
      if (rec.timed) { dedupTruth += truth.size; dedupHits += hits }
      if (wrong.nonEmpty) rec.fail(r, "dedup_delta", s"${wrong.size} pairs below threshold or misscored")
      else if (recall < DedupRecallFloor) rec.fail(r, "dedup_delta", f"pair recall $recall%.3f")
      if (rec.trace && rec.timed) {
        rec.count("operators.dedup_verified_pairs", got.size.toDouble, "dedup_delta")
        rec.count("operators.dedup_candidate_pairs", candidates(df).toDouble, "dedup_delta")
      }
    })
  }

  /** Candidate pairs the banding generates (traced runs only): the
    * delta's band keys joined with the index's, counted distinct. */
  private def candidates(df: DataFrame): Long = {
    val reg = new CacheRegistry
    try {
      val r = MinHashK / Bands
      Dedup.minHashSignatures(df, W, MinHashK, reg)
        .select(col("doc_id"), explode(transform(sequence(lit(0), lit(Bands - 1)),
          j => xxhash64(j, hash(slice(col("sig"), j * r + 1, lit(r)))))).as("bkey"))
        .as("a").join(spark.table(mhTable).as("b"), col("a.bkey") === col("b.bkey"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    } finally reg.releaseAll()
  }

  private def opIvfAppend(vecs: Seq[Long]): Unit = {
    val df = vecDf(vecs)
    rec.op("ivfpq_append", write = true) { Pq.appendIvfPq(df, ivfDir) }
    rec.offOp(df.write.mode("append").parquet(rawDir))
  }

  private def opBm25Append(ids: Seq[Long]): Unit = {
    txn += 1
    val df = docsDf(ids)
    rec.op("bm25_append", write = true) { Bm25Index.appendTxn(df, bm25Dir, "perfbench", txn) }
    ()
  }

  private def opBpe(ids: Seq[Long]): Unit = {
    val df = docsDf(ids)
    val (r, res) = rec.op("bpe_train", write = true) { Bpe.train(df, "text", BpeMerges) }
    res.foreach(got => rec.offOp {
      val want = bpeTruth(ids, BpeMerges)
      if (got != want) rec.fail(r, "bpe_train", s"merges ${got.take(3)} want ${want.take(3)}")
    })
  }

  private def opAnn(): Unit = {
    val ids = vectors.keys.toIndexedSeq
    val qs = Seq.fill(AnnBatch)(ids(rnd.nextInt(ids.size))).distinct
    val emb = spark.read.parquet(rawDir)
    val (r, res) = rec.op("ann_search", write = false) {
      Pq.ivfPqTopKRerank(spark, ivfDir, emb, col("vec_id").isin(qs: _*), k = K,
        probes = Probes, shortlist = Shortlist).collect()
    }
    res.foreach(rows => rec.offOp {
      val got = rows.groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.sortBy(_.getAs[Long]("rk")).map(_.getAs[Long]("cand_id")).toSeq }
      var bad = 0
      qs.foreach { q =>
        val truth = bruteTopK(q)
        val kth = truth.last._2
        val mine = got.getOrElse(q, Nil)
        val qv = vectors(q)._2
        // A returned id off the truth list counts only on an exact tie
        // with the K-th score (6-dp rounding in the program).
        val hits = mine.count(c => truth.exists(_._1 == c) ||
          math.abs(cosine(qv, vectors(c)._2) - kth) < 1e-6)
        if (rec.timed) { annHits += hits; annWant += truth.size }
        if (mine.size != truth.size || hits.toDouble / truth.size < AnnRecallFloor) bad += 1
      }
      if (bad > 0) rec.fail(r, "ann_search", s"$bad of ${qs.size} queries below recall floor")
    })
  }

  private def opBm25Search(): Unit = {
    val terms = Seq.fill(2 + rnd.nextInt(2))(vocab(rnd.nextInt(vocab.size)))
    val (r, res) = rec.op("bm25_search", write = false) {
      Bm25Index.search(spark, bm25Dir, terms, K).collect()
    }
    res.foreach(rows => rec.offOp {
      val truth = bm25Truth(terms)
      val tscore = truth.toMap
      val kth = truth.take(K).lastOption.map(_._2).getOrElse(0.0)
      val got = rows.map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("score"))
      val ok = got.length == math.min(K, truth.size) && got.forall { case (d, s) =>
        tscore.get(d).exists(t => math.abs(t - s) < 1e-5 && t >= kth - 1e-5) }
      if (!ok) rec.fail(r, "bm25_search", s"terms $terms: ${got.take(3).toSeq} want ${truth.take(3)}")
    })
  }

  private def reads(): Unit = {
    (0 until AnnPerRound).foreach(_ => opAnn())
    (0 until Bm25PerRound).foreach(_ => opBm25Search())
  }

  private def writes(bpe: Boolean): Unit = {
    val (docs, vecs) = rec.offOp(delta())
    opDedup(docs)
    opIvfAppend(vecs)
    opBm25Append(docs)
    if (bpe) opBpe(docs)
  }

  def load(): Unit = {
    val clusters = (0 until PlantedClusters).flatMap { _ =>
      val src = randomDoc()
      Seq(src, nearDup(src), nearDup(src))
    }
    val base = (clusters ++ Seq.fill(BaseDocs - clusters.size)(randomDoc())).map(addDoc)
    indexed = base.toIndexedSeq
    base.foreach { id =>
      val s = shingles(texts(id)); shingleSets(id) = s
      s.foreach(x => shingleIndex.getOrElseUpdate(x, ArrayBuffer.empty) += id)
    }
    val df = docsDf(base)
    Dedup.writeMinhashIndex(df, mhTable, w = W, k = MinHashK, bands = Bands, nBuckets = 4)
    Bm25Index.appendTxn(df, bm25Dir, "perfbench", 0L)
    val vecs = (0 until Clusters).flatMap(c => (0 until BasePerCluster).map(_ => newVector(c)))
    val emb = vecDf(vecs)
    emb.write.parquet(rawDir)
    val centroids = centers.map(_.map(x => math.round(x * 65536.0))).toArray
    val codebooks = Pq.train(emb, m = PqM, k = PqK, iters = PqIters)
    Pq.writeIvfPqIndex(emb, ivfDir, centroids, codebooks)
  }

  def warmUp(): Unit = { writes(bpe = true); opAnn(); opBm25Search() }

  def round(): Unit = {
    writes(bpe = rounds % 4 == 3)
    reads()
    rounds += 1
  }

  def finalCheck(): Unit = {
    val maxCluster = vectors.valuesIterator.map(_._1).toSeq.groupBy(identity).values.map(_.size).max
    if (maxCluster > Shortlist)
      rec.unattributedFailures += s"corpus: cluster of $maxCluster exceeds the shortlist"
  }

  def layerMetrics(): Map[String, Double] =
    Seq("operators.dedup_candidate_pairs", "operators.dedup_verified_pairs")
      .map(n => n -> rec.counterMedian(n)).toMap ++ Map(
      "operators.dedup_pair_recall" -> (if (dedupTruth == 0) 1.0 else dedupHits.toDouble / dedupTruth),
      "operators.ann_recall_at_10" -> (if (annWant == 0) 1.0 else annHits.toDouble / annWant))
}

object CorpusWorkload {
  val VocabSize = 3000
  val DocWords = 100
  val BaseDocs = 400
  val PlantedClusters = 20
  val DeltaNear = 12
  val DeltaFar = 6
  val DeltaFresh = 12
  val W = 5
  val MinHashK = 32
  val Bands = 8
  val Threshold = 0.8
  /** Per delta; the derivation is in the README (LSH S-curve). */
  val DedupRecallFloor = 0.9
  val Dim = 16
  val Clusters = 16
  val BasePerCluster = 20
  val Noise = 0.05f
  val PqM = 4
  val PqK = 16
  val PqIters = 2
  val K = 10
  val Probes = 1
  val Shortlist = 200
  /** Exact at these parameters; the derivation is in the README. */
  val AnnRecallFloor = 1.0
  val AnnBatch = 8
  val AnnPerRound = 4
  val Bm25PerRound = 6
  val BpeMerges = 5
}
