package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.operators.Bpe

/** Distributed BPE training pinned bit-identical against a
  * single-threaded reference implementation (same algorithm, plain
  * Scala collections): merge sequence, tie-breaking, greedy
  * application, and partitioning-independence. */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val corpus = Seq(
    "the cat sat on the mat", "the bat and the cat", "low lower lowest",
    "newer newest new", "the low cat", "wider wide widest",
    "the the the", "on and on and on")

  test("distributed merges == reference merges on a mixed corpus") {
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val words = corpus.flatMap(_.toLowerCase.split("\\s+"))
      .filter(_.nonEmpty).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val got = Bpe.train(docs, "text", 20)
    val want = References.bpeTrain(words, 20)
    assert(got == want, s"\ngot:  $got\nwant: $want")
    assert(got.size == 20)
    // Partitioning independence: a differently-partitioned input
    // learns the identical merge sequence.
    val got1 = Bpe.train(docs.repartition(7), "text", 20)
    assert(got1 == got)
  }

  test("training exhausts gracefully when every word is fully merged") {
    val docs = Seq((0L, "aa aa b")).toDF("doc_id", "text")
    // "aa" needs 1 merge; "b" has no pairs: 2+ merges can't exist.
    val merges = Bpe.train(docs, "text", 10)
    assert(merges == Seq("a" -> "a"))
  }

  test("batched trainer == reference at a 200-merge budget on the real corpus") {
    // The realistic-vocabulary path: trainBatched admits a maximal
    // provably-safe prefix of the pair table per iteration (symbol-
    // disjoint, concat-collision-free, threat-bounded) and applies it
    // in ONE pass — the merge SEQUENCE must still be bit-identical to
    // sequential BPE, here pinned against the single-threaded
    // reference at 200 merges over the sf0.001 documents corpus.
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val words = References.bpeWords(docs.collect().iterator.map(_.getString(1)))
    val want = References.bpeTrain(words, 200)
    val got = Bpe.trainBatched(docs, "text", 200)
    assert(got.size == want.size)
    // First divergence (if any) reported precisely — a wrong merge
    // ANYWHERE poisons every later rank.
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"rank $i: got $g, want $w")
    }
    // And it genuinely batches: the whole run must take far fewer
    // iterations than merges (each iteration = 3 jobs; sequential
    // pays 2 jobs per merge). Indirect pin: batched equals
    // sequential on the same prefix, and the small-corpus twin below
    // pins the exact semantics.
    val gotSeq = Bpe.train(docs, "text", 25)
    assert(got.take(25) == gotSeq)
  }

  test("batched trainer == sequential on the mixed corpus, any partitioning") {
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val seq = Bpe.train(docs, "text", 20)
    assert(Bpe.trainBatched(docs, "text", 20) == seq)
    assert(Bpe.trainBatched(docs.repartition(7), "text", 20) == seq)
    // Tiny batch caps degrade to sequential behavior, same answer.
    assert(Bpe.trainBatched(docs, "text", 20, maxBatch = 2) == seq)
  }

  test("encode applies merges left-greedy in rank order") {
    val merges = Seq("l" -> "o", "lo" -> "w", "e" -> "r")
    assert(Bpe.encode("lower", merges) == Seq("low", "er"))
    assert(Bpe.encode("lowlow", merges) == Seq("low", "low"))
    // Non-overlapping greedy: "aaa" under (a,a) -> ["aa","a"].
    assert(Bpe.encode("aaa", Seq("a" -> "a")) == Seq("aa", "a"))
    assert(Bpe.encode("", merges).isEmpty)
    // Encoding with the trained rules matches the distributed fold's
    // end state: train on the corpus, re-derive each distinct word's
    // tokenization and check a known sample.
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val learned = Bpe.train(docs, "text", 12)
    val theToks = Bpe.encode("the", learned)
    assert(theToks.mkString == "the", "tokens must spell the word")
    assert(theToks.size < 3, s"'the' (most frequent) should merge: $theToks")
  }

  test("encodeCorpus == driver reference per word, for trained merges") {
    val docs = (corpus ++ Seq("  Mixed  CASE\twith\ntabs  ", "", "a"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val learned = Bpe.train(docs, "text", 15)
    val got = docs
      .select(col("doc_id"), Bpe.encodeCorpus(col("text"), learned).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val want = (corpus ++ Seq("  Mixed  CASE\twith\ntabs  ", "", "a"))
      .zipWithIndex.map { case (t, i) =>
        i.toLong -> t.toLowerCase.split("\\s+").filter(_.nonEmpty)
          .flatMap(w => Bpe.encode(w, learned)).toSeq
      }.toMap
    assert(got == want)
    // empty doc → empty token array (not null)
    assert(got(corpus.length + 1L).isEmpty)
    // map-only: encoding the corpus plans with zero Exchange
    val plan = docs.select(Bpe.encodeCorpus(col("text"), learned))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
