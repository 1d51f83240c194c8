package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Kmeans, Similarity}

/** The trained-quantizer IVF index: expression-level assignment
  * bit-identical to the aggregate trainer's, the physical index +
  * sidecar + multi-probe read path, append dispatch, and the recall
  * claim that justifies training at all (trained cells ≥ sign-pattern
  * cells at an equal probe budget). */
class TrainedIvfSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark

  private def emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def rset(df: DataFrame) =
    df.select("query_id", "cand_id", "cos_sim", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet

  test("cellIdExpr assignment is bit-identical to the aggregate assign") {
    // The index build/append path (pure per-row expression, zero
    // shuffle) and the training path (crossJoin+argmin aggregate)
    // must place every vector in the same cell — same exact integer
    // distances, same (dist, cid) tie-break — or appends would
    // silently lose recall against the trained layout.
    val cents = Kmeans.train(emb, 8, 2)
    val q = emb.select(col("vec_id"),
      Kmeans.quantize(col("embedding")).as("qv"))
    val viaAgg = Kmeans.assign(q, cents)
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaExpr = q.select(col("vec_id"),
        Kmeans.cellIdExpr(col("qv"), cents).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaAgg.nonEmpty && viaExpr == viaAgg)
  }

  test("trained index: DPP probe; probing every cell equals brute force") {
    val dir = tempDir("graft-tivf") + "/idx"
    val cents = Kmeans.train(emb, 8, 3)
    Similarity.writeIvfIndexTrained(emb, dir, cents)
    val listing = Files.list(java.nio.file.Paths.get(dir))
    try assert(listing.iterator().asScala
      .exists(_.getFileName.toString.startsWith("cell=")))
    finally listing.close()
    // Sidecar round trip: the exact centroid matrix comes back.
    Similarity.readQuantizer(spark, dir) match {
      case Some(Similarity.TrainedQuantizer(c)) =>
        assert(c.length == cents.length &&
          c.zip(cents).forall { case (a, b) => a.sameElements(b) })
      case other => fail(s"expected TrainedQuantizer, got $other")
    }
    val probe = Similarity.ivfTopKIndexedTrained(
      spark, dir, col("vec_id") < 8, k = 5, probes = 1)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected dynamic partition pruning in:\n$plan")
    // probes = k cells ≡ every cell scanned ≡ exact brute force —
    // the exactness anchor multi-probe converges to.
    val all = rset(Similarity.ivfTopKIndexedTrained(
      spark, dir, col("vec_id") < 8, k = 5, probes = cents.length))
    val brute = rset(Similarity.bruteTopK(emb, col("vec_id") < 8, k = 5))
    assert(brute.nonEmpty && all == brute)
  }

  test("appendIvf dispatches on the trained sidecar; post-append probe is exact at full probes") {
    val dir = tempDir("graft-tivf-app") + "/idx"
    val base = emb.filter(col("vec_id") % 2 === 0)
    val delta = emb.filter(col("vec_id") % 2 === 1)
    val cents = Kmeans.train(base, 8, 2)
    Similarity.writeIvfIndexTrained(base, dir, cents)
    Similarity.appendIvf(delta, dir)
    // Delta rows landed in exactly the cells cellIdExpr assigns.
    val cellsOnDisk = spark.read.parquet(dir)
      .filter(col("vec_id") % 2 === 1)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = delta.select(col("vec_id"),
        Kmeans.cellIdExpr(Kmeans.quantize(col("embedding")), cents).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(want.nonEmpty && cellsOnDisk == want)
    // Probing all cells over base+delta equals brute force over the
    // union — append left the index exact.
    val got = rset(Similarity.ivfTopKIndexedTrained(
      spark, dir, col("vec_id") < 8, k = 5, probes = cents.length))
    val brute = rset(Similarity.bruteTopK(
      base.unionByName(delta), col("vec_id") < 8, k = 5))
    assert(brute.nonEmpty && got == brute)
  }

  test("recall: trained cells >= sign cells at equal probe budget; more probes never hurt") {
    // Equal budget: 8 sign cells (cellBits=3), one probed — vs 8
    // trained cells, one probed. Recall@5 against exact brute force
    // over the same 32 queries. Deterministic on the fixed testdata.
    val pred = col("vec_id") < 32
    val brute = Similarity.bruteTopK(emb, pred, k = 5)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: DataFrame): Double = {
      val got = df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(brute).size.toDouble / brute.size
    }
    val signRecall = recall(
      Similarity.ivfTopK(emb, pred, k = 5, cellBits = 3))
    val dir = tempDir("graft-tivf-rec") + "/idx"
    val cents = Kmeans.train(emb, 8, 3)
    Similarity.writeIvfIndexTrained(emb, dir, cents)
    val p1 = recall(Similarity.ivfTopKIndexedTrained(
      spark, dir, pred, k = 5, probes = 1))
    val p2 = recall(Similarity.ivfTopKIndexedTrained(
      spark, dir, pred, k = 5, probes = 2))
    assert(p1 >= signRecall,
      s"trained single-probe recall $p1 < sign-pattern recall $signRecall")
    // Candidate sets are nested in probes, so recall is monotone.
    assert(p2 >= p1, s"probes=2 recall $p2 < probes=1 recall $p1")
    assert(p2 > 0.0)
  }

  test("sign-quantizer index refuses the trained probe; trained index still serves ivfTopKIndexed") {
    val dir = tempDir("graft-tivf-x") + "/idx"
    Similarity.writeIvfIndex(emb, dir, cellBits = 3)
    intercept[IllegalStateException] {
      Similarity.ivfTopKIndexedTrained(spark, dir, col("vec_id") < 8)
    }
    // And readMetaSidecar's legacy surface still answers for sign.
    assert(Similarity.readMetaSidecar(spark, dir).contains(3))
  }
}
