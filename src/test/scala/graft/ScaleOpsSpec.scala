package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.SkewJoin
import graft.sources.Warehouse

/** Scale-infrastructure operators: salted skew join correctness and
  * warehouse partition pruning. */
class ScaleOpsSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("saltedEquiJoin: identical result to the plain join under skew") {
    // 90% of fact rows hit one hot key.
    val fact = (1 to 10000).map { i =>
      (if (i % 10 == 0) s"t${i % 7}" else "hot", i.toLong)
    }.toDF("tenant", "v")
    val dim = Seq(("hot", "HOT"), ("t0", "A"), ("t1", "B"), ("t3", "C"))
      .toDF("tenant", "name")
    val plain = fact.join(dim, "tenant")
      .groupBy("tenant", "name").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val salted = SkewJoin.saltedEquiJoin(fact, dim, "tenant", salts = 8)
      .groupBy("tenant", "name").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(salted == plain)
  }

  test("saltedEquiJoin left join keeps unmatched fact rows exactly once") {
    val fact = Seq(("a", 1L), ("zzz", 2L), ("a", 3L)).toDF("k", "v")
    val dim = Seq(("a", "A")).toDF("k", "name")
    val rows = SkewJoin.saltedEquiJoin(fact, dim, "k", salts = 4, joinType = "left")
      .select("k", "v", "name").collect()
      .map(r => (r.getString(0), r.getLong(1), if (r.isNullAt(2)) null else r.getString(2)))
      .toSet
    assert(rows == Set(("a", 1L, "A"), ("a", 3L, "A"), ("zzz", 2L, null)))
  }

  test("saltedEquiJoin tolerates map-typed fact columns (excluded from salt)") {
    // xxhash64 refuses MapType under default config; the salt must
    // hash the remaining columns and the join must still be exact.
    val fact = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "v")
      .withColumn("props", map(lit("x"), col("v").cast("string")))
    val dim = Seq(("a", "A"), ("b", "B")).toDF("k", "name")
    val rows = SkewJoin.saltedEquiJoin(fact, dim, "k", salts = 4)
      .select("k", "v", "name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(rows == Set(("a", 1L, "A"), ("a", 2L, "A"), ("b", 3L, "B")))
  }

  test("co-bucketed tables join with zero shuffles and zero sorts") {
    // The fact↔fact co-location layout: both sides bucketed+sorted on
    // the join key with matching bucket counts — the join must plan
    // without any Exchange (and without re-sorting, buckets are
    // pre-sorted). This is the layout q-style pipelines rely on when
    // neither side broadcasts at the 100 TB design point.
    val dir = tempDir("graft-buckets")
    val orders = spark.range(0, 1000)
      .select(col("id").as("o_key"), (col("id") % 7).as("o_val"))
    val items = spark.range(0, 3000)
      .select((col("id") % 1000).as("o_key"), col("id").as("i_val"))
    Warehouse.writeBucketed(orders, "b_orders", "o_key", 8,
      Some(s"$dir/orders"))
    Warehouse.writeBucketed(items, "b_items", "o_key", 8,
      Some(s"$dir/items"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders").join(spark.table("b_items"), "o_key")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle either side:\n$plan")
      assert(joined.count() == 3000)
      // Sanity: same result as the plain path-based join.
      val plain = spark.read.parquet(s"$dir/orders")
        .join(spark.read.parquet(s"$dir/items"), "o_key")
      assert(plain.count() == 3000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_items")
    }
  }

  test("materialized LSH index: co-bucketed band join, shuffle-free, superset of in-memory pairs") {
    // The layout cosineLshPairs' scaladoc promises: signatures in a
    // bucketed table keyed by bkey=hash(band, value), so the candidate
    // self-join needs NO Exchange — the only shuffle in the whole plan
    // is the final pair dedup, which carries true >=-threshold pairs.
    val dir = tempDir("graft-lsh")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val noise = (x: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =>
      (x + lit(0.05) * (pmod(xxhash64(col("vec_id") * 1000L + i), lit(1000L))
        .cast("double") / 1000.0 - 0.5)).cast("float")
    val twins = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), noise).as("embedding"))
    val corpus = emb.unionByName(twins)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val reg = new graft.operators.CacheRegistry
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      graft.operators.Dedup.writeLshIndex(corpus, "lsh_idx",
        bandBits = 16, numBands = 4, nBuckets = 4)
      // The thin signature table's candidate self-join is co-bucketed:
      // its ONLY Exchange is the pair dedup, carrying bare (i,j) longs.
      val candPlan = graft.operators.Dedup
        .lshIndexCandidates(spark, "lsh_idx")
        .queryExecution.executedPlan.toString
      assert(candPlan.split("Exchange").length - 1 == 1,
        s"expected exactly one Exchange (the pair dedup), got:\n$candPlan")
      val pairs = graft.operators.Dedup.cosineLshPairsIndexed(
        spark, "lsh_idx", threshold = 0.9)
      // Embeddings never shuffle: every Exchange in the full refine
      // plan carries only scalar columns — the vec side table stays in
      // its buckets and only candidate ids move.
      val shuffledArrays = pairs.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.output.exists(_.dataType
            .isInstanceOf[org.apache.spark.sql.types.ArrayType]) => e
      }
      assert(shuffledArrays.isEmpty,
        s"an Exchange carries embedding arrays:\n${shuffledArrays.mkString("\n")}")
      val indexed = pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(indexed.forall(_._3 >= 0.9), "refine must enforce the threshold")
      val inMem = graft.operators.Dedup.cosineLshPairs(corpus,
        threshold = 0.9, bandBits = 16, numBands = 4, registry = reg)
        .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(inMem.nonEmpty, "planted twins must produce pairs")
      val idxSet = indexed.map(p => (p._1, p._2)).toSet
      assert(inMem.subsetOf(idxSet),
        s"indexed path lost ${(inMem -- idxSet).size} in-memory pairs")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      reg.releaseAll()
      spark.sql("DROP TABLE IF EXISTS lsh_idx")
      spark.sql("DROP TABLE IF EXISTS lsh_idx_vec")
    }
  }

  test("materialized MinHash index: base never shuffles, indexed equals in-memory") {
    // The incremental-dedup epoch contract (Dedup.writeMinhashIndex /
    // incrementalDupPairsIndexed): the base corpus is signed ONCE into
    // a bucketed signature table + a bucketed gram side table; each
    // epoch's delta probes them and the BASE side never moves — no
    // ShuffleExchange in the probe/refine plan has the index tables'
    // scan in its subtree (the only array-carrying exchange is the
    // delta's own gram rows, delta-sized by construction).
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val isDelta = pmod(col("doc_id"), lit(5)) === 4
    val base = docs.filter(!isDelta)
    val delta = docs.filter(isDelta)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val reg = new graft.operators.CacheRegistry
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      graft.operators.Dedup.writeMinhashIndex(base, "minc_idx",
        nBuckets = 4, registry = reg)
      val indexed = graft.operators.Dedup.incrementalDupPairsIndexed(
        spark, delta, "minc_idx")
      // Non-vacuity guard: the probe plan must actually read the index
      // tables (otherwise the no-shuffle assertion below tests nothing).
      assert(indexed.queryExecution.executedPlan.toString.contains("minc_idx"),
        "probe plan does not scan the index tables")
      val idxShuffles = indexed.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.child.toString.contains("minc_idx") => e
      }
      assert(idxShuffles.isEmpty,
        s"index-table rows entered a shuffle:\n${idxShuffles.mkString("\n")}")
      val got = indexed.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = graft.operators.Dedup.incrementalDupPairs(
          base, delta, registry = reg).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(want.nonEmpty, "fixture must have cross-split dups")
      assert(got == want,
        s"indexed != in-memory: extra=${(got -- want).take(3)} " +
          s"missing=${(want -- got).take(3)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      reg.releaseAll()
      spark.sql("DROP TABLE IF EXISTS minc_idx")
      spark.sql("DROP TABLE IF EXISTS minc_idx_grams")
    }
  }

  test("materialized IVF index: dynamic partition pruning on the probe, same results") {
    val dir = tempDir("graft-ivf") + "/idx"
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    graft.operators.Similarity.writeIvfIndex(emb, dir, cellBits = 4)
    val listing = Files.list(java.nio.file.Paths.get(dir))
    try assert(listing.iterator().asScala
      .exists(_.getFileName.toString.startsWith("cell=")),
      "index must be laid out as cell=<id> partitions")
    finally listing.close()
    val probe = graft.operators.Similarity.ivfTopKIndexed(
      spark, dir, col("vec_id") < 8, k = 5)
    // The probe join is on the partition column against a broadcast
    // query set → the corpus scan must carry a dynamicpruning
    // partition filter (non-probed cell directories never read).
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected dynamic partition pruning in:\n$plan")
    val got = probe.select("query_id", "cand_id", "cos_sim", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    val want = graft.operators.Similarity.ivfTopK(
        emb, col("vec_id") < 8, k = 5, cellBits = 4)
      .select("query_id", "cand_id", "cos_sim", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(want.nonEmpty && got == want,
      "indexed probe must equal the in-memory IVF results")
  }

  test("multimodal pair co-bucketed: documents⋈embeddings joins with zero Exchange, same result") {
    // The physical-layout completion of q_multimodal_join: at 100 TB
    // neither the document corpus nor the embedding table broadcasts,
    // so the id join is a shuffle of BOTH — unless both are written
    // bucketed on their id (documents by doc_id, embeddings by
    // vec_id, same bucket count). Then the equi-join on
    // doc_id = vec_id plans with no Exchange on either side, and the
    // per-label aggregate is all that shuffles.
    val dir = tempDir("graft-mm")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Warehouse.writeBucketed(docs, "mm_docs", "doc_id", 8, Some(s"$dir/docs"))
    Warehouse.writeBucketed(emb, "mm_emb", "vec_id", 8, Some(s"$dir/emb"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def agg(docsDf: org.apache.spark.sql.DataFrame,
              embDf: org.apache.spark.sql.DataFrame) =
        docsDf.join(embDf, col("doc_id") === col("vec_id"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
      val bucketed = agg(spark.table("mm_docs"), spark.table("mm_emb"))
      val joinPlan = spark.table("mm_docs")
        .join(spark.table("mm_emb"), col("doc_id") === col("vec_id"))
        .queryExecution.executedPlan.toString
      assert(!joinPlan.contains("Exchange"),
        s"co-bucketed multimodal join must not shuffle either side:\n$joinPlan")
      def toSet(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.get(0).toString, r.getLong(1), r.getLong(2))).toSet
      val got = toSet(bucketed)
      val want = toSet(agg(docs, emb))
      assert(want.nonEmpty && got == want,
        "bucketed multimodal join result differs from the plain join")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS mm_docs")
      spark.sql("DROP TABLE IF EXISTS mm_emb")
    }
  }

  test("appendIvf touches only the delta's cells; probe sees old+new under DPP") {
    val dir = tempDir("graft-ivf-app") + "/idx"
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 2 === 0)
    graft.operators.Similarity.writeIvfIndex(base, dir, cellBits = 4)
    // Delta restricted to ONE cell, so 15 of the 16 cell directories
    // must come through the append byte-untouched.
    val deltaAll = emb.filter(col("vec_id") % 2 === 1)
    val targetCell = deltaAll.select(
        graft.operators.Similarity.cellId(col("embedding"), 4).as("c"))
      .head().getLong(0)
    val delta = deltaAll.filter(
      graft.operators.Similarity.cellId(col("embedding"), 4) === targetCell)
    def fileSet(cellDir: java.nio.file.Path) = {
      val l = Files.list(cellDir)
      try l.iterator().asScala.map(p =>
        p.getFileName.toString -> Files.size(p)).toSet
      finally l.close()
    }
    def cellListings() = {
      val l = Files.list(java.nio.file.Paths.get(dir))
      try l.iterator().asScala
        .filter(_.getFileName.toString.startsWith("cell="))
        .map(p => p.getFileName.toString -> fileSet(p)).toMap
      finally l.close()
    }
    val before = cellListings()
    graft.operators.Similarity.appendIvf(delta, dir)
    val after = cellListings()
    val touched = after.keySet.filter(c =>
      before.get(c) != Some(after(c)))
    assert(touched == Set(s"cell=$targetCell"),
      s"append must only touch the delta's cell, touched: $touched")
    (before.keySet - s"cell=$targetCell").foreach { c =>
      assert(before(c) == after(c), s"untouched cell $c changed")
    }
    // The post-append probe equals the in-memory IVF over base+delta
    // and still plans with dynamic partition pruning.
    val probe = graft.operators.Similarity.ivfTopKIndexed(
      spark, dir, col("vec_id") < 8, k = 5)
    assert(probe.queryExecution.executedPlan.toString
      .toLowerCase.contains("dynamicpruning"))
    def rset(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "cos_sim", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
    val want = rset(graft.operators.Similarity.ivfTopK(
      base.unionByName(delta), col("vec_id") < 8, k = 5, cellBits = 4))
    assert(want.nonEmpty && rset(probe) == want,
      "post-append probe must equal in-memory IVF over base+delta")
    // A directory without the quantizer sidecar must refuse the append
    // (wrong-cellBits appends would silently lose recall).
    val bare = tempDir("graft-ivf-bare") + "/idx"
    base.limit(4).select(col("vec_id"), col("embedding").as("v"))
      .write.parquet(bare)
    intercept[IllegalStateException] {
      graft.operators.Similarity.appendIvf(delta, bare)
    }
  }

  test("compactIvfIndex: per-cell compaction, probe results identical") {
    // Simulate streaming accretion: many tiny appends → compact →
    // file counts drop per cell, probe results are byte-identical,
    // the quantizer sidecar and DPP survive.
    val dir = tempDir("graft-ivfc") + "/idx"
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    graft.operators.Similarity.writeIvfIndex(
      emb.filter(col("vec_id") % 4 === 0), dir, cellBits = 3)
    (1 to 3).foreach { m =>
      graft.operators.Similarity.appendIvf(
        emb.filter(col("vec_id") % 4 === m), dir)
    }
    def rset() = graft.operators.Similarity.ivfTopKIndexed(
        spark, dir, col("vec_id") < 8, k = 5)
      .select("query_id", "cand_id", "cos_sim", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val before = rset()
    val report = graft.operators.Similarity.compactIvfIndex(spark, dir)
    assert(report.nonEmpty, "expected cell directories")
    assert(report.exists { case (_, b, a) => a < b },
      s"no cell actually compacted: $report")
    report.foreach { case (c, b, a) =>
      assert(a <= b, s"$c grew: $b -> $a")
    }
    assert(rset() == before, "probe results changed across compaction")
    assert(graft.operators.Similarity.readMetaSidecar(spark, dir)
      .contains(3), "quantizer sidecar lost")
    // Appends still work post-compaction (layout and sidecar intact).
    graft.operators.Similarity.appendIvf(
      emb.filter(col("vec_id") % 4 === 0).limit(1), dir)
  }

  test("compactSmallFiles: fewer files, identical rows, idempotent") {
    val dir = tempDir("graft-compact") + "/t"
    spark.range(0, 10000).select(col("id"), (col("id") * 3).as("v"))
      .repartition(40).write.parquet(dir)
    val before = spark.read.parquet(dir)
      .agg(count(lit(1)), sum("v")).first()
    val (n0, n1) = Warehouse.compactSmallFiles(spark, dir)
    assert(n0 == 40 && n1 < 40 && n1 >= 1, s"compact went $n0 -> $n1")
    val after = spark.read.parquet(dir)
      .agg(count(lit(1)), sum("v")).first()
    assert(after == before, "compaction must not change the row set")
    // Second run is a no-op: already at/below the target file count.
    val (m0, m1) = Warehouse.compactSmallFiles(spark, dir)
    assert(m0 == n1 && m1 == n1, s"re-compact must no-op, got $m0 -> $m1")
  }

  test("compactSmallFiles aborts on a non-empty trash dir (crashed prior swap)") {
    val base = java.nio.file.Paths.get(tempDir("graft-compact-crash"))
    val dir = base.toString + "/t"
    spark.range(0, 1000).select(col("id"), (col("id") * 3).as("v"))
      .repartition(20).write.parquet(dir)
    // Simulate a prior run that crashed mid-swap: its trash dir holds a
    // moved-aside original — possibly the only copy of those rows. A
    // fresh run must refuse to touch it, not silently delete it.
    val trash = base.resolve(".t_compact_old")
    Files.createDirectory(trash)
    val stranded = trash.resolve("part-stranded.parquet")
    Files.write(stranded, Array[Byte](1, 2, 3))
    val e = intercept[java.io.IOException] {
      Warehouse.compactSmallFiles(spark, dir)
    }
    assert(e.getMessage.contains("non-empty"), e.getMessage)
    assert(Files.exists(stranded), "abort must leave the trash untouched")
    // The abort must fire even when the live dir LOOKS already compact
    // (crash after the rewrite→live move): the no-op early return may
    // not bypass it.
    val base2 = java.nio.file.Paths.get(tempDir("graft-compact-crash2"))
    val dir2 = base2.toString + "/t"
    spark.range(0, 10).coalesce(1).write.parquet(dir2)
    val trash2 = base2.resolve(".t_compact_old")
    Files.createDirectory(trash2)
    Files.write(trash2.resolve("part-stranded.parquet"), Array[Byte](1))
    val e2 = intercept[java.io.IOException] {
      Warehouse.compactSmallFiles(spark, dir2)
    }
    assert(e2.getMessage.contains("non-empty"), e2.getMessage)
    // An EMPTY trash (clean shutdown raced the final delete) is fine.
    Files.delete(stranded)
    val (n0, n1) = Warehouse.compactSmallFiles(spark, dir)
    assert(n0 == 20 && n1 < 20 && n1 >= 1, s"compact went $n0 -> $n1")
  }

  test("compactSmallFiles preserves evolved schemas (union of all footers)") {
    import spark.implicits._
    val dir = tempDir("graft-compact-ev") + "/t"
    // Two appends with DIFFERENT schemas (the O16 evolution shape),
    // several small files each: compaction must keep both column sets.
    (1L to 12L).map(i => (i, i.toDouble)).toDF("id", "a").repartition(6)
      .write.mode("append").parquet(dir)
    (13L to 24L).map(i => (i, s"x$i")).toDF("id", "b").repartition(6)
      .write.mode("append").parquet(dir)
    val (n0, n1) = Warehouse.compactSmallFiles(spark, dir)
    assert(n0 > n1 && n1 >= 1, s"compact went $n0 -> $n1")
    val back = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(back.columns.toSet == Set("id", "a", "b"),
      s"evolved column lost: ${back.columns.toSeq}")
    assert(back.count() == 24)
    val r1 = back.filter(col("id") === 1L).first()
    assert(r1.getAs[Double]("a") == 1.0 && r1.isNullAt(r1.fieldIndex("b")))
    val r2 = back.filter(col("id") === 13L).first()
    assert(r2.getAs[String]("b") == "x13" && r2.isNullAt(r2.fieldIndex("a")))
  }

  test("warehouse day-partitioned layout prunes partitions on read") {
    val dir = tempDir("graft-wh")
    val events = spark.createDataFrame(Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 11:00:00"), 2.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-03 12:00:00"), 3.0)))
      .toDF("event_id", "ts", "value")
    Warehouse.appendEventsByDay(events, dir)
    assert(Files.exists(java.nio.file.Paths.get(dir, "day=2024-01-02")))

    val pruned = Warehouse.read(spark, dir).filter(col("day") === "2024-01-02")
    assert(pruned.collect().map(_.getAs[Long]("event_id")).toSeq == Seq(2L))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"),
      s"no partition pruning in plan:\n$plan")
    // Only ONE of the three day-directories' files is actually scanned.
    val scanned = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }
    assert(scanned.contains(1), s"expected 1 selected partition, got $scanned")
  }

  test("materialized co-purchase edge index: u-keyed work is Exchange-free, contents equal the direct build") {
    // The graph family's shared substrate (q_triangles /
    // q_clustering_coef / q_assortativity / q_degree_dist /
    // q_copurchase_components): built ONCE, bucketed by u, so (a)
    // u-keyed aggregates/joins plan without shuffling the edge side
    // and (b) every support threshold >= the build's is a filter over
    // the same table — no per-query edge rebuild.
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    graft.operators.Graph.writeCopurchaseIndex(li, "cp_edge_idx",
      minSupport = 2, nBuckets = 4)
    try {
      val agg = spark.table("cp_edge_idx").groupBy("u")
        .agg(sum("w").as("tw"), count(lit(1)).as("n"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"u-keyed aggregate over the bucketed edge index must not shuffle:\n$plan")
      def asSet(df: org.apache.spark.sql.DataFrame) =
        df.select("u", "v", "w").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val direct2 = asSet(graft.operators.Graph.copurchaseEdgeList(li, 2))
      assert(direct2.nonEmpty, "fixture produced no support-2 edges")
      assert(asSet(spark.table("cp_edge_idx")) == direct2)
      // One index serves every higher threshold: the w>=3 filter over
      // the support-2 index is exactly the direct support-3 build.
      val direct3 = asSet(graft.operators.Graph.copurchaseEdgeList(li, 3))
      assert(asSet(spark.table("cp_edge_idx").filter(col("w") >= 3)) == direct3)
    } finally spark.sql("DROP TABLE IF EXISTS cp_edge_idx")
  }

  test("readWhereEqAny: a wide IN-list plans ONE broadcast semi-join, same rows") {
    import graft.sources.SnapshotTable
    val dir = tempDir("graft-eqany") + "/t"
    SnapshotTable.append((0L until 2000L).map(i => (i, s"t$i"))
      .toDF("id", "s").repartitionByRange(4, col("id"))
      .sortWithinPartitions("id"), dir,
      statsCols = Seq("id"), bloomCols = Seq("id"))
    // 5000 values (half beyond the table): above the threshold the
    // probe is one broadcast LeftSemi join — not 5000 per-value file
    // prunes and a 5000-literal In filter
    val wide: Seq[Any] = (0L until 10000L by 2L).map(x => x: Any)
    val df = SnapshotTable.readWhereEqAny(spark, dir, "id", wide)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected a semi-join plan:\n$plan")
    assert(df.count() == 1000) // even ids 0..1998
    // the [min,max] envelope still prunes files on the clustered layout
    val hiVals: Seq[Any] = (1500L until 3000L).map(x => x: Any)
    val hi = SnapshotTable.readWhereEqAny(spark, dir, "id", hiVals)
    assert(hi.count() == 500)
    assert(hi.queryExecution.executedPlan.toString.contains("LeftSemi"))
    // narrow lists keep the per-value prune + In path, same semantics
    assert(SnapshotTable.readWhereEqAny(spark, dir, "id",
      Seq(2L, 3L, 4999L)).collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    // boxed-type mismatch with the column coerces (Integer → BIGINT)…
    val ints: Seq[Any] = (0 until 600).map(i => Int.box(i * 2))
    assert(SnapshotTable.readWhereEqAny(spark, dir, "id", ints)
      .count() == 600)
    // …while a MIXED-type list fails loudly up front
    intercept[IllegalArgumentException] {
      SnapshotTable.readWhereEqAny(spark, dir, "id",
        (0 until 300).map(i =>
          if (i % 2 == 0) Int.box(i) else Long.box(i.toLong)))
    }
  }

  test("applyChanges: bounded key sets prune the touched-file probe; past the cap, identical results") {
    import graft.sources.SnapshotTable
    // TWO key-clustered twins (range-partitioned files with id stats +
    // blooms); the same change batch applies pruned (default cap) to
    // one and with pruning DISABLED (pruneKeyLimit = 0, the old
    // full-scan probe) to the other — tables must end byte-identical
    // in content, and the pruned probe's candidate set must be ≪ the
    // file count.
    def mk(tag: String): String = {
      val d = tempDir(s"graft-ac-$tag") + "/t"
      SnapshotTable.append((0L until 2000L).map(i => (i, s"v$i", i % 7))
        .toDF("id", "v", "g").repartitionByRange(8, col("id"))
        .sortWithinPartitions("id"), d,
        statsCols = Seq("id"), bloomCols = Seq("id"))
      d
    }
    val pruned = mk("p"); val full = mk("f")
    val changes = Seq(
      (3L, "up3", 0L, "insert"),   // update in the low file
      (1777L, "up1777", 6L, "insert"), // update in the high file
      (9L, "", 0L, "delete"),      // delete in the low file
      (5000L, "new", 1L, "insert") // fresh key, no file holds it
    ).toDF("id", "v", "g", "_change")
    val v0 = SnapshotTable.latestVersion(spark, pruned).get
    val cand = SnapshotTable.pruneFilesForKeys(spark, pruned, v0,
      Seq("id"), Seq(3L, 1777L, 9L, 5000L)
        .map(org.apache.spark.sql.Row(_)))
    val total = SnapshotTable.manifestFiles(spark, pruned, v0).length
    assert(total >= 8 && cand.length <= 2,
      s"expected ≤2 of $total candidates, got ${cand.length}")
    SnapshotTable.applyChanges(spark, pruned, changes, Seq("id"))
    SnapshotTable.applyChanges(spark, full, changes, Seq("id"),
      pruneKeyLimit = 0)
    val a = SnapshotTable.read(spark, pruned).collect().toSet
    val b = SnapshotTable.read(spark, full).collect().toSet
    assert(a == b)
    assert(a.exists(r => r.getLong(0) == 3L && r.getString(1) == "up3"))
    assert(!a.exists(_.getLong(0) == 9L))
    assert(a.exists(_.getLong(0) == 5000L))
    // both rewrites dropped the SAME (exact) touched files
    def dropped(d: String): Int = {
      val v = SnapshotTable.latestVersion(spark, d).get
      (SnapshotTable.manifestFiles(spark, d, v - 1).toSet --
        SnapshotTable.manifestFiles(spark, d, v).toSet).size
    }
    assert(dropped(pruned) == dropped(full) && dropped(pruned) <= 2)
  }

  test("schema evolution survives the partitioned layout (mergeSchema)") {
    val dir = tempDir("graft-wh2")
    Warehouse.appendPartitioned(
      Seq((1L, "2024-01-01", 1.0)).toDF("id", "day", "a"), dir, Seq("day"))
    Warehouse.appendPartitioned(
      Seq((2L, "2024-01-02", "x")).toDF("id", "day", "b"), dir, Seq("day"))
    val merged = Warehouse.read(spark, dir, mergeSchema = true)
    assert(merged.columns.toSet == Set("id", "day", "a", "b"))
    val r = merged.filter(col("id") === 1L).first()
    assert(r.isNullAt(r.fieldIndex("b")))
  }
}
