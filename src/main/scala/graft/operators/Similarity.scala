package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.TableStore

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - [[bruteTopK]]: exact cosine top-k of each query vector against
  *    the whole corpus. The query set is broadcast, so the corpus is
  *    scanned once with zero shuffle of corpus rows; per-query top-k
  *    comes from one window over the (queries × corpus) stream. The
  *    baseline ANN oracle.
  *  - [[ivfTopK]]: IVF-style partition-pruned search. A deterministic
  *    coarse quantizer (sign pattern of the first `cellBits`
  *    dimensions) assigns every vector to a cell; a query only scans
  *    its own cell — at 100 TB, with the corpus written partitioned by
  *    cell, that is partition pruning: 1/2^cellBits of the data read.
  *    Deterministic (sign comparisons only), hence oracle-checkable,
  *    unlike random-hyperplane LSH.
  *
  * All vector math runs through the native codegen'd
  * [[graft.plans.DotProductFloat]] expression; dot products fold
  * left-to-right so results are reproducible across engines.
  */
object Similarity {

  private def dot(a: Column, b: Column): Column =
    graft.plans.GraftFunctions.dotProductFloat(a, b)

  /** Corpus + precomputed norm (float vectors kept as-is; all
    * arithmetic accumulates in double inside the expression). */
  private[operators] def prep(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Shared scorer: join the corpus to the broadcast query set under
    * `joinCond`, 6-dp-rounded cosine with vec_id tiebreak (one rounding
    * discipline for every search variant — deterministic across
    * engines and partitionings), per-query top-k via one window. */
  private[operators] def scoredTopK(base: DataFrame, queries: DataFrame,
                         joinCond: Column, k: Int): DataFrame = {
    val scored = base.join(queries, joinCond)
      .select(col("query_id"), col("vec_id").as("cand_id"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6).as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("cand_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Exact cosine top-k per query vector. `queryPred` selects the
    * query rows out of the corpus (they are excluded as their own
    * neighbor). */
  def bruteTopK(embeddings: DataFrame, queryPred: Column, k: Int = 5): DataFrame = {
    val base = prep(embeddings)
    val queries = broadcast(base.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn")))
    scoredTopK(base, queries, col("vec_id") =!= col("query_id"), k)
  }

  /** Deterministic coarse quantizer: cell id = bitmask of
    * (dimension d ≥ 0) over the first `cellBits` dimensions. */
  def cellId(v: Column, cellBits: Int = 8): Column =
    (0 until cellBits).map(d =>
      when(element_at(v, d + 1) >= 0, lit(1L << d)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** IVF-probed approximate top-k: each query scans only its own cell.
    * Recall loss vs [[bruteTopK]] is the usual IVF tradeoff (more
    * probes → higher recall); at scale the cell is a physical
    * partition and this is partition pruning. */
  def ivfTopK(embeddings: DataFrame, queryPred: Column, k: Int = 5,
              cellBits: Int = 8): DataFrame =
    ivfProbe(prep(embeddings).withColumn("cell", cellId(col("v"), cellBits)),
      queryPred, k)

  /** Shared IVF probe over a (vec_id, v, nrm, cell) corpus: broadcast
    * the query rows, join same-cell candidates, score. The ONE place
    * the probe contract lives — [[ivfTopK]] and [[ivfTopKIndexed]]
    * must not diverge. */
  private def ivfProbe(base: DataFrame, queryPred: Column,
                       k: Int): DataFrame = {
    val queries = broadcast(base.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cell").as("qcell")))
    scoredTopK(base, queries,
      col("cell") === col("qcell") && col("vec_id") =!= col("query_id"), k)
  }

  /** MATERIALIZED IVF index — what the [[ivfTopK]] scaladoc promises
    * at 100 TB, made physical: the corpus (with precomputed norms and
    * cell ids) written PARTITIONED BY cell, so each cell is a
    * `cell=<id>` directory. Build once; probes never re-quantize or
    * re-norm the corpus. */
  def writeIvfIndex(embeddings: DataFrame, path: String,
                    cellBits: Int = 8): Unit = {
    require(cellBits >= 1 && cellBits <= 16,
      s"cellBits in [1,16] (2^cellBits directories), got $cellBits")
    prep(embeddings).withColumn("cell", cellId(col("v"), cellBits))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    // Quantizer parameters ride WITH the index: an append or rebuild
    // that silently used different cellBits would put vectors in the
    // wrong cells — probes would then prune them away and lose recall
    // with no error anywhere. The sidecar makes the contract checkable.
    writeMetaSidecar(embeddings.sparkSession, path, cellBits)
  }

  /** TRAINED-quantizer IVF index — [[writeIvfIndex]] with
    * [[Kmeans.train]]'s centroids as the coarse quantizer instead of
    * the deterministic sign pattern (the production IVF shape: cells
    * follow the data's actual cluster structure, so equal-budget
    * probes recall more — pinned in TrainedIvfSpec). Assignment is
    * the pure per-row [[Kmeans.cellIdExpr]] — map-only, no shuffle,
    * the same expression the append path replays. The full centroid
    * matrix rides in the sidecar: probes and appends reconstruct the
    * EXACT quantizer from the index directory alone, so a
    * wrong-quantizer append remains structurally impossible. */
  def writeIvfIndexTrained(embeddings: DataFrame, path: String,
                           centroids: Array[Array[Long]]): Unit = {
    require(centroids.nonEmpty && centroids.forall(_.length == centroids.head.length),
      "writeIvfIndexTrained: centroids must be a non-empty rectangular matrix")
    prep(embeddings)
      .withColumn("cell", Kmeans.cellIdExpr(Kmeans.quantize(col("v")), centroids))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    writeTrainedSidecar(embeddings.sparkSession, path, centroids)
  }

  /** INCREMENTAL index maintenance — the epoch-ingest path
    * [[writeIvfIndex]] alone lacks (the MinHash index's
    * `incrementalDupPairsIndexed` precedent): quantize ONLY the delta
    * with the index's own recorded quantizer and dynamic-partition
    * append it, so exactly the delta's cells gain files and every
    * untouched `cell=` directory — at 100 TB, almost all of them — is
    * never listed, read, or rewritten. Probes need no rebuild and no
    * re-open: the very next [[ivfTopKIndexed]] read sees old + new
    * vectors, still under dynamic partition pruning (pinned in
    * ScaleOpsSpec). The quantizer (sign-pattern cellBits OR the full
    * trained centroid matrix) is read from the sidecar the build
    * wrote; a missing sidecar fails loudly rather than risking a
    * wrong-quantizer append. */
  def appendIvf(delta: DataFrame, path: String): Unit = {
    val spark = delta.sparkSession
    val assigned = readQuantizer(spark, path) match {
      case Some(SignQuantizer(cellBits)) =>
        prep(delta).withColumn("cell", cellId(col("v"), cellBits))
      case Some(TrainedQuantizer(cents)) =>
        prep(delta).withColumn("cell",
          Kmeans.cellIdExpr(Kmeans.quantize(col("v")), cents))
      case None =>
        throw new IllegalStateException(
          s"appendIvf: no $MetaFile under $path — not a writeIvfIndex " +
            "layout (or a pre-sidecar index; rebuild it)")
    }
    assigned.write.mode("append").partitionBy("cell").parquet(path)
  }

  /** Compaction janitor for an IVF index accreting streaming appends:
    * every micro-batch writes one file per task per touched cell, so a
    * hot cell accumulates KB-scale files and probe scans pay per-file
    * open/footer cost ([[AnnIngest]]'s documented hygiene debt). This
    * runs [[graft.sources.Warehouse.compactSmallFiles]] over each
    * `cell=` directory independently — cells are physically disjoint,
    * so compaction never touches rows outside the cell, concurrent
    * appends to OTHER cells are unaffected, and a racing append to the
    * compacted cell itself survives untouched (the compactSmallFiles
    * listing contract). Returns (cell, filesBefore, filesAfter) per
    * cell; no-op cells report equal counts. Run from the index's
    * single janitor, per the compactSmallFiles crash-recovery
    * contract. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String,
                      targetBytes: Long = 128L * 1024 * 1024)
      : Seq[(String, Int, Int)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .sortBy(_.getPath.getName)
      .map { cell =>
        val (before, after) = graft.sources.Warehouse.compactSmallFiles(
          spark, cell.getPath.toString, targetBytes)
        (cell.getPath.getName, before, after)
      }
  }

  private val MetaFile = "_graft_ivf.json"

  /** The quantizer an index directory was built with — reconstructed
    * entirely from the sidecar, so probes and appends can never drift
    * from the build. */
  sealed trait IvfQuantizer
  case class SignQuantizer(cellBits: Int) extends IvfQuantizer
  case class TrainedQuantizer(centroids: Array[Array[Long]]) extends IvfQuantizer

  private def writeMetaSidecar(spark: org.apache.spark.sql.SparkSession,
                               path: String, cellBits: Int): Unit =
    TableStore(spark, path).overwrite(new Path(path, MetaFile),
      s"""{"cellBits":$cellBits}""")

  /** Trained-quantizer sidecar: the FULL centroid matrix rides with
    * the index (k×d longs — control-plane-sized for production k of
    * 256-4096 cells). Flat `;`/`,`-encoded matrix inside one JSON
    * string field keeps the hand-rolled no-dependency parse trivial
    * on the read side. */
  private def writeTrainedSidecar(spark: org.apache.spark.sql.SparkSession,
                                  path: String,
                                  centroids: Array[Array[Long]]): Unit = {
    val flat = centroids.map(_.mkString(",")).mkString(";")
    TableStore(spark, path).overwrite(new Path(path, MetaFile),
      s"""{"quantizer":"kmeans","k":${centroids.length},""" +
        s""""dim":${centroids.head.length},"scale":65536,""" +
        s""""centroids":"$flat"}""")
  }

  /** The index's recorded quantizer, if the sidecar exists. */
  def readQuantizer(spark: org.apache.spark.sql.SparkSession,
                    path: String): Option[IvfQuantizer] =
    TableStore(spark, path).readText(new Path(path, MetaFile)).map { txt =>
      "\"centroids\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(txt) match {
        case Some(m) =>
          TrainedQuantizer(m.group(1).split(';')
            .map(_.split(',').map(_.toLong)))
        case None =>
          val bits = "\"cellBits\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt)
            .getOrElse(throw new IllegalStateException(
              s"$MetaFile under $path parses as neither sign-pattern " +
                "nor trained quantizer")).group(1).toInt
          SignQuantizer(bits)
      }
    }

  /** The index's recorded sign-quantizer width, if the sidecar exists
    * and records one (the pre-trained-quantizer surface, kept for
    * existing callers). */
  def readMetaSidecar(spark: org.apache.spark.sql.SparkSession,
                      path: String): Option[Int] =
    readQuantizer(spark, path).collect { case SignQuantizer(b) => b }

  /** Initialize an EXACTLY-ONCE streaming ANN index: a
    * [[graft.sources.SnapshotTable]] whose rows are (vec_id, v, nrm,
    * cell) hidden-partitioned by cell, with the trained quantizer in
    * the index sidecar. Appends go through the table's transaction
    * ledger ([[appendIvfSnapshot]]) so replayed micro-batches are
    * manifest no-ops — the at-least-once caveat the plain
    * [[appendIvf]] layout carries is closed here. */
  def initIvfSnapshot(spark: org.apache.spark.sql.SparkSession,
                      dir: String,
                      centroids: Array[Array[Long]]): Unit = {
    require(centroids.nonEmpty && centroids.forall(_.length == centroids.head.length),
      "initIvfSnapshot: centroids must be a non-empty rectangular matrix")
    // Re-keying a populated table silently mis-cells every future
    // append against the rows already committed — refuse (the
    // [[graft.operators.Pq.initIvfPqSnapshot]] guard).
    if (graft.sources.SnapshotTable.latestVersion(spark, dir).nonEmpty)
      throw new IllegalStateException(
        s"initIvfSnapshot: $dir already holds committed vectors — " +
          "re-keying an index requires a rebuild into a fresh directory")
    writeTrainedSidecar(spark, dir, centroids)
  }

  /** EXACTLY-ONCE delta append into an [[initIvfSnapshot]] table:
    * quantize the delta with the sidecar's recorded centroids,
    * transactionally append partitioned by cell. A replayed
    * (appId, txnVersion) returns None and changes nothing — the
    * Structured Streaming foreachBatch contract
    * ([[graft.streaming.AnnIngest.startExactlyOnce]] is the sink). */
  def appendIvfSnapshot(delta: DataFrame, dir: String,
                        appId: String, txnVersion: Long): Option[Long] = {
    val spark = delta.sparkSession
    val cents = readQuantizer(spark, dir) match {
      case Some(TrainedQuantizer(c)) => c
      case other => throw new IllegalStateException(
        s"appendIvfSnapshot: $dir is not an initIvfSnapshot layout " +
          s"(quantizer: $other)")
    }
    val assigned = prep(delta)
      .withColumn("cell", Kmeans.cellIdExpr(Kmeans.quantize(col("v")), cents))
    // vec_id stats + Bloom refs per file: [[ivfTopKSnapshotIds]]
    // resolves query rows by id through manifest pruning instead of a
    // full table scan — at 100 TB the query lookup must not cost a
    // corpus read.
    graft.sources.SnapshotTable.transactionalAppendPartitioned(
      assigned, dir, partitionBy = Seq("cell"), appId, txnVersion,
      statsCols = Seq("vec_id"), bloomCols = Seq("vec_id"))
  }

  /** Multi-probe top-k over an [[initIvfSnapshot]] table: query rows
    * rank the sidecar centroids; the DISTINCT probed cells (a
    * |queries|×probes-bounded control-plane set) resolve to files
    * through the manifest's per-file cell stats — hidden
    * partitioning makes min==max per file, so the probe opens
    * EXACTLY the owning files, no directory listing, no runtime
    * filter. Same scoring/tie-break as every other search variant;
    * snapshot isolation comes free from the manifest read. */
  def ivfTopKSnapshot(spark: org.apache.spark.sql.SparkSession,
                      dir: String, queryPred: Column,
                      k: Int = 5, probes: Int = 1): DataFrame = {
    val cents = readQuantizer(spark, dir) match {
      case Some(TrainedQuantizer(c)) => c
      case other => throw new IllegalStateException(
        s"ivfTopKSnapshot: $dir is not an initIvfSnapshot layout " +
          s"(quantizer: $other)")
    }
    val v = graft.sources.SnapshotTable.latestVersion(spark, dir)
    val table = graft.sources.SnapshotTable.read(spark, dir, version = v)
    snapshotProbe(spark, dir, cents, table.filter(queryPred), k, probes, v)
  }

  /** [[ivfTopKSnapshot]] with the query rows resolved BY ID through
    * manifest pruning: each id opens only its owning files (per-file
    * vec_id min/max + the Bloom sidecars [[appendIvfSnapshot]]
    * records), so the query lookup costs O(query files), not a corpus
    * scan — the missing piece that made the predicate form's
    * `table.filter(queryPred)` the one full read left in the snapshot
    * ANN path. Ids are the control-plane-sized query set by
    * construction (they feed a broadcast either way). */
  def ivfTopKSnapshotIds(spark: org.apache.spark.sql.SparkSession,
                         dir: String, queryIds: Seq[Long],
                         k: Int = 5, probes: Int = 1): DataFrame = {
    require(queryIds.nonEmpty, "ivfTopKSnapshotIds: empty query id set")
    val cents = readQuantizer(spark, dir) match {
      case Some(TrainedQuantizer(c)) => c
      case other => throw new IllegalStateException(
        s"ivfTopKSnapshotIds: $dir is not an initIvfSnapshot layout " +
          s"(quantizer: $other)")
    }
    // ONE pinned version across the per-id lookups AND the cell
    // scans: resolving latestVersion per readWhereEq would let a
    // concurrent ledgered append commit mid-probe and tear the
    // snapshot (id A from version v, id B and the cells from v+1) —
    // and re-run the manifest/Bloom prune state load N times over.
    val v = graft.sources.SnapshotTable.latestVersion(spark, dir)
    val qrows = queryIds.distinct.sorted
      .map(id => graft.sources.SnapshotTable.readWhereEq(
        spark, dir, "vec_id", id, version = v))
      .reduce(_ unionByName _)
    snapshotProbe(spark, dir, cents, qrows, k, probes, v)
  }

  private def snapshotProbe(spark: org.apache.spark.sql.SparkSession,
                            dir: String, cents: Array[Array[Long]],
                            queryRows: DataFrame,
                            k: Int, probes: Int,
                            version: Option[Long]): DataFrame = {
    val queries = queryRows
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"),
        explode(Kmeans.nearestCellsExpr(
          Kmeans.quantize(col("v")), cents, probes)).as("qcell"))
    val probeCells = queries.select("qcell").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val base = probeCells
      .map(c => graft.sources.SnapshotTable.readWhereEq(
        spark, dir, "cell", c, version = version))
      .reduceOption(_ unionByName _)
      .getOrElse(graft.sources.SnapshotTable
        .read(spark, dir, version = version).filter(lit(false)))
    scoredTopK(base, broadcast(queries),
      col("cell") === col("qcell") && col("vec_id") =!= col("query_id"), k)
  }

  /** MULTI-PROBE top-k over a [[writeIvfIndexTrained]] layout — the
    * production ANN read path: each query ranks the sidecar's
    * centroids (control-plane k), scans its `probes` nearest cells
    * under dynamic partition pruning, and takes exact cosine top-k
    * within them. `probes` is the recall/cost dial: cells are
    * physical partitions, so the scan budget is exactly the probed
    * cells' bytes — at 100 TB, probes/k of the index. Scoring and
    * (cos_sim, cand_id) tie-break are [[scoredTopK]]'s, identical to
    * every other search variant. */
  def ivfTopKIndexedTrained(spark: org.apache.spark.sql.SparkSession,
                            path: String, queryPred: Column,
                            k: Int = 5, probes: Int = 1): DataFrame = {
    val cents = readQuantizer(spark, path) match {
      case Some(TrainedQuantizer(c)) => c
      case Some(_: SignQuantizer) => throw new IllegalStateException(
        s"ivfTopKIndexedTrained: $path records a sign-pattern quantizer " +
          "— probe it with ivfTopKIndexed (multi-probe is the trained " +
          "quantizer's read path)")
      case None => throw new IllegalStateException(
        s"ivfTopKIndexedTrained: no $MetaFile under $path")
    }
    val base = spark.read.parquet(path)
    val queries = broadcast(base.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"),
        explode(Kmeans.nearestCellsExpr(
          Kmeans.quantize(col("v")), cents, probes)).as("qcell")))
    scoredTopK(base, queries,
      col("cell") === col("qcell") && col("vec_id") =!= col("query_id"), k)
  }

  /** [[ivfTopK]] over a [[writeIvfIndex]] layout. The probe joins the
    * broadcast query set on the PARTITION column, so Spark's dynamic
    * partition pruning turns "each query scans only its own cell" into
    * literal directory pruning — the corpus scan carries a
    * dynamicpruning partition filter and non-probed cells are never
    * read (pinned in ScaleOpsSpec). Same scoring/tie-break discipline
    * as every other search variant. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                     path: String, queryPred: Column,
                     k: Int = 5): DataFrame =
    ivfProbe(spark.read.parquet(path), queryPred, k)
}
