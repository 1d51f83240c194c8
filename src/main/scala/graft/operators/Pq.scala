package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.TableStore

/** PRODUCT QUANTIZATION (Jégou et al. 2011, the public IVF-PQ
  * design every billion-vector ANN system descends from): vectors
  * compress to `m` small codes — one nearest-codebook-entry id per
  * length-`d/m` subspace — and search runs over the CODES via
  * asymmetric distance computation (ADC): the query precomputes one
  * m×k lookup table of exact subspace distances, and each
  * candidate's distance is m table lookups + adds, never touching
  * the original vector.
  *
  * Why this is THE 100 TB ANN memory story: float vectors at d=64
  * are 256 B/row; m=8 byte-codes are 8 B/row — a 32× compression
  * that turns a petabyte-scale vector corpus into something a
  * cluster holds in memory and scans at cache speed. Composes with
  * the IVF cell layout ([[Similarity]]): cells prune WHICH codes are
  * scanned, PQ compresses the scan itself.
  *
  * Determinism discipline (the [[Kmeans]] contract, inherited
  * wholesale): subspace codebooks are trained by the exact-integer
  * distributed Lloyd's (one JOINT pass per iteration over all m
  * subspaces — bit-identical under any partitioning AND to the
  * m-sequential-trainings twin, both pinned), encoding is an
  * exact-integer argmin with (dist, id) tie-break, and ADC distances
  * are exact Long sums of exact integer subspace distances — so every
  * result is bit-identical across partitionings and runs, which is
  * what lets PqSpec pin the whole pipeline against a driver-side
  * reference. The hot paths (encode, ADC, cell assignment) are native
  * codegen'd kernels ([[graft.plans.PqEncode]] and friends) with HOF
  * twins kept for spec cross-checks — no UDFs, no shuffle in encode,
  * broadcast-only probe. */
object Pq {

  /** Train per-subspace codebooks: split `d` dims into `m`
    * equal-width subspaces, run the exact-integer Lloyd's on all of
    * them JOINTLY — one job per iteration ([[trainJointQuantized]]).
    * Returns codebooks(s)(j) = the j-th codeword (length d/m, 16-bit
    * fixed-point Longs) of subspace s. Production trains on a sample;
    * the full corpus then encodes in one map-only pass. */
  def train(embeddings: DataFrame, m: Int, k: Int, iters: Int,
            vecCol: String = "embedding"): Array[Array[Array[Long]]] =
    trainJointQuantized(
      embeddings.select(col("vec_id"),
        Kmeans.quantize(col(vecCol)).as("qv")),
      m, k, iters)

  /** The pre-joint SEQUENTIAL trainer — m independent [[Kmeans]]
    * trainings over sliced views, m×iters Spark jobs. Kept as the
    * independent twin PqSpec pins [[train]] against (per-subspace
    * Lloyd's is independent, so joint and sequential are bit-identical
    * by construction — the pin makes that checkable, not assumed). */
  private[graft] def trainSequential(embeddings: DataFrame, m: Int, k: Int,
                                     iters: Int, vecCol: String = "embedding"
                                    ): Array[Array[Array[Long]]] = {
    require(m >= 1 && k >= 2 && iters >= 1, s"bad PQ config: m=$m k=$k iters=$iters")
    val d = embeddings.select(size(col(vecCol))).head().getInt(0)
    require(d % m == 0, s"PQ: dim $d must divide into m=$m subspaces")
    val dsub = d / m
    (0 until m).toArray.map { s =>
      Kmeans.train(
        embeddings.select(col("vec_id"),
          slice(col(vecCol), s * dsub + 1, dsub).as("__sub")),
        k, iters, vecCol = "__sub")
    }
  }

  /** JOINT Lloyd's over all m subspaces at once — ONE job per
    * iteration instead of m×iters: assignments for every subspace
    * come from a single [[graft.plans.PqEncode]] pass (per-subspace
    * argmin is independent, so this is bit-identical to the
    * sequential per-subspace trainer — pinned in PqSpec), and the
    * update is one (s, cid, dim)-keyed exact sum whose output is
    * control-plane sized (m×k×dsub = k×d longs). Seeds are the k
    * smallest vec_ids' vectors sliced per subspace — the exact
    * [[Kmeans.trainQuantized]] seeding rule, row-for-row. Input:
    * (vec_id, qv) in the quantized long domain (so [[trainResidual]]
    * can feed residuals directly). */
  private def trainJointQuantized(quantized0: DataFrame, m: Int, k: Int,
                                  iters: Int): Array[Array[Array[Long]]] = {
    require(m >= 1 && k >= 2 && iters >= 1, s"bad PQ config: m=$m k=$k iters=$iters")
    val quantized = quantized0.cache()
    try {
      val head = quantized.orderBy("vec_id").limit(k)
        .collect().map(_.getSeq[Long](1).toArray)
      require(head.length == k,
        s"need at least $k vectors to seed $k codewords, got ${head.length}")
      val d = head.head.length
      require(d % m == 0, s"PQ: dim $d must divide into m=$m subspaces")
      val dsub = d / m
      var cbs = (0 until m).toArray.map(s =>
        head.map(_.slice(s * dsub, s * dsub + dsub)))
      var it = 0
      while (it < iters) {
        val sums = quantized
          .select(col("qv"),
            posexplode(graft.plans.GraftFunctions.pqEncode(col("qv"), cbs))
              .as(Seq("s", "cid")))
          .select(col("s"), col("cid"),
            posexplode(slice(col("qv"), col("s") * dsub + 1, lit(dsub)))
              .as(Seq("dim", "x")))
          .groupBy("s", "cid", "dim")
          .agg(sum(col("x")).as("sm"), count(lit(1)).as("n"))
          .collect()
        // Truncating integer mean; empty cells keep their previous
        // codeword — both exactly the Kmeans.trainQuantized rules.
        val next = cbs.map(_.map(_.clone()))
        sums.foreach { r =>
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
            r.getLong(3) / r.getLong(4)
        }
        cbs = next
        it += 1
      }
      cbs
    } finally { quantized.unpersist(); () }
  }

  /** Train per-subspace codebooks on RESIDUALS x − c(cell) against a
    * trained coarse quantizer — the Jégou et al. IVF-ADC layout: the
    * codebooks only have to cover the within-cell spread, not the
    * whole-space spread, which is where residual PQ's recall edge
    * comes from. Residuals live in the quantized integer domain
    * (difference of two exact longs), so training stays in the long
    * domain (re-quantizing would re-scale) — one joint Lloyd pass per
    * iteration over all m subspaces, like [[train]]. */
  def trainResidual(embeddings: DataFrame, centroids: Array[Array[Long]],
                    m: Int, k: Int, iters: Int,
                    vecCol: String = "embedding"): Array[Array[Array[Long]]] = {
    val qv = Kmeans.quantize(col(vecCol))
    val rq = zip_with(qv,
      element_at(Kmeans.centroidLit(centroids),
        graft.plans.GraftFunctions.nearestCellId(qv, centroids) + lit(1)),
      (x, c) => x - c)
    trainJointQuantized(embeddings.select(col("vec_id"), rq.as("qv")),
      m, k, iters)
  }

  /** Sequential twin of [[trainResidual]] (see [[trainSequential]]). */
  private[graft] def trainResidualSequential(
      embeddings: DataFrame, centroids: Array[Array[Long]],
      m: Int, k: Int, iters: Int,
      vecCol: String = "embedding"): Array[Array[Array[Long]]] = {
    require(m >= 1 && k >= 2 && iters >= 1,
      s"bad PQ config: m=$m k=$k iters=$iters")
    val d = embeddings.select(size(col(vecCol))).head().getInt(0)
    require(d % m == 0, s"PQ: dim $d must divide into m=$m subspaces")
    val dsub = d / m
    val qv = Kmeans.quantize(col(vecCol))
    val rq = zip_with(qv,
      element_at(Kmeans.centroidLit(centroids),
        graft.plans.GraftFunctions.nearestCellId(qv, centroids) + lit(1)),
      (x, c) => x - c)
    val residuals = embeddings.select(col("vec_id"), rq.as("rqv"))
    (0 until m).toArray.map { s =>
      Kmeans.trainQuantized(
        residuals.select(col("vec_id"),
          slice(col("rqv"), s * dsub + 1, dsub).as("qv")),
        k, iters)
    }
  }

  private def cbLit(codebooks: Array[Array[Array[Long]]]): Column =
    typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)

  private def dsubOf(codebooks: Array[Array[Array[Long]]]): Int =
    codebooks.head.head.length

  /** Encode a QUANTIZED vector (16-bit fixed-point Longs — the
    * [[Kmeans.quantize]] domain) to its m codes: per subspace, the
    * exact-integer argmin codeword id with (dist, id) tie-break.
    * Pure per-row expression — the corpus encodes map-only. */
  def encodeExpr(qv: Column, codebooks: Array[Array[Array[Long]]]): Column =
    graft.plans.GraftFunctions.pqEncode(qv, codebooks)

  /** The pre-native HOF encode, kept as the independent twin
    * ExpressionSpec pins [[encodeExpr]] against (the [[Kmeans
    * .cellIdExprHof]] pattern). ~m×k×dsub interpreted lambda element
    * invocations per row — never the hot path. */
  private[graft] def encodeExprHof(qv: Column,
                                   codebooks: Array[Array[Array[Long]]]): Column = {
    val dsub = dsubOf(codebooks)
    transform(cbLit(codebooks), (cb, s) =>
      array_min(transform(cb, (cv, j) =>
        struct(Kmeans.sqDist(slice(qv, s * dsub + lit(1), lit(dsub)), cv)
            .as("dist"),
          j.cast("int").as("cid")))).getField("cid"))
  }

  /** The query's ADC lookup table: luts(s)(j) = exact squared integer
    * distance from the query's subspace s to codeword j. One
    * expression per QUERY row (control-plane-sized output: m×k
    * Longs). */
  def adcLutExpr(qv: Column, codebooks: Array[Array[Array[Long]]]): Column = {
    val dsub = dsubOf(codebooks)
    transform(cbLit(codebooks), (cb, s) =>
      transform(cb, cv =>
        Kmeans.sqDist(slice(qv, s * dsub + lit(1), lit(dsub)), cv)))
  }

  /** ADC distance of a codes row against a query's LUT: m lookups +
    * adds — the hot-path expression the whole design exists for.
    * Native codegen form ([[graft.plans.AdcDistance]]); the HOF twin
    * below is the ExpressionSpec cross-check. */
  def adcDistExpr(codes: Column, lut: Column): Column =
    graft.plans.GraftFunctions.adcDistance(codes, lut)

  /** HOF twin of [[adcDistExpr]] (spec cross-check only). */
  private[graft] def adcDistExprHof(codes: Column, lut: Column): Column =
    aggregate(zip_with(codes, lut, (c, l) => element_at(l, c + 1)),
      lit(0L), (acc, x) => acc + x)

  /** Materialize the PQ index: (vec_id, codes) — m ints per vector,
    * the 32×-smaller scan target — plus the codebook sidecar so
    * probes and appends reconstruct the exact quantizer from the
    * index directory alone (the [[Similarity]] sidecar contract). */
  def writePqIndex(embeddings: DataFrame, path: String,
                   codebooks: Array[Array[Array[Long]]],
                   vecCol: String = "embedding"): Unit = {
    embeddings
      .select(col("vec_id"),
        encodeExpr(Kmeans.quantize(col(vecCol)), codebooks).as("codes"))
      .write.mode("overwrite").parquet(path)
    writeCodebookSidecar(embeddings.sparkSession, path, codebooks)
  }

  /** ADC top-k over a [[writePqIndex]] layout: queries (selected out
    * of `embeddings` by `queryPred`) build their LUTs as expressions,
    * broadcast, and every candidate's distance is m lookups — the
    * codes scan is the only data-sized read. Returns (query_id,
    * cand_id, adc_dist, rk) with (dist asc, cand_id asc) ranking —
    * deterministic, so PqSpec can pin it bit-exactly. */
  def pqTopK(spark: SparkSession, path: String, embeddings: DataFrame,
             queryPred: Column, k: Int = 5,
             vecCol: String = "embedding"): DataFrame = {
    val codebooks = readCodebookSidecar(spark, path).getOrElse(
      throw new IllegalStateException(
        s"pqTopK: no codebook sidecar under $path — not a writePqIndex layout"))
    val queries = broadcast(embeddings.filter(queryPred)
      .select(col("vec_id").as("query_id"),
        adcLutExpr(Kmeans.quantize(col(vecCol)), codebooks).as("lut")))
    rankByAdc(spark.read.parquet(path).join(queries,
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        adcDistExpr(col("codes"), col("lut")).as("adc_dist")), k)
  }

  /** The ONE ADC ranking discipline every probe shares: (adc_dist
    * ASC NULLS LAST, cand_id ASC) under one window. NULLS LAST is
    * load-bearing: [[adcDistExpr]] yields NULL exactly when codes and
    * LUT shapes mismatch (a mixed-quantizer index — corruption), and
    * Spark's plain `asc` sorts NULLS FIRST, which would hand the
    * corrupt rows rank 1..k and push every real candidate out. */
  private def rankByAdc(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc_nulls_last, col("cand_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** The ONE query-side LUT table builder for cell-probed layouts:
    * (query_id, qcell, lut) — residual indexes get a per-(query,
    * probed-cell) LUT from the query's residual against THAT cell's
    * centroid; raw indexes one cell-independent LUT per query. Either
    * way queries × probes rows of m×k longs — broadcast-bounded. */
  private def buildQueryLuts(queries: DataFrame,
                             centroids: Array[Array[Long]],
                             codebooks: Array[Array[Array[Long]]],
                             probes: Int, residual: Boolean,
                             vecCol: String): DataFrame = {
    val qv = Kmeans.quantize(col(vecCol))
    if (residual) {
      queries
        .select(col("vec_id").as("query_id"), qv.as("quv"),
          explode(Kmeans.nearestCellsExpr(qv, centroids, probes))
            .as("qcell"))
        .select(col("query_id"), col("qcell"),
          adcLutExpr(zip_with(col("quv"),
              element_at(Kmeans.centroidLit(centroids),
                col("qcell") + lit(1)),
              (x, c) => x - c), codebooks).as("lut"))
    } else {
      queries.select(col("vec_id").as("query_id"),
        adcLutExpr(qv, codebooks).as("lut"),
        explode(Kmeans.nearestCellsExpr(qv, centroids, probes))
          .as("qcell"))
    }
  }

  /** IVF×PQ — the composed production layout (the actual
    * billion-vector design the two pieces exist for): rows are
    * (vec_id, codes) PARTITIONED BY the trained coarse cell, with
    * BOTH quantizers in sidecars. A probe prunes to its nearest-P
    * cell directories (physical partition pruning) and ADC-scans only
    * those cells' CODES — at 100 TB that is probes/k of a 32×-
    * compressed table, the two multiplicative reductions this module
    * and [[Similarity]] each provide alone. */
  def writeIvfPqIndex(embeddings: DataFrame, path: String,
                      centroids: Array[Array[Long]],
                      codebooks: Array[Array[Array[Long]]],
                      vecCol: String = "embedding",
                      residual: Boolean = false): Unit = {
    require(centroids.nonEmpty &&
      centroids.head.length == codebooks.length * dsubOf(codebooks),
      s"writeIvfPqIndex: centroid dim != m*dsub — quantizer pair mismatch")
    encodeRows(embeddings, centroids, codebooks, residual, vecCol)
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    writeCodebookSidecar(embeddings.sparkSession, path, codebooks)
    writeCellSidecar(embeddings.sparkSession, path, centroids, residual)
  }

  /** The ONE encode used by every IVF×PQ writer (build, append,
    * snapshot append): (vec_id, codes, cell) from the recorded
    * quantizer pair. Residual → the fused
    * [[graft.plans.IvfPqResidualEncode]]; `codebooks` MUST then come
    * from [[trainResidual]] against the SAME centroids — the sidecar
    * records the pairing so probes can't mix schemes. */
  private def encodeRows(df: DataFrame, centroids: Array[Array[Long]],
                         codebooks: Array[Array[Array[Long]]],
                         residual: Boolean, vecCol: String): DataFrame = {
    val qv = Kmeans.quantize(col(vecCol))
    if (residual) {
      val enc = graft.plans.GraftFunctions
        .ivfPqResidualEncode(qv, centroids, codebooks).as("enc")
      df.select(col("vec_id"), enc)
        .select(col("vec_id"), col("enc.codes").as("codes"),
          col("enc.cell").as("cell"))
    } else {
      df.select(col("vec_id"),
        encodeExpr(qv, codebooks).as("codes"),
        Kmeans.cellIdExpr(qv, centroids).as("cell"))
    }
  }

  /** INCREMENTAL IVF×PQ maintenance (the [[Similarity.appendIvf]]
    * precedent): encode ONLY the delta with the index's own recorded
    * quantizers — coarse cells, codebooks AND the encoding scheme all
    * come from the sidecars, so an append can never mix raw codes
    * into a residual index — and dynamic-partition append it: exactly
    * the delta's cells gain files, untouched `cell=` directories are
    * never listed or rewritten, and the next [[ivfPqTopK]] sees
    * old + new codes under the same pruning. At-least-once like
    * appendIvf; the exactly-once path is the SnapshotTable ledger. */
  def appendIvfPq(delta: DataFrame, path: String,
                  vecCol: String = "embedding"): Unit = {
    val spark = delta.sparkSession
    val codebooks = readCodebookSidecar(spark, path).getOrElse(
      throw new IllegalStateException(
        s"appendIvfPq: no codebook sidecar under $path"))
    val (centroids, residual) = readCellMeta(spark, path, "appendIvfPq")
    encodeRows(delta, centroids, codebooks, residual, vecCol)
      .write.mode("append").partitionBy("cell").parquet(path)
  }

  /** The IVF×PQ codes index AS a [[graft.sources.SnapshotTable]] —
    * the [[Similarity.initIvfSnapshot]] discipline for the compressed
    * layout: cells are hidden partitions (per-file min==max stats
    * resolve a probed cell to exactly its owning files, no listing),
    * vec_id carries stats+Bloom refs, and appends ride the per-appId
    * transaction ledger so streaming ingest is EXACTLY-ONCE
    * ([[graft.streaming.AnnIngest.startExactlyOncePq]]). Both
    * quantizers + the encoding scheme live in the sidecars from init
    * time — a wrong-quantizer append is structurally impossible. */
  def initIvfPqSnapshot(spark: SparkSession, dir: String,
                        centroids: Array[Array[Long]],
                        codebooks: Array[Array[Array[Long]]],
                        residual: Boolean = false): Unit = {
    require(centroids.nonEmpty &&
      centroids.forall(_.length == centroids.head.length),
      "initIvfPqSnapshot: centroids must be a non-empty rectangular matrix")
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "initIvfPqSnapshot: codebooks must be non-empty")
    // The quantizer pair must agree on the vector dimension — a
    // mismatch would only surface later as per-row encode failures.
    require(centroids.head.length == codebooks.length * dsubOf(codebooks),
      s"initIvfPqSnapshot: centroid dim ${centroids.head.length} != " +
        s"m*dsub = ${codebooks.length * dsubOf(codebooks)}")
    // Re-keying a populated table would make every committed row's
    // codes decode against the wrong quantizer — refuse, don't
    // silently overwrite the sidecars.
    if (graft.sources.SnapshotTable.latestVersion(spark, dir).nonEmpty)
      throw new IllegalStateException(
        s"initIvfPqSnapshot: $dir already holds committed codes — " +
          "re-keying an index requires a rebuild into a fresh directory")
    writeCodebookSidecar(spark, dir, codebooks)
    writeCellSidecar(spark, dir, centroids, residual)
  }

  /** EXACTLY-ONCE delta append into an [[initIvfPqSnapshot]] table:
    * encode the delta with the sidecars' recorded quantizers,
    * transactionally append partitioned by cell. A replayed
    * (appId, txnVersion) returns None and changes nothing. */
  def appendIvfPqSnapshot(delta: DataFrame, dir: String,
                          appId: String, txnVersion: Long,
                          vecCol: String = "embedding"): Option[Long] = {
    val spark = delta.sparkSession
    val codebooks = readCodebookSidecar(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"appendIvfPqSnapshot: no codebook sidecar under $dir — init " +
          "with initIvfPqSnapshot first"))
    val (centroids, residual) = readCellMeta(spark, dir,
      "appendIvfPqSnapshot")
    graft.sources.SnapshotTable.transactionalAppendPartitioned(
      encodeRows(delta, centroids, codebooks, residual, vecCol),
      dir, partitionBy = Seq("cell"), appId, txnVersion,
      statsCols = Seq("vec_id"), bloomCols = Seq("vec_id"))
  }

  /** Multi-probe ADC top-k over an [[initIvfPqSnapshot]] table.
    * `queries` supplies RAW query vectors (vec_id, embedding) — the
    * codes table cannot reconstruct vectors, so the query source is
    * external by contract (typically the raw corpus SnapshotTable,
    * id-resolved through ITS vec_id Bloom). Probed cells resolve to
    * files via per-file min==max stats; snapshot isolation comes free
    * from the manifest read. Same scoring/tie-break as [[ivfPqTopK]];
    * probing every cell equals the plain index probe exactly. */
  def ivfPqTopKSnapshot(spark: SparkSession, dir: String,
                        queries: DataFrame, k: Int = 5, probes: Int = 1,
                        vecCol: String = "embedding"): DataFrame = {
    val codebooks = readCodebookSidecar(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"ivfPqTopKSnapshot: no codebook sidecar under $dir"))
    val (centroids, residual) = readCellMeta(spark, dir, "ivfPqTopKSnapshot")
    // Pin ONE committed version across the whole probe: the cell
    // reads below must all see the same manifest — resolving
    // latestVersion per readWhereEq would let a concurrent append
    // commit mid-probe and tear the snapshot.
    val v = graft.sources.SnapshotTable.latestVersion(spark, dir)
    val qdf = buildQueryLuts(
      queries.select(col("vec_id"), col(vecCol).as("embedding")),
      centroids, codebooks, probes, residual, "embedding")
    val probeCells = qdf.select("qcell").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val base = probeCells
      .map(c => graft.sources.SnapshotTable.readWhereEq(
        spark, dir, "cell", c, version = v))
      .reduceOption(_ unionByName _)
      .getOrElse(graft.sources.SnapshotTable.read(spark, dir, version = v)
        .filter(lit(false)))
    rankByAdc(base.join(broadcast(qdf),
        col("cell") === col("qcell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        adcDistExpr(col("codes"), col("lut")).as("adc_dist")), k)
  }

  /** Multi-probe ADC top-k over a [[writeIvfPqIndex]] layout: each
    * query ranks the coarse centroids (sidecar), scans its `probes`
    * nearest cells under dynamic partition pruning, and ranks
    * candidates by ADC distance — same (dist, cand_id) tie-break as
    * [[pqTopK]]. Probing every cell degrades exactly to [[pqTopK]]
    * over the whole codes table (the exactness anchor PqSpec pins).
    * Dispatches on the sidecar's recorded encoding: a residual index
    * gets per-(query, probed-cell) residual LUTs — same scan shape,
    * the LUT table is queries × probes rows of m×k longs, still
    * broadcast-bounded. */
  def ivfPqTopK(spark: SparkSession, path: String, embeddings: DataFrame,
                queryPred: Column, k: Int = 5, probes: Int = 1,
                vecCol: String = "embedding"): DataFrame = {
    val codebooks = readCodebookSidecar(spark, path).getOrElse(
      throw new IllegalStateException(
        s"ivfPqTopK: no codebook sidecar under $path"))
    val (centroids, residual) = readCellMeta(spark, path, "ivfPqTopK")
    val queries = broadcast(buildQueryLuts(
      embeddings.filter(queryPred).select(col("vec_id"),
        col(vecCol).as("embedding")),
      centroids, codebooks, probes, residual, "embedding"))
    rankByAdc(spark.read.parquet(path).join(queries,
        col("cell") === col("qcell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        adcDistExpr(col("codes"), col("lut")).as("adc_dist")), k)
  }

  /** Two-stage retrieval — the standard production search stack over
    * an IVF×PQ index: the ADC scan shortlists `shortlist` candidates
    * per query from the probed cells' CODES (never touching a float
    * vector), then ONLY the shortlist joins back to raw vectors for
    * an exact cosine re-rank under [[Similarity.scoredTopK]]'s
    * rounding/tie-break discipline — so results are comparable
    * row-for-row with every other search variant. At 100 TB the
    * re-rank fetch is queries×shortlist rows against the raw table
    * (broadcast-semi-join in one map-only pass here; a SnapshotTable
    * with a vec_id Bloom turns it into point lookups). EXACTNESS
    * ANCHOR (the oracle-closing degenerate case): probing every cell
    * with an unbounded shortlist makes stage 1 a full pass-through,
    * so the output must equal [[Similarity.bruteTopK]] exactly —
    * independent of quantizer quality. */
  def ivfPqTopKRerank(spark: SparkSession, path: String,
                      embeddings: DataFrame, queryPred: Column,
                      k: Int = 5, probes: Int = 1, shortlist: Int = 50,
                      vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val adc = ivfPqTopK(spark, path, embeddings, queryPred,
      k = shortlist, probes = probes, vecCol = vecCol)
    val sl = broadcast(adc.select(col("query_id").as("sl_qid"),
      col("cand_id").as("sl_cid")))
    val base = Similarity.prep(
      embeddings.select(col("vec_id"), col(vecCol).as("embedding")))
    val cands = base.join(sl, col("vec_id") === col("sl_cid"))
      .select(col("sl_qid"), col("vec_id"), col("v"), col("nrm"))
    val queries = broadcast(base.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn")))
    Similarity.scoredTopK(cands, queries,
      col("sl_qid") === col("query_id"), k)
  }

  private val MetaFile = "_graft_pq.json"
  private val CellMetaFile = "_graft_ivfpq_cells.json"

  private def writeCellSidecar(spark: SparkSession, path: String,
                               centroids: Array[Array[Long]],
                               residual: Boolean): Unit = {
    val flat = centroids.map(_.mkString(",")).mkString(";")
    val enc = if (residual) "residual" else "raw"
    val body = s"""{"quantizer":"kmeans","k":${centroids.length},""" +
      s""""dim":${centroids.head.length},"scale":65536,""" +
      s""""encoding":"$enc","centroids":"$flat"}"""
    TableStore(spark, path).overwrite(new Path(path, CellMetaFile), body)
  }

  /** The index's recorded coarse cells, if the sidecar exists. */
  def readCellSidecar(spark: SparkSession, path: String
                     ): Option[Array[Array[Long]]] = {
    val cells = new Path(path, CellMetaFile)
    TableStore(spark, path).readText(cells).flatMap { txt =>
      "\"centroids\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(txt).map { m =>
        m.group(1).split(';').map(_.split(',').map(_.toLong))
      }
    }
  }

  /** Centroids + residual flag in ONE sidecar read — the internal
    * accessor every probe/append uses ([[readCellSidecar]] +
    * [[readCellResidualFlag]] separately would re-open and re-parse
    * the same file: two object-store round trips per call). */
  private def readCellMeta(spark: SparkSession, path: String,
                           caller: String): (Array[Array[Long]], Boolean) = {
    val cells = new Path(path, CellMetaFile)
    val txt = TableStore(spark, path).readText(cells).getOrElse(
      throw new IllegalStateException(
        s"$caller: no $CellMetaFile under $path — not a writeIvfPqIndex " +
          "layout"))
    val cents = "\"centroids\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(txt)
      .map(m => m.group(1).split(';').map(_.split(',').map(_.toLong)))
      .getOrElse(throw new IllegalStateException(
        s"$caller: malformed $CellMetaFile under $path"))
    (cents, txt.contains("\"encoding\":\"residual\""))
  }

  /** Whether the index's codes encode residuals (x − c(cell)) rather
    * than raw vectors. Pre-residual sidecars lack the field → raw,
    * so old indexes keep probing exactly as built. */
  def readCellResidualFlag(spark: SparkSession, path: String): Boolean = {
    TableStore(spark, path).readText(new Path(path, CellMetaFile))
      .exists(_.contains("\"encoding\":\"residual\""))
  }

  private def writeCodebookSidecar(spark: SparkSession, path: String,
                                   codebooks: Array[Array[Array[Long]]]): Unit = {
    // Flat text matrix (subspaces by '|', codewords by ';', dims by
    // ','): trivial no-dependency parse, the Similarity sidecar
    // discipline.
    val flat = codebooks.map(_.map(_.mkString(",")).mkString(";"))
      .mkString("|")
    val body = s"""{"quantizer":"pq","m":${codebooks.length},""" +
      s""""k":${codebooks.head.length},"dsub":${dsubOf(codebooks)},""" +
      s""""scale":65536,"codebooks":"$flat"}"""
    TableStore(spark, path).overwrite(new Path(path, MetaFile), body)
  }

  /** The index's recorded codebooks, if the sidecar exists. */
  def readCodebookSidecar(spark: SparkSession, path: String
                         ): Option[Array[Array[Array[Long]]]] = {
    TableStore(spark, path).readText(new Path(path, MetaFile)).flatMap { txt =>
      "\"codebooks\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(txt).map { m =>
        m.group(1).split('|').map(_.split(';').map(_.split(',').map(_.toLong)))
      }
    }
  }
}
