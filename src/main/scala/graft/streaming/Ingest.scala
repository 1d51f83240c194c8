package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.catalog.{Catalog, FolderMeta}
import graft.extract.Extractor
import graft.functions.Clean
import graft.sources.{SnapshotTable, TableStore}

/** The streaming rebuild of the reference's ingest engine (`POST /`,
  * reference main.py:656-759): file lands → admission filter → path
  * route → extraction → typed casts → schema-evolving append →
  * archive.
  *
  * The reference processes one file per HTTP request with no retry and
  * a duplicate window between insert and archive (main.py:744-752).
  * Here the same dataflow is a Structured Streaming query:
  *
  *  - the GCS object-finalize push becomes the file source's pull
  *    (micro-batch listing, checkpointed);
  *  - exactly-once comes from checkpoint + idempotent per-batch
  *    writes: each micro-batch lands in a `_batch_id=<id>` partition
  *    written with dynamic partition overwrite, so a retried batch
  *    overwrites itself instead of duplicating (an improvement over
  *    the reference, documented in SURVEY.md §7.4);
  *  - the archive move (O17) is bookkeeping only — dedup no longer
  *    depends on it.
  *
  * Ingest is embarrassingly parallel per file: no shuffle anywhere in
  * the plan, so at 100 TB this scales linearly with executors; the
  * only driver-side state is the O(#folders) catalog.
  *
  * Each wave reuses the previous wave's generated code. Spark caches a
  * compiled class under (thread context classloader, source text), so
  * two things keep a wave's classes cached:
  *
  *  - every micro-batch is re-anchored on the caller's `spark` session
  *    before any job runs. Each `start` clones a fresh stream session,
  *    and with artifact isolation the executors give every session its
  *    own classloader, so jobs run under the stream's session would
  *    miss the cache on every wave;
  *  - no per-batch value enters the plan as a literal. A literal is
  *    inlined into the generated source, so `uploaded_at` (one driver
  *    timestamp per batch) and `_batch_id` ride the rows as data, and
  *    the archive filters its (uid, folder) set in the task, not in
  *    the plan. The plan text is then the same wave after wave, and
  *    only a re-train that changes a folder's KPIs compiles new code.
  */
object Ingest {

  /** Admission filter + path route (O2+O3, main.py:660-672), on the
    * absolute source path. Positions are taken from the end so the
    * landing dir's own depth doesn't matter:
    * .../incoming/{uid}/{folder}/batch/{file}. */
  def admit(df: DataFrame): DataFrame = {
    val parts = split(col("path"), "/")
    df.filter(!col("path").contains("processed/")
        && lower(col("path")).endsWith(".pdf")
        && !col("path").endsWith(".placeholder")
        && size(parts) >= 5
        && element_at(parts, -5) === "incoming"
        && element_at(parts, -2) === "batch")
      .withColumn("uid", element_at(parts, -4))
      .withColumn("folder", element_at(parts, -3))
      .withColumn("file_name", element_at(parts, -1))
  }

  /** Content normalization before extraction — the reference flow is
    * PDF → model (main.py:694-713 ships the PDF bytes); ours is
    * PDF → TEXT → extractor, with the real
    * [[graft.operators.PdfCodec]] doing the text layer: payloads that
    * are PDFs in the codec's profile extract to their shown text
    * (UTF-8 bytes); out-of-profile PDFs and every non-PDF payload
    * pass through untouched, so the deterministic/RPC extractors see
    * exactly what they did before for all existing fixtures. */
  private[streaming] def pdfTextNormalized(content: Array[Byte]): Array[Byte] =
    if (content.length >= 5 && content(0) == '%' && content(1) == 'P' &&
        content(2) == 'D' && content(3) == 'F' && content(4) == '-')
      graft.operators.PdfCodec.extractText(content)
        .map(_.mkString("\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .getOrElse(content)
    else content

  /** Typed value cast for one KPI (O11/O12/O13 dispatch, the
    * reference's convert_value_for_bq, main.py:219-250) as two steps:
    * a normalize step over the raw value, and a parse step over the
    * normalized column. */
  private def castKpi(logicalType: String): (Column => Column, Column => Column) =
    logicalType match {
      case "number" => (Clean.normalizeNumber, Clean.parseNormalizedNumber)
      case "date"   => (Clean.normalizeDate, Clean.parseNormalizedDate)
      case _        => (identity, Clean.nullNormalize)
    }

  /** Project one folder's admitted+extracted rows to its typed schema
    * (O15 row construction, main.py:726-741 — row_id is content-derived
    * sha2(path) instead of the reference's wall-clock epoch for
    * determinism). `uploaded_at` and `_batch_id` are the batch's own
    * values, which [[withKpis]] carries on every row. Each KPI is
    * normalized once in a first projection; its parse chain, which
    * refers to the normalized value many times, reads that column (the
    * optimizer keeps the two projections apart rather than repeat the
    * normalization in every reference). */
  private def project(extracted: DataFrame, meta: FolderMeta): DataFrame = {
    val steps = meta.kpis.map(k => castKpi(k.logicalType))
    val normalized = meta.kpis.indices.map(i => s"__kpi$i")
    def frame(kpiCols: Seq[Column]) =
      Seq(col("row_id"), col("file_name"), col("uploaded_at")) ++ kpiCols :+
        col("_batch_id")
    extracted.withColumn("row_id", sha2(col("path"), 256))
      .select(frame(meta.kpis.zip(steps).zip(normalized).map {
        case ((k, (normalize, _)), n) =>
          normalize(element_at(col("kpis"), k.name)).as(n)
      }): _*)
      .select(frame(meta.kpis.zip(steps).zip(normalized).map {
        case ((k, (_, parse)), n) => parse(col(n)).as(k.columnName)
      }): _*)
  }

  /** Start the ingest stream over `landingDir`. Files are appended to
    * `warehouseDir/<table>` and then moved under `processedDir`
    * keeping their incoming/... suffix. */
  def start(spark: SparkSession,
            landingDir: String,
            warehouseDir: String,
            processedDir: String,
            checkpointDir: String,
            catalog: Catalog,
            extractor: Extractor,
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Option[Int] = None,
            maxConcurrentFolderWrites: Int = 4): StreamingQuery = {

    // Extraction goes through the extractor's BATCH hook: each
    // partition's rows are grouped into extractor.batchSize chunks and
    // handed down in one call — per-doc extractors loop internally,
    // RPC-backed ones ([[graft.extract.BatchedRpcExtractor]]) make one
    // remote call per chunk with retry/backoff. A failing extraction
    // must not kill the micro-batch (the reference logs-and-continues,
    // main.py:757-759): failures degrade to the all-"N/A" map, which
    // the sentinel normalization turns into a row of NULL KPIs — the
    // file is still recorded and archived.
    // The batch's `uploaded_at` and `_batch_id` ride each row as data,
    // never as plan literals (see the object's doc).
    def withKpis(subset: DataFrame, keys: Seq[String],
                 uploadedAt: java.time.Instant, batchId: Long): DataFrame = {
      import org.apache.spark.sql.types._
      val schema = subset.schema
        .add("kpis", MapType(StringType, StringType))
        .add("uploaded_at", TimestampType, nullable = false)
        .add("_batch_id", LongType, nullable = false)
      val nameIdx = subset.schema.fieldIndex("file_name")
      val contentIdx = subset.schema.fieldIndex("content")
      val chunk = extractor.batchSize
      subset.mapPartitions { it =>
        it.grouped(chunk).flatMap { rows =>
          val docs = rows.map(r =>
            (r.getString(nameIdx),
              pdfTextNormalized(r.getAs[Array[Byte]](contentIdx))))
          val maps = extractor.extractAll(docs, keys)
          // Defend the row count against a misbehaving extractAll
          // override: a short result must degrade the TAIL rows to
          // "N/A" maps, never drop them — dropped rows would still be
          // archived below, which is unrecoverable loss.
          rows.zipWithIndex.map { case (r, i) =>
            val m = if (i < maps.size) maps(i) else keys.map(_ -> "N/A").toMap
            org.apache.spark.sql.Row.fromSeq(r.toSeq :+ m :+ uploadedAt :+ batchId)
          }
        }
        // Lenient: the Instant encodes whatever the session's
        // java8API setting makes the external timestamp type.
      }(org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(schema, lenient = true))
    }

    // The binaryFile source's schema is fixed but streaming sources
    // don't infer — declare it.
    val binarySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
    // maxFilesPerTrigger bounds a micro-batch when a backlog of
    // millions of files lands at once (restart after downtime) — each
    // batch stays memory-bounded instead of listing the world.
    // ignoreMissingFiles rides THIS relation (the scan reads it per
    // relation), never the session: a replayed batch may list landing
    // files the crashed attempt already archived (see foreachBatch).
    val reader = spark.readStream
      .format("binaryFile")
      .schema(binarySchema)
      .option("recursiveFileLookup", "true")
      .option("ignoreMissingFiles", "true")
    val source = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .load(landingDir)

    admit(source).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (streamBatch: DataFrame, batchId: Long) =>
        // Re-anchor: every job below runs on the caller's session, not
        // the stream's clone, so each wave's tasks share one artifact
        // classloader and hit the codegen cache (see the object's doc).
        val batch = org.apache.spark.sql.GraftSqlBridge.dataFrameOfInternalRows(
          spark, streamBatch.queryExecution.toRdd, streamBatch.schema)
        val uploadedAt =
          java.time.Instant.now().truncatedTo(java.time.temporal.ChronoUnit.MICROS)
        // Crash-replay tolerance: archive() moves landing files before
        // the checkpoint commits this batch, so a replayed batch can
        // list files that no longer exist in landing. Two guards make
        // replay idempotent (write-before-archive ordering guarantees a
        // file is only ever missing if its row was durably written):
        //  1. the landing reader's ignoreMissingFiles option skips the
        //     moved files — in this stream's scan only, the session
        //     and every other query on it keep their own setting;
        //  2. the per-folder write MERGES the previously written
        //     _batch_id partition (left-anti on row_id) into the
        //     dynamic overwrite, so rows whose source file the crashed
        //     attempt already archived survive the rewrite.
        // Persist: every per-folder write re-evaluates the batch, and
        // the archive move below deletes source files — an unpersisted
        // batch would re-read moved files when one micro-batch spans
        // several folders.
        batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // Distinct (uid, folder) pairs in one job, each with the
          // number of batch partitions holding its rows: each partition
          // dedups its own rows, the driver counts the sets — no
          // shuffle.
          val present: Map[(String, String), Int] =
            SnapshotTable.labeled(spark, "ingest.discover") {
              batch.select("uid", "folder")
                .mapPartitions(_.map(r => (r.getString(0), r.getString(1))).toSet.iterator)(
                  Encoders.tuple(Encoders.STRING, Encoders.STRING))
                .collect().groupMapReduce(identity)(_ => 1)(_ + _)
            }
          // A folder's write runs as many tasks as partitions hold its
          // rows, not one (mostly empty) task per batch partition.
          def ingestFolder(u: String, f: String): Boolean =
            catalog.get(u, f).exists { meta =>
              val keys = meta.kpis.map(_.name)
              val subset = withKpis(
                batch.filter(col("uid") === u && col("folder") === f)
                  .coalesce(present((u, f))), keys, uploadedAt, batchId)
              val fresh = project(subset, meta)
              val tablePath = s"$warehouseDir/${meta.tableName}"
              // Rows written by a crashed attempt for files that are no
              // longer in landing: carry them through the overwrite.
              // Reading only the _batch_id=<id> subdir keeps this a
              // partition-pruned read — O(batch), not O(table).
              // localCheckpoint(eager) CUTS LINEAGE, not just caches:
              // the dynamic overwrite below deletes the very parquet
              // files this plan reads, so a cache-loss recompute after
              // the commit (persist+count's failure mode) would fail —
              // or, in a session that ignores missing files, silently
              // resolve to zero rows.
              // Checkpointed blocks have no parent to recompute from.
              // One listing decides whether there is anything to carry:
              // only a replayed batch finds a parquet file there.
              val part = s"$tablePath/_batch_id=$batchId"
              val carried =
                if (!TableStore(spark, tablePath).list(new Path(part))
                    .exists(st => st.isFile &&
                      st.getPath.getName.endsWith(".parquet"))) None
                else Some(spark.read.option("basePath", tablePath)
                  .parquet(part)
                  .withColumn("_batch_id", lit(batchId))
                  .join(fresh.select("row_id"), Seq("row_id"), "left_anti")
                  .localCheckpoint(eager = true))
              val merged = carried.fold(fresh)(c =>
                fresh.unionByName(c, allowMissingColumns = true))
              merged.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(tablePath)
              carried.foreach(_.unpersist())
              true
            }
          // Per-folder writes are independent Spark jobs; running them
          // from one driver thread serializes #folders job latencies
          // (each job is small — the cluster idles between them). A
          // bounded pool overlaps them; a failure in any folder fails
          // the batch (Future.get rethrows) so the checkpoint doesn't
          // commit a partial batch — replay semantics unchanged.
          // Parallelism is per TABLE PATH, not per (uid, folder):
          // identifier sanitization can collide two distinct folders
          // onto one table (a.b and a_b both → a_b — the reference
          // shares one BigQuery table the same way), and those two
          // writes must not race on the same directory — they run
          // sequentially inside their group.
          val byTable: Seq[Seq[(String, String)]] = present.keys.toSeq
            .groupBy { uf: (String, String) =>
              catalog.get(uf._1, uf._2).map(_.tableName)
                .getOrElse(uf._1 + " " + uf._2) }
            .values.toSeq
          // Labelled here, in the thread that runs the group: a job's
          // description is a per-thread local property.
          def ingestGroup(group: Seq[(String, String)]): Seq[(String, String)] =
            SnapshotTable.labeled(spark, "ingest.write") {
              group.filter { case (u, f) => ingestFolder(u, f) }
            }
          val ingested: Seq[(String, String)] =
            if (byTable.length <= 1) byTable.flatMap(ingestGroup)
            else {
              val pool = java.util.concurrent.Executors.newFixedThreadPool(
                math.min(maxConcurrentFolderWrites, byTable.length))
              try {
                // Each task returns Try so get() never throws early:
                // ALL groups must finish (success or failure) before a
                // failure propagates — rethrowing while other groups'
                // writes are mid-flight would let zombie writes race
                // the failed batch's replay on the same table paths.
                val outcomes = byTable.map { group =>
                  pool.submit(new java.util.concurrent.Callable[scala.util.Try[Seq[(String, String)]]] {
                    override def call(): scala.util.Try[Seq[(String, String)]] =
                      scala.util.Try(ingestGroup(group))
                  })
                }.map(_.get())
                outcomes.collectFirst { case scala.util.Failure(e) => e }
                  .foreach(e => throw e)
                outcomes.flatMap(_.get)
              } finally { pool.shutdown() }
            }
          // Archive ONLY after every folder's rows are durably written
          // (O17's crash window closed by ordering + checkpoint).
          if (ingested.nonEmpty)
            SnapshotTable.labeled(spark, "ingest.archive") {
              archive(spark, batch, ingested.toSet, processedDir)
            }
        } finally batch.unpersist()
      }
      .start()
  }

  /** O17 archive move (main.py:750-752): relocate the batch's files of
    * the `ingested` (uid, folder) pairs under processedDir, preserving
    * the incoming/... suffix. Bookkeeping only — exactly-once is the
    * checkpoint's job.
    *
    * The renames run DISTRIBUTED, in one foreachPartition over the
    * batch: the driver never collects the file list, so a landing zone
    * with millions of small files archives at executor parallelism
    * instead of serializing one rename at a time on the driver. The
    * pair set is checked in the task, not filtered in the plan, so the
    * plan carries no per-batch literal. Renames are independent per
    * file, so task retries and speculative duplicates are safe — the
    * exists() guard makes the move idempotent. */
  private def archive(spark: SparkSession, batch: DataFrame,
                      ingested: Set[(String, String)], processedDir: String): Unit = {
    val bcConf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    try batch.select("uid", "folder", "path")
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val conf = bcConf.value.value
        rows.filter(r => ingested((r.getString(0), r.getString(1)))).foreach { r =>
          val p = r.getString(2)
          val src = new Path(p)
          val fs = src.getFileSystem(conf)
          val suffix = p.substring(p.lastIndexOf("incoming/"))
          val dst = new Path(s"$processedDir/$suffix")
          // A replayed batch may list files a crashed attempt already
          // moved — skip them instead of failing the move.
          if (fs.exists(src)) {
            fs.mkdirs(dst.getParent)
            fs.rename(src, dst)
          }
        }
      }
    finally bcConf.destroy()
  }

  /** Read back a folder's table with evolved schema, dropping
    * bookkeeping columns (the `_batch_id` idempotence partition). */
  def readTable(spark: SparkSession, warehouseDir: String,
                meta: FolderMeta): DataFrame =
    Catalog.readTable(spark, warehouseDir, meta).drop("_batch_id")
}
