package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset,
  SerializedOffset}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider,
  DataSourceRegister, PrunedFilteredScan, RelationProvider,
  StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.{sources => sf}

/** `format("graft")` — the [[SnapshotTable]] format as a registered
  * Spark data source, all four directions:
  *
  *   - `spark.read.format("graft").load(dir)` — batch read of the
  *     latest (or `option("versionAsOf", v)`) snapshot through the
  *     manifest-pruned parquet relation ([[SnapshotSql]]'s
  *     [[SnapshotFileIndex]]: min/max + Bloom file skipping BEFORE
  *     Spark lists a file, then Spark's native vectorized parquet
  *     scan).
  *   - `df.write.format("graft").mode(...).save(dir)` — Append maps
  *     to [[SnapshotTable.append]], Overwrite to the atomic
  *     [[SnapshotTable.overwrite]] REPLACE commit;
  *     `option("statsCols"/"bloomCols", "a,b")` records skipping
  *     metadata.
  *   - `spark.readStream.format("graft").load(dir)` — the table as a
  *     STREAMING SOURCE: offsets are manifest versions, the first
  *     batch is the full pinned snapshot (or
  *     `option("startingVersion", v)` to begin at a commit), each
  *     subsequent micro-batch is exactly the files the commits in
  *     `(lastOffset, latest]` appended. Append-shaped commits only:
  *     a commit that REMOVED files (delete/update/merge/compact) is
  *     a contract violation that fails loudly unless
  *     `option("ignoreChanges", "true")` accepts re-emitted rewrites
  *     — the public Delta streaming-source surface.
  *   - `df.writeStream.format("graft").option("appId", id)` — the
  *     table as an EXACTLY-ONCE streaming sink:
  *     [[SnapshotTable.transactionalAppend]] with `txnVersion =
  *     batchId`, so checkpoint-recovery replays are manifest no-ops.
  *
  * V1 provider interfaces on purpose (the public Delta-connector
  * layering): a [[HadoopFsRelation]] IS a `BaseRelation`, which
  * routes the batch path through Spark's battle-tested parquet scan
  * with our file listing underneath it — re-implementing a parquet
  * reader behind the DSv2 `PartitionReaderFactory` would discard
  * vectorization and codegen for no semantic gain. */
final class GraftDataSource extends RelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {
  import GraftDataSource._

  override def shortName(): String = "graft"

  // ---- batch read ---------------------------------------------------
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]
                             ): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = pathOf(parameters)
    require(!(parameters.contains("versionAsOf") &&
      parameters.contains("timestampAsOf")),
      "graft: versionAsOf and timestampAsOf are mutually exclusive")
    // timestampAsOf: epoch millis, or any literal
    // java.sql.Timestamp.valueOf accepts (yyyy-[m]m-[d]d hh:mm:ss[.f]),
    // resolved against the monotonicity-adjusted commit timeline.
    val version = parameters.get("versionAsOf").map(_.toLong)
      .orElse(parameters.get("timestampAsOf").map { t =>
        val millis = scala.util.Try(t.toLong).getOrElse(
          java.sql.Timestamp.valueOf(t).getTime)
        SnapshotTable.versionAtTimestamp(spark, dir, millis)
      })
    val (rel, schema, v) = SnapshotSql.relation(spark, dir, version)
    // A DV'd snapshot cannot be served as a bare file relation (the
    // scan would resurrect masked rows), and neither can a
    // column-mapped one (the bare relation's schema is the PHYSICAL
    // scan schema); both route through a scan relation that runs the
    // fully-resolved frame — same manifest-pruned parquet scan
    // underneath, plus the deletion-vector mask / logical rename.
    val snap = SnapshotTable.snapshot(spark, dir, v)
    if (snap.dvRefs.isEmpty && snap.colMap.isEmpty && snap.defaults.isEmpty)
      rel
    else new DvMaskedRelation(spark, dir, v, schema)
  }

  // ---- batch write --------------------------------------------------
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = pathOf(parameters)
    val stats = csvOpt(parameters, "statsCols")
    val blooms = csvOpt(parameters, "bloomCols")
    val exists = SnapshotTable.latestVersion(spark, dir).isDefined
    mode match {
      case SaveMode.Append =>
        SnapshotTable.append(data, dir, stats, blooms)
      case SaveMode.Overwrite =>
        SnapshotTable.overwrite(data, dir, stats, blooms)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"graft: table already exists under $dir (mode ErrorIfExists)")
        SnapshotTable.append(data, dir, stats, blooms)
      case SaveMode.Ignore =>
        if (!exists) SnapshotTable.append(data, dir, stats, blooms)
    }
    createRelation(sqlContext, parameters)
  }

  // ---- streaming source --------------------------------------------
  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]
                           ): (String, StructType) = {
    val dir = pathOf(parameters)
    val base = schema.getOrElse(tableSchema(sqlContext.sparkSession, dir))
    (s"graft[$dir]",
      if (cdfMode(parameters)) GraftCdfStreamSource.cdfSchema(base) else base)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val dir = pathOf(parameters)
    require(!(parameters.contains("startingVersion") &&
      parameters.contains("startingTimestamp")),
      "graft: startingVersion and startingTimestamp are mutually exclusive")
    // startingTimestamp resolves through the same adjusted commit
    // timeline as timestampAsOf (epoch millis or a timestamp literal)
    // but with START semantics — the EARLIEST version at or after the
    // instant (AS-OF's latest-at-or-before would replay a commit made
    // BEFORE the requested start). Before the first commit → start at
    // v0; after the head → only future commits.
    val startingVersion = parameters.get("startingVersion").map(_.toLong)
      .orElse(parameters.get("startingTimestamp").map { t =>
        val millis = scala.util.Try(t.toLong).getOrElse(
          java.sql.Timestamp.valueOf(t).getTime)
        val tl = SnapshotTable.commitTimeline(spark, dir)
        tl.find(_._2 >= millis).map(_._1).getOrElse(tl.last._1 + 1)
      })
    if (cdfMode(parameters))
      new GraftCdfStreamSource(spark, dir,
        GraftCdfStreamSource.cdfSchema(
          schema.map(GraftCdfStreamSource.stripCdfColumns)
            .getOrElse(tableSchema(spark, dir))), startingVersion,
        maxFiles = parameters.get("maxFilesPerTrigger").map(_.toInt),
        maxBytes = parameters.get("maxBytesPerTrigger").map(_.toLong),
        metadataPath = metadataPath)
    else new GraftStreamSource(spark, dir,
      schema.getOrElse(tableSchema(spark, dir)),
      startingVersion = startingVersion,
      ignoreChanges = parameters.get("ignoreChanges").exists(_.toBoolean),
      maxFiles = parameters.get("maxFilesPerTrigger").map(_.toInt),
      maxBytes = parameters.get("maxBytesPerTrigger").map(_.toLong),
      metadataPath = metadataPath)
  }

  // ---- streaming sink -----------------------------------------------
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft sink supports Append output mode only, got $outputMode " +
        "(aggregation results route through foreachBatch + merge — " +
        "see graft.streaming.SnapshotSink.startMerge)")
    val dir = pathOf(parameters)
    // The exactly-once ledger needs a per-QUERY writer identity: two
    // queries sharing an appId would collide on batchIds and silently
    // no-op each other. No query id exists at createSink time, so the
    // identity must come from the one per-query stable input the user
    // already has: an explicit appId, or the checkpoint location.
    val appId = parameters.get("appId")
      .orElse(parameters.get("checkpointLocation")
        .map(p => s"graft-sink:${new Path(p).toUri.getPath}"))
      .getOrElse(throw new IllegalArgumentException(
        "graft sink: set option(\"appId\", <stable writer id>) (or a " +
          "checkpointLocation to derive one) — the exactly-once ledger " +
          "keys on it"))
    new GraftStreamSink(sqlContext.sparkSession, dir, appId,
      csvOpt(parameters, "statsCols"), csvOpt(parameters, "bloomCols"),
      partitionColumns)
  }
}

object GraftDataSource {

  /** Route streaming-checkpoint IO through
    * [[org.apache.spark.sql.execution.streaming.checkpointing.GraftLocalCheckpointFileManager]]
    * for this session — java.nio create/rename for `file:` checkpoint
    * locations (Hadoop's local FileContext forks a process per
    * temp-file create and rename without native libs — 50-150 ms per
    * micro-batch on the offset+commit logs), verbatim delegation to
    * Spark's default manager everywhere else. Call once before
    * starting streams whose checkpoints live on a local filesystem;
    * a no-op in effect for HDFS-class checkpoint locations. */
  def enableLocalCheckpointFastPath(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      "org.apache.spark.sql.execution.streaming.checkpointing." +
        "GraftLocalCheckpointFileManager")

  private def cdfMode(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft: no path — use .load(dir) / .save(dir) / .start(dir)"))

  private def csvOpt(parameters: Map[String, String],
                     key: String): Seq[String] =
    parameters.get(key).toSeq.flatMap(_.split(',')).map(_.trim)
      .filter(_.nonEmpty)

  private def tableSchema(spark: SparkSession, dir: String): StructType = {
    val v = SnapshotTable.latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(
        s"graft: no committed version under $dir — streaming reads need " +
          "an initialized table (commit an empty append to start one)"))
    SnapshotTable.snapshot(spark, dir, v).schema
  }
}

/** Shared admission-control machinery of the two graft streaming
  * sources (plain + CDF): composite `{v,i,snap}` offsets, budgeted
  * planning under maxFilesPerTrigger/maxBytesPerTrigger,
  * position-file persistence under the stream's metadataPath,
  * legacy-checkpoint fallback, and the Trigger.AvailableNow drain
  * bound. Implementors provide [[emissionUnit]] — a version's file
  * list plus whether it can be SLICED across triggers or must land
  * atomically (a rewrite commit's row-level delta is a cross-file
  * comparison, indivisible). Offsets stay legacy plain-long when no
  * limit is set — byte-compatible with existing checkpoints. */
private[sources] trait GraftRateLimited
    extends org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  self: Source =>
  import GraftStreamSource.{Pos, PosOffset}

  protected def rlSpark: SparkSession
  protected def rlDir: String
  protected def maxFiles: Option[Int]
  protected def maxBytes: Option[Long]
  protected def metadataPath: String
  protected def startingVersion: Option[Long]

  /** Version `v`'s emission list (`snap` = the full-snapshot form)
    * and whether the unit is ATOMIC (admitted all-or-nothing). */
  protected def emissionUnit(v: Long, snap: Boolean): (Seq[String], Boolean)

  require(maxFiles.forall(_ > 0), "maxFilesPerTrigger must be positive")
  require(maxBytes.forall(_ > 0), "maxBytesPerTrigger must be positive")

  protected final def limited: Boolean =
    maxFiles.nonEmpty || maxBytes.nonEmpty

  private def posPath: Option[Path] =
    if (metadataPath.isEmpty) None
    else Some(new Path(metadataPath, "graft-pos.json"))
  private def posStore =
    TableStore(rlSpark.sparkContext.hadoopConfiguration, posPath.get)

  /** The furthest position this source has PLANNED (not necessarily
    * committed) — restored across restarts from the metadata file.
    * Planning monotonically forward is safe: the engine's
    * checkpointed start re-slices the exact range, so a stale (or
    * lost) file costs at most one wider batch, never a gap. */
  private var lastPosOpt: Option[Pos] = None
  private var lastPosLoaded = false
  protected final def lastPos: Option[Pos] = {
    if (!lastPosLoaded) {
      lastPosLoaded = true
      lastPosOpt = posPath.flatMap(posStore.readText)
        .flatMap(txt => scala.util.Try(Pos.parse(txt.trim)).toOption)
    }
    lastPosOpt
  }

  protected final def persist(p: Pos): Unit = {
    if (lastPos.forall(lp => Pos.lt(lp, p))) {
      lastPosOpt = Some(p)
      posPath.foreach(posStore.overwrite(_, p.json))
    }
  }

  /** Where emission starts when nothing was consumed yet. */
  protected def initialPos(head: Long): Pos = startingVersion match {
    case Some(sv) => Pos(sv - 1, Pos.Complete, snap = false)
    case None => Pos(head, 0, snap = true)
  }

  /** True when the ENGINE already checkpointed progress for this
    * stream but no graft position file exists — a checkpoint created
    * before positions were persisted (or a lost/corrupt file). With
    * rate limits on, planning the initial snapshot from scratch would
    * re-emit already-consumed data as duplicates; the first offset
    * instead falls back to the unlimited form (one catch-up batch
    * sliced from the engine's committed start), which also seeds the
    * position file — subsequent triggers rate-limit normally. */
  private def legacyCheckpoint: Boolean =
    lastPos.isEmpty && posPath.isDefined && {
      val offsets = new Path(
        new Path(metadataPath).getParent.getParent, "offsets")
      scala.util.Try(posStore.list(offsets).nonEmpty).getOrElse(false)
    }

  /** The next bounded position after `base` given data through
    * `head`; None = no progress (nothing new under the budget). */
  private def planNextPos(base: Option[Pos], head: Long): Option[Pos] = {
    var pos = base.getOrElse(initialPos(head))
    var files = 0
    var bytes = 0L
    def exhausted = maxFiles.exists(files >= _) || maxBytes.exists(bytes >= _)
    var progressed = false
    var done = false
    while (!done && !exhausted && pos.v <= head) {
      // A fully-consumed position advances WITHOUT touching its
      // manifest: emissionUnit(v) reads versionDeltas(v-1, v), so
      // probing a Complete position both re-reads two manifests on
      // every idle trigger and, for startingVersion=sv with v=sv-1
      // the oldest surviving (checkpoint-rewritten) version, would
      // throw "manifest missing" where the unlimited path works.
      if (pos.i == Pos.Complete) {
        if (pos.v < head) { pos = Pos(pos.v + 1, 0, snap = false) }
        else done = true
      } else {
        val (list, atomic) = emissionUnit(pos.v, pos.snap)
        if (atomic) {
          // all-or-nothing: admit as the trigger's first unit (the
          // at-least-one rule — an over-budget rewrite cannot wedge
          // the stream), defer otherwise
          if (files > 0) done = true
          else {
            val sizes = SnapshotTable.manifestSizes(rlSpark, rlDir, pos.v)
            files += list.size
            bytes += list.map(sizes.getOrElse(_, 0L)).sum
            progressed = true
            pos = pos.copy(i = Pos.Complete)
          }
        } else {
          val consumed = math.min(pos.iNorm(list.size), list.size)
          if (consumed < list.size) {
            val sizes = SnapshotTable.manifestSizes(rlSpark, rlDir, pos.v)
            var i = consumed
            var stop = false
            while (i < list.size && !stop) {
              val sz = sizes.getOrElse(list(i), 0L)
              val over = maxFiles.exists(files + 1 > _) ||
                maxBytes.exists(bytes + sz > _)
              // admit at least one file per trigger or the stream wedges
              if (over && (files > 0)) stop = true
              else {
                files += 1; bytes += sz; i += 1
                if (exhausted) stop = true
              }
            }
            if (i > consumed) progressed = true
            pos = pos.copy(i = i)
            if (i < list.size) done = true
          } else if (pos.v < head) {
            pos = Pos(pos.v + 1, 0, snap = false)
          } else done = true
        }
      }
    }
    if (progressed) Some(pos) else None
  }

  /** `Trigger.AvailableNow`: everything committed when the query
    * started is the drain target; the engine keeps running (bounded)
    * batches until the offset stops advancing, then terminates —
    * WITHOUT this the engine's generic V1 wrapper captures the FIRST
    * rate-limited offset as "all available" and a limited stream
    * drains one chunk and stops. Commits landing after the capture
    * wait for the next run, per the trigger's contract. */
  private var availableNowBound: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(
      SnapshotTable.latestVersion(rlSpark, rlDir).getOrElse(-1L))

  protected final def boundedHead: Option[Long] = {
    val h = SnapshotTable.latestVersion(rlSpark, rlDir)
      .getOrElse(return None)
    Some(availableNowBound.fold(h)(math.min(h, _)))
  }

  /** The admission-control planner (the path the engine actually
    * drives — a Source implementing SupportsAdmissionControl gets the
    * COMMITTED start handed in, so planning needs no self-tracked
    * state to be correct; the position file remains a secondary
    * continuation hint for the plain-getOffset path). Limits are
    * enforced from the reader OPTIONS (the Delta convention);
    * `limit` is acknowledged but the options win. */
  override def latestOffset(startOffset: org.apache.spark.sql.connector
                     .read.streaming.Offset,
                   limit: org.apache.spark.sql.connector
                     .read.streaming.ReadLimit
                  ): org.apache.spark.sql.connector.read.streaming.Offset = {
    val head = boundedHead.getOrElse(return startOffset)
    if (head < 0) return startOffset // AvailableNow over an empty table
    val start = Option(startOffset).map(o => Pos.parse(o.json))
    if (!limited) {
      persist(Pos(head, Pos.Complete, snap = false))
      // no new data when the start already covers head COMPLETELY
      val covered = start.exists(p =>
        p.v > head || (p.v == head && p.i == Pos.Complete))
      return if (covered) startOffset else LongOffset(head)
    }
    val base = start.orElse(lastPos)
    planNextPos(base, head) match {
      case Some(pos) => persist(pos); PosOffset(pos)
      case None => startOffset
    }
  }

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def getOffset: Option[Offset] = {
    val head = boundedHead.getOrElse(return None)
    if (head < 0) return None
    if (!limited) {
      // legacy unlimited path: plain version offsets, byte-compatible
      // with existing checkpoints. The position file still advances so
      // a later switch to rate limiting continues instead of
      // re-planning the snapshot.
      persist(Pos(head, Pos.Complete, snap = false))
      return Some(LongOffset(head))
    }
    if (legacyCheckpoint) {
      persist(Pos(head, Pos.Complete, snap = false))
      return Some(LongOffset(head))
    }
    planNextPos(lastPos, head) match {
      case Some(pos) => persist(pos); Some(PosOffset(pos))
      case None => lastPos.map(PosOffset).orElse(None)
    }
  }
}

/** The SnapshotTable streaming SOURCE: manifest versions ARE the
  * offsets (a committed version is immutable, so replay of any
  * `(start, end]` range is deterministic — exactly the
  * replayable-source half of Structured Streaming's exactly-once
  * contract; the ledgered sink is the other half). Batches are
  * planned as native parquet relations over exactly the committed
  * files — the scan itself is Spark's vectorized reader.
  *
  * **Admission control** (`maxFilesPerTrigger` / `maxBytesPerTrigger`
  * — the public Delta source options): at 100 TB the initial snapshot
  * as ONE micro-batch is the scale killer, so with a limit set the
  * offset becomes the composite `{"v":N,"i":K,"snap":B}` — versions
  * `< N` fully consumed plus the first `K` files of version `N`'s
  * emission list (its full snapshot when `snap`, the Delta
  * isStartingVersion idea; its commit's added files otherwise), and
  * the snapshot drains across as many triggers as the budget needs
  * (at least one file always admits, so an over-budget file cannot
  * wedge the stream). Every batch is still an exact deterministic
  * `(start, end]` slice — replay-safe. The source self-persists its
  * last planned position under the stream's `metadataPath` (atomic
  * tmp+rename) so a restart continues chunking where it left off; a
  * crash between planning and the engine's commit only widens one
  * batch (the checkpointed start re-slices correctly), never skips or
  * duplicates. Without limits the offsets stay the legacy plain
  * version numbers, byte-compatible with existing checkpoints — and
  * the position file is maintained either way, so limits can be
  * turned ON over an existing checkpoint. */
final class GraftStreamSource(spark: SparkSession, dir: String,
                              override val schema: StructType,
                              protected val startingVersion: Option[Long],
                              ignoreChanges: Boolean,
                              protected val maxFiles: Option[Int] = None,
                              protected val maxBytes: Option[Long] = None,
                              protected val metadataPath: String = "")
    extends Source with GraftRateLimited
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import GraftStreamSource.Pos

  protected def rlSpark: SparkSession = spark
  protected def rlDir: String = dir

  /** Version `v`'s emission list: the full snapshot when `snap`
    * (initial-snapshot draining), else the files its commit added
    * (validated append-only unless `ignoreChanges`). Always sliceable
    * — this source emits file contents, never cross-file deltas. */
  protected def emissionUnit(v: Long, snap: Boolean): (Seq[String], Boolean) =
    (listOf(v, snap), false)

  private def listOf(v: Long, snap: Boolean): Seq[String] =
    if (snap) SnapshotTable.manifestFiles(spark, dir, v)
    else SnapshotTable.versionDeltas(spark, dir, v - 1, v) match {
      case Seq(d) => validate(d); d.adds
      case _ => Seq.empty
    }

  private def validate(d: SnapshotTable.VersionDelta): Unit =
    if ((d.removes.nonEmpty || d.dvChanged.nonEmpty) && !ignoreChanges)
      throw new IllegalStateException(
        s"graft streaming source: version ${d.version} (op=${d.op}) " +
          s"removed ${d.removes.length} file(s) and advanced deletion " +
          s"vectors on ${d.dvChanged.length} — the source requires an " +
          "append-only table. Set option(\"ignoreChanges\",\"true\") to " +
          "re-emit rewritten files (may duplicate rows), or consume " +
          "row-level deltas via option(\"readChangeFeed\",\"true\").")

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endPos0 = Pos.parse(end.json)
    // A legacy plain-long END with no start and no startingVersion is
    // the old initial-snapshot contract: the full snapshot at `end`.
    val endPos =
      if (start.isEmpty && startingVersion.isEmpty && !endPos0.snap &&
          endPos0.i == Pos.Complete) endPos0.copy(snap = true)
      else endPos0
    val startPos = start.map(o => Pos.parse(o.json))
    val (files, sizes) = rangeFiles(startPos, endPos)
    persist(endPos) // recovery replays keep future planning monotone
    filesAsBatch(files, sizes, endPos.v)
  }

  /** The exact, deterministic file slice of `(start, end]`. Full
    * version spans keep the documented `ignoreChanges` refinement
    * (files added AND removed inside the range are skipped — their
    * content is superseded within the very range); a partially-sliced
    * version's files always emit (an earlier chunk may already have
    * emitted its neighbors). Emitted files carry the END-version
    * deletion-vector mask, so rows already MoR-deleted by the end of
    * the range never enter the stream. */
  private def rangeFiles(start: Option[Pos], end: Pos
                        ): (Seq[String], Map[String, Long]) = {
    val begin = start.getOrElse(startingVersion match {
      case Some(sv) => Pos(sv - 1, Pos.Complete, snap = false)
      case None => Pos(end.v, 0, snap = end.snap)
    })
    if (!Pos.lt(begin, end)) return (Seq.empty, Map.empty)
    // validate + collect the delta versions STRICTLY AFTER begin.v
    val deltas = SnapshotTable.versionDeltas(spark, dir, begin.v, end.v)
    deltas.foreach(validate)
    val removedLater = deltas.flatMap(_.removes).toSet
    val out = Seq.newBuilder[String]
    var sizes = Map.empty[String, Long]
    def emit(v: Long, list: Seq[String], lo: Int, hi: Int): Unit = {
      if (hi > lo) {
        val slice = list.slice(lo, hi)
        val fullSpan = lo == 0 && hi == list.size
        out ++= (if (fullSpan && ignoreChanges)
          slice.filterNot(removedLater) else slice)
        sizes ++= SnapshotTable.manifestSizes(spark, dir, v)
      }
    }
    // begin version's tail (empty when begin.i is Complete)
    if (begin.i != Pos.Complete || begin.v == end.v) {
      val list = listOf(begin.v, begin.snap)
      val lo = math.min(begin.iNorm(list.size), list.size)
      val hi = if (begin.v == end.v) math.min(end.iNorm(list.size), list.size)
        else list.size
      emit(begin.v, list, lo, hi)
    }
    deltas.foreach { d =>
      val list = d.adds
      val hi = if (d.version == end.v) math.min(end.iNorm(list.size), list.size)
        else list.size
      emit(d.version, list, 0, hi)
    }
    (out.result(), sizes)
  }

  /** A micro-batch over exactly `files`, planned like
    * FileStreamSource plans its batches: a parquet
    * [[HadoopFsRelation]] over a fixed file list, marked
    * `isStreaming = true` so the incremental planner owns it. Reads
    * pin the SOURCE's schema: files written after a mid-stream
    * add-column evolution project down; pre-evolution files
    * NULL-backfill. */
  private def filesAsBatch(files: Seq[String],
                           sizes: Map[String, Long],
                           atVersion: Long): DataFrame = {
    // The scan ([[SnapshotTable.readFilesWithDv]]) masks the END
    // version's vectors, renames a column mapping to the stream's
    // captured schema and serves its defaults, all as streaming
    // projections and stream-static joins. Schema changes the captured
    // schema cannot absorb fail LOUDLY with a restart hint — a column
    // renamed or dropped mid-stream (the retired-only case counts: a
    // pure drop leaves the map empty but `retired` set, and silently
    // re-serving the dropped column would resurrect retired bytes
    // under ignoreChanges), or a column WIDENED mid-stream (new files
    // carry the wider pages; scanning them with the captured narrow
    // schema would throw a raw parquet conversion error with no hint).
    // Restarting re-captures.
    val (_, st) = SnapshotTable.resolve(spark, dir, Some(atVersion),
      "graft streaming source")
    val liveTypes = st.schema.fields.map(f => f.name -> f.dataType).toMap
    val gone = schema.fieldNames.filterNot(liveTypes.contains)
    if (gone.nonEmpty && (st.colMap.nonEmpty || st.retired.nonEmpty))
      throw new IllegalStateException(
        s"graft streaming source: column(s) ${gone.mkString(", ")} were " +
          "renamed or dropped mid-stream — restart the stream to " +
          "capture the current schema")
    val retyped = schema.fields.filter(f =>
      liveTypes.get(f.name).exists(_ != f.dataType))
    if (retyped.nonEmpty) throw new IllegalStateException(
      s"graft streaming source: column(s) " +
        retyped.map(f => s"${f.name} (${f.dataType.simpleString} -> " +
          s"${liveTypes(f.name).simpleString})").mkString(", ") +
        " changed type mid-stream (widenColumn) — restart the stream " +
        "to capture the current schema")
    // a slice may emit files of earlier versions in the range: their
    // sizes come from their own manifests
    SnapshotTable.readFilesWithDv(spark, dir,
      st.copy(sizes = sizes ++ st.sizes), files, Some(schema),
      streaming = true)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftStreamSource[$dir]"
}

object GraftStreamSource {
  /** Composite streaming position: everything below `v` consumed,
    * plus the first `i` files of `v`'s emission list (`i == Complete`
    * = all of it); `snap` marks `v`'s list as the full snapshot (the
    * initial-snapshot drain) rather than its commit's adds. A legacy
    * plain-long offset parses as (v, Complete, false). */
  private[sources] final case class Pos(v: Long, i: Int, snap: Boolean) {
    def iNorm(size: Int): Int = if (i == Pos.Complete) size else i
    def json: String = s"""{"v":$v,"i":$i,"snap":$snap}"""
  }
  private[sources] object Pos {
    val Complete: Int = Int.MaxValue
    private val J =
      """\{"v":(\d+),"i":(\d+),"snap":(true|false)\}""".r
    def parse(s: String): Pos = s.trim match {
      case J(v, i, sn) => Pos(v.toLong, i.toInt, sn.toBoolean)
      case t => Pos(t.toLong, Complete, snap = false)
    }
    def lt(a: Pos, b: Pos): Boolean = a.v < b.v || (a.v == b.v && a.i < b.i)
  }
  private[sources] final case class PosOffset(p: Pos) extends Offset {
    override def json: String = p.json
  }
}

/** The SnapshotTable streaming SINK: each micro-batch lands through
  * the transactional ledger with `txnVersion = batchId` — a replayed
  * batch after checkpoint recovery is a manifest no-op, completing
  * the end-to-end exactly-once pair with [[GraftStreamSource]]. */
final class GraftStreamSink(spark: SparkSession, dir: String, appId: String,
                            statsCols: Seq[String], bloomCols: Seq[String],
                            partitionBy: Seq[String]) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // Re-anchor: the passed-in frame carries the micro-batch's
    // incremental query execution — wrapping its executed RDD yields
    // a plain batch frame computed exactly once (the standard V1-sink
    // discipline; calling .write on `data` directly would re-plan it).
    val batch = org.apache.spark.sql.GraftSqlBridge.dataFrameOfInternalRows(
      spark, data.queryExecution.toRdd, data.schema)
    if (partitionBy.nonEmpty)
      SnapshotTable.transactionalAppendPartitioned(batch, dir, partitionBy,
        appId, batchId, statsCols, bloomCols)
    else
      SnapshotTable.transactionalAppend(batch, dir, appId, batchId,
        statsCols, bloomCols)
  }

  override def toString: String = s"GraftStreamSink[$dir]"
}

/** The row-level CDC streaming source —
  * `spark.readStream.format("graft").option("readChangeFeed","true")`:
  * each micro-batch is the EXACT row-level delta of the manifest
  * versions in `(lastOffset, latest]`, one
  * [[SnapshotTable.changeFeed]] step per commit, stamped with
  * `_change` (insert/delete) and `_commit_version`. Rewrites
  * (delete/update/merge/compact) that the plain source refuses are
  * first-class here: only the rows that actually changed flow, and a
  * merge-on-read deletion-vector commit surfaces exactly its masked
  * rows as deletes. Without `startingVersion` the first batch is the
  * initial snapshot (vectors applied) as inserts at the pinned
  * version — the public Delta CDF streaming surface.
  *
  * Each batch's change computation (parquet scans + DV masks +
  * multiset set-ops) is planned to its RDD lineage at getBatch time
  * and re-anchored as a streaming frame — no job runs until the
  * micro-batch executes, and a committed version's delta is immutable
  * so checkpoint-recovery replays are deterministic. */
final class GraftCdfStreamSource(spark: SparkSession, dir: String,
                                 override val schema: StructType,
                                 protected val startingVersion: Option[Long],
                                 protected val maxFiles: Option[Int] = None,
                                 protected val maxBytes: Option[Long] = None,
                                 protected val metadataPath: String = "")
    extends Source with GraftRateLimited
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import GraftCdfStreamSource._
  import GraftStreamSource.Pos

  protected def rlSpark: SparkSession = spark
  protected def rlDir: String = dir

  /** Sliceability per version: the initial snapshot and append-shaped
    * commits (adds only — a bulk backfill, exactly the scale problem)
    * drain across triggers as insert-row file slices; a commit that
    * removed files or advanced deletion vectors is a cross-file
    * row-level delta and lands ATOMICALLY (its adds are still counted
    * against the budget, so a trigger never packs more after a big
    * rewrite). */
  protected def emissionUnit(v: Long, snap: Boolean): (Seq[String], Boolean) =
    if (snap) (SnapshotTable.manifestFiles(spark, dir, v), false)
    else SnapshotTable.versionDeltas(spark, dir, v - 1, v) match {
      case Seq(d) if d.removes.isEmpty && d.dvChanged.isEmpty =>
        (d.adds, false)
      case Seq(d) => (d.adds, true)
      case _ => (Seq.empty, false)
    }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endPos0 = Pos.parse(end.json)
    // A legacy plain-long END with no start and no startingVersion is
    // the old initial-snapshot contract: the full snapshot at `end`.
    val endPos =
      if (start.isEmpty && startingVersion.isEmpty && !endPos0.snap &&
          endPos0.i == Pos.Complete) endPos0.copy(snap = true)
      else endPos0
    val startPos = start.map(o => Pos.parse(o.json))
    val to = endPos.v
    // Mid-stream schema changes the captured CDF schema cannot absorb
    // fail LOUDLY with a restart hint (same contract as the plain
    // source — without this a rename/drop/widen surfaces as a raw
    // unresolved-column or parquet-conversion error deep in a step).
    val liveTypes = SnapshotTable.snapshot(spark, dir, to).schema.fields
      .map(f => f.name -> f.dataType).toMap
    val bad = GraftCdfStreamSource.stripCdfColumns(schema).fields.filter(f =>
      !liveTypes.get(f.name).contains(f.dataType))
    if (bad.nonEmpty) throw new IllegalStateException(
      s"graft CDF source: column(s) ${bad.map(_.name).mkString(", ")} " +
        "were renamed, dropped, or changed type mid-stream — restart " +
        "the stream to capture the current schema")
    val begin = startPos.getOrElse(startingVersion match {
      case Some(sv) => Pos(sv - 1, Pos.Complete, snap = false)
      case None => Pos(endPos.v, 0, snap = endPos.snap)
    })
    val batch =
      if (!Pos.lt(begin, endPos)) emptyBatch()
      else {
        val pieces = Seq.newBuilder[DataFrame]
        // begin version's sliced tail (snapshot or append slice)
        if (begin.i != Pos.Complete || begin.v == endPos.v) {
          val (list, _) = emissionUnit(begin.v, begin.snap)
          val lo = math.min(begin.iNorm(list.size), list.size)
          val hi =
            if (begin.v == endPos.v) math.min(endPos.iNorm(list.size),
              list.size)
            else list.size
          if (hi > lo) pieces += sliceInserts(list.slice(lo, hi), begin.v)
        }
        // full intermediate versions = exact per-commit row deltas;
        // a partially-admitted END version = an insert-file slice
        // (only ever a sliceable unit — atomic versions are never
        // left partial by the planner)
        (begin.v + 1 to endPos.v).foreach { v =>
          if (v < endPos.v || endPos.i == Pos.Complete)
            pieces += changeStep(v)
          else {
            val (list, _) = emissionUnit(v, snap = false)
            val hi = math.min(endPos.iNorm(list.size), list.size)
            if (hi > 0) pieces += sliceInserts(list.slice(0, hi), v)
          }
        }
        val ps = pieces.result()
        if (ps.isEmpty) emptyBatch() else ps.reduce(_ unionByName _)
      }
    persist(endPos) // recovery replays keep future planning monotone
    org.apache.spark.sql.GraftSqlBridge.streamingDataFrameOfInternalRows(
      spark, batch.queryExecution.toRdd, batch.schema)
  }

  private def emptyBatch(): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** One changeFeed step — version `v`'s exact row-level delta. */
  private def changeStep(v: Long): DataFrame = {
    val step = SnapshotTable.changeFeed(spark, dir, v - 1, v)
    val dataCols = step.columns.filterNot(_ == "_change")
    step.select(dataCols.map(col) :+ col("_change") :+
      lit(v).cast(LongType).as("_commit_version"): _*)
  }

  /** A file slice emitted as inserts at version `v` — the bounded
    * drain path for the initial snapshot and append-shaped commits.
    * Scans the version's PHYSICAL schema under an active column
    * mapping (renamed to logical on top) and applies its deletion
    * vectors, so a slice reads exactly what the full snapshot read
    * would have emitted for those files. */
  private def sliceInserts(files: Seq[String], v: Long): DataFrame = {
    val (_, st) = SnapshotTable.resolve(spark, dir, Some(v),
      "graft CDF source")
    withCdfColumns(SnapshotTable.readFilesWithDv(spark, dir, st, files,
      Some(stripCdfColumns(schema))), v)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftCdfStreamSource[$dir]"
}

object GraftCdfStreamSource {
  /** Table schema + the two CDF metadata columns. */
  private[sources] def cdfSchema(base: StructType): StructType =
    StructType(stripCdfColumns(base).fields :+
      StructField("_change", StringType, nullable = false) :+
      StructField("_commit_version", LongType, nullable = false))

  /** A user-supplied schema may already carry the CDF columns (e.g.
    * round-tripped from sourceSchema) — strip before re-appending. */
  private[sources] def stripCdfColumns(s: StructType): StructType =
    StructType(s.fields.filterNot(f =>
      f.name == "_change" || f.name == "_commit_version"))

  private def withCdfColumns(df: DataFrame, v: Long): DataFrame =
    df.select(df.columns.map(col) :+ lit("insert").as("_change") :+
      lit(v).cast(LongType).as("_commit_version"): _*)
}

/** The batch-read relation for a snapshot that carries merge-on-read
  * deletion vectors: a bare [[HadoopFsRelation]] would resurrect
  * masked rows, so `format("graft")` routes DV'd snapshots through
  * this [[PrunedFilteredScan]] — buildScan runs the SAME
  * manifest-pruned [[SnapshotSql.dataFrame]] (vectorized parquet scan
  * + deletion-vector mask), with the pushed columns projected and
  * the pushable filters applied INSIDE the frame so they still reach
  * [[SnapshotFileIndex]] pruning and the parquet row-group filters.
  * All filters are declared unhandled (Spark re-applies the full
  * residual — pushing here is pruning-only, never a correctness
  * dependency), and rows hand over as InternalRows
  * (`needConversion = false`) to skip a per-row conversion. */
final class DvMaskedRelation(spark: SparkSession, dir: String, v: Long,
                             override val schema: StructType
                            ) extends BaseRelation with PrunedFilteredScan {

  override def sqlContext: SQLContext = spark.sqlContext
  override def needConversion: Boolean = false
  override def unhandledFilters(filters: Array[sf.Filter]): Array[sf.Filter] =
    filters

  /** Resolved once per relation — v is pinned, so the DV-masked frame
    * is stable; repeated buildScan calls (Spark may plan a relation
    * more than once) reuse it instead of re-resolving manifest
    * state. */
  private lazy val baseDf = SnapshotSql.dataFrame(spark, dir, Some(v))

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[sf.Filter]): RDD[Row] = {
    var df = baseDf
    filters.flatMap(filterColumn).foreach(c => df = df.where(c))
    val projected = df.select(requiredColumns.map(col).toSeq: _*)
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }

  /** Best-effort V1-filter → Column translation for scan pruning;
    * unrecognized shapes are simply not pushed (Spark applies the
    * full predicate above this scan regardless). */
  private def filterColumn(f: sf.Filter): Option[Column] = f match {
    case sf.EqualTo(a, v1) => Some(col(a) === lit(v1))
    case sf.GreaterThan(a, v1) => Some(col(a) > lit(v1))
    case sf.GreaterThanOrEqual(a, v1) => Some(col(a) >= lit(v1))
    case sf.LessThan(a, v1) => Some(col(a) < lit(v1))
    case sf.LessThanOrEqual(a, v1) => Some(col(a) <= lit(v1))
    case sf.In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
    case sf.IsNull(a) => Some(col(a).isNull)
    case sf.IsNotNull(a) => Some(col(a).isNotNull)
    case sf.StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case sf.And(l, r) => for {lc <- filterColumn(l); rc <- filterColumn(r)}
      yield lc && rc
    case _ => None
  }

  override def toString: String = s"DvMaskedRelation[$dir@v$v]"
}
