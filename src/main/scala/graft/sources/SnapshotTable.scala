package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftScopedSessions, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, concat, count, expr, greatest, hash, input_file_name, least, lit, max, min, not, pmod, regexp_replace, shiftleft, shiftright, sum, when}
import org.apache.spark.sql.types._
import org.roaringbitmap.RoaringBitmap

/** Minimal manifest-committed table format — the consistency layer the
  * plain-directory warehouse documents itself as lacking
  * ([[Warehouse.compactSmallFiles]]: "a reader racing the swap can
  * transiently see a PARTIAL listing ... point-in-time readers need a
  * manifest format"). This is that format, reduced to the essentials
  * the 100 TB design point needs and nothing else:
  *
  *   - **A table is a sequence of versioned manifests**
  *     (`_manifests/v<N>.json`), each the COMPLETE list of data files
  *     (relative paths under `data/`) of that snapshot. Readers never
  *     list `data/` — they read one manifest, then exactly those
  *     files. A reader therefore sees every snapshot fully or not at
  *     all: no partial listings, ever.
  *   - **Commits are atomic** via create-exclusive of the next
  *     manifest file (create(overwrite=false) is the filesystem CAS;
  *     HDFS and POSIX both give it). Two racing committers both
  *     prepare their file lists; one wins v<N>, the loser observes the
  *     conflict and RETRIES the commit against v<N> (append = re-union
  *     file lists, no data rewrite — optimistic concurrency, the
  *     Delta/Iceberg commit loop in miniature).
  *   - **Appends write data files FIRST, then commit.** A crash
  *     between the two leaves orphan files invisible to every reader
  *     (the manifest never references them) — cleaned by [[vacuum]],
  *     never double-counted.
  *   - **Compaction is a new snapshot, not a swap**: rewritten files
  *     are added, superseded files dropped from the NEW manifest only.
  *     Readers of older versions keep reading the old files
  *     ([[snapshot]] time travel) until [[vacuum]] retires them —
  *     compaction can never race a reader.
  *   - **File-level column stats → data skipping.** An append may
  *     record per-file min/max for chosen columns in the manifest;
  *     [[readWhere]] then opens ONLY the files whose range intersects
  *     the predicate. At 100 TB this is the difference between a
  *     full-table scan and touching a handful of files — the
  *     manifest-stats pruning layer of the public Delta/Iceberg
  *     designs, one level ABOVE parquet's row-group pruning (which
  *     still applies inside each opened file). Pruning is effective
  *     when file ranges are disjoint: [[compact]] takes `clusterBy`
  *     columns and range-repartitions the rewrite so they are.
  *   - **Row-level DELETE and MERGE are copy-on-write**: only the
  *     files that actually contain affected rows are rewritten; all
  *     other files carry forward untouched. Both detect write-write
  *     conflicts (a touched file vanishing from the current manifest
  *     means a concurrent compaction/delete rewrote it) and fail
  *     loudly rather than resurrect rows.
  *   - **Bloom point-lookup skipping**: per-file Bloom bitsets (an
  *     append-time native aggregate) let [[readWhereEq]] prune an
  *     equality probe on a high-cardinality unsorted key that min/max
  *     stats cannot touch.
  *   - **Manifest-recorded schema with add-column evolution**: new
  *     columns append (type conflicts refused before any data write);
  *     reads apply the unified schema so pre-evolution files
  *     NULL-backfill, and time travel reads each version under ITS
  *     schema.
  *   - **Hidden partitioning** ([[appendPartitioned]]): the hive
  *     writer over duplicated routing columns guarantees
  *     single-valued files; partition pruning is exact through the
  *     ordinary stats path — no path parsing, renaming-free
  *     partition evolution.
  *   - **Layout maintenance**: [[compact]] with `clusterBy`
  *     (range-disjoint files) or `zOrderBy` (one interleaved-bit
  *     layout serving range predicates on every z-ordered column at
  *     once); [[readWhereAll]] intersects per-column pruning for
  *     conjunctive predicates.
  *   - **CDC**: [[changeFeed]] (exact row-level deltas confined to
  *     changed files), [[applyChanges]] (delete+upsert of a tagged
  *     batch in ONE commit), and [[replicate]] (exactly-once
  *     table-to-table pipe — the destination's transaction ledger is
  *     the cursor, advanced in the same commit as the rows).
  *   - **Zero-copy branching** ([[shallowClone]]): any-size tables
  *     branch in one manifest write, diverge copy-on-write, and
  *     promote to independence via [[compact]]; [[vacuum]] never
  *     touches foreign references (lifecycle caveat on the method).
  *   - **O(batch) commits at every size** — delta manifests between
  *     checkpoints, and above [[SegmentInlineMax]] files the
  *     checkpoints themselves go SEGMENTED (the public Iceberg
  *     manifest-list design): per-file maps live in immutable
  *     segment files, unchanged segments are referenced as-is across
  *     checkpoint generations, and only the batch + churn is ever
  *     rewritten (smallest segments fold into the new one to bound
  *     segment count). At 100 TB file counts the manifest write no
  *     longer scales with the table.
  *
  *   - **Column mapping** ([[renameColumn]]/[[dropColumn]] — the
  *     public Delta column-mapping design): data files keep STABLE
  *     physical column names; the manifest maps logical→physical, so
  *     RENAME and DROP COLUMN are one metadata commit with zero
  *     rewrite at any table size. Dropped physical names RETIRE
  *     (re-adding the logical name takes a fresh physical — old bytes
  *     never resurrect); stats/Bloom pruning key physically and keep
  *     working across renames; time travel serves each version under
  *     its own names. Feature-guarded: pre-mapping readers refuse a
  *     mapped manifest loudly instead of serving physical names.
  *     (The bucketed/hive-partitioned WRITERS refuse mapped tables —
  *     their layouts derive from column names; plain append inherits
  *     everything.)
  *
  * Wire form: [[ManifestCodec]] is the one place the manifest format
  * is declared — each field's JSON name, sort order and delta rule,
  * read and written through one field table. A delta carries
  * per-file map entries (`stats`, `bloomrefs`, `sizes`, `dvs`)
  * only for files whose entry changed; a whole-value field there is
  * inherited when absent and replaced when present, an explicit empty
  * value included. Each manifest lists the reader features it needs
  * (`dvbitmaps`, `dvremoves`, `constraints`, `segments`, `bucket`,
  * `colmap`, `defaults`); a reader refuses unknown features and the
  * layouts earlier writers produced (inline Bloom bitsets, parquet
  * deletion-vector sidecars, no timestamp, no op, no schema, files
  * without sizes or row counts). Every reader
  * resolves a version to one [[Snapshot]].
  *
  * Deliberately out of scope (and documented as such): multi-table
  * transactions. */
object SnapshotTable {

  /** Label every Spark job an internal phase launches (guide §1.5 —
    * "label your jobs"): the phase tag is APPENDED to an enclosing
    * `graft:` label, so a profiler/UI reading `spark.job.description`
    * can attribute each control-plane job (probe, stats scan,
    * rewrite, ...) to the table operation that ran it. Any other
    * description (a stream's batch description, a user's) gives way
    * to `graft:<tag>` inside the scope, so every labelled job's
    * description starts with `graft:`. Pure observability — restores
    * the previous description on exit. */
  private[graft] def labeled[T](spark: SparkSession, tag: String)
                               (body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(
      if (prev == null || !prev.startsWith("graft:")) s"graft:$tag"
      else s"$prev | $tag")
    try body
    finally sc.setJobDescription(prev)
  }

  /** [[labeled]] plus ADAPTIVE EXECUTION OFF for `df`'s action: every
    * control-plane probe ends in a bounded `collect()` over at most a
    * few thousand rows (affected keys, touched files, validation
    * counts), so AQE's runtime re-optimization buys nothing — but each
    * probe action pays its `withFinalPlanUpdate` re-planning rounds
    * and plan-update events on the driver, the single largest
    * driver-gap frame in the lifecycle-query profiles (multi-action
    * queries run dozens of probes). `action` runs on `df` rebound onto
    * a cached clone of its session with AQE off
    * ([[GraftScopedSessions]]), so the caller's session and every
    * query planned on it meanwhile keep their AQE setting; data-path jobs (batch writes, rewrites, reads the caller
    * composes) run on the caller's conf. Valid at any scale: the probe
    * result size is bounded by contract (collect caps / file counts),
    * not by table size. */
  private[graft] def probe[T](df: DataFrame, tag: String)
                             (action: DataFrame => T): T =
    labeled(df.sparkSession, tag)(action(GraftScopedSessions.rebind(df, NoAqe)))

  private val NoAqe = Map("spark.sql.adaptive.enabled" -> "false")

  /** `df` rebound for an iterative trainer's loop: AQE off as for a
    * [[probe]], plus the trainer's measured shuffle partition count.
    * Frames the loop derives from the result plan on the same clone. */
  private[graft] def loopFrame(df: DataFrame,
                               shufflePartitions: Option[Int] = None): DataFrame =
    GraftScopedSessions.rebind(df,
      NoAqe ++ shufflePartitions.map("spark.sql.shuffle.partitions" -> _.toString))

  /** Internal batch writer with the Hadoop job-commit ceremony cut
    * down: the MANIFEST is this format's atomicity boundary — a batch
    * directory is invisible until a committed manifest names its
    * files, and a failed write's partials are unreferenced orphans
    * for [[vacuum]] — so the FileOutputCommitter's crash-safe v1
    * double-rename and _SUCCESS marker are pure redundancy here.
    * Algorithm v2 moves task output straight to the destination at
    * task commit (one rename fewer per file, and no O(files) serial
    * job-commit rename pass on the driver — on local FS each rename
    * is also a Shell permission call). Valid at any scale: these are
    * the standard settings for manifest-committed tables on object
    * stores, where the v1 dance is slowest. Options ride per-write
    * (sessionState.newHadoopConfWithOptions), never mutating session
    * or global Hadoop conf. */
  private def internalWriter(df: DataFrame)
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    df.write
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")

  /** Run an internal batch write with parquet timestamps pinned to
    * TIMESTAMP_MICROS (the footer-stats-capable encoding). Spark's
    * default INT96 carries NO usable footer statistics, so a table
    * tracking stats on a timestamp column would pay the post-write
    * re-scan fallback on EVERY commit — the one remaining
    * write-amplification residue after the footer-stats path landed.
    * MICROS round-trips bit-identically (Spark timestamps ARE micros;
    * INT96 nanos were zero-padding) and is the recommended modern
    * encoding anyway; INT96 is parquet-deprecated. The pin must be
    * the conf of the session the write runs on (a writer option is
    * clobbered by prepareWrite, which copies the session value into
    * the job conf), so the write runs on `df` rebound onto a cached
    * clone of its session that holds it; AQE stays as the caller has
    * it, so the written file counts do not move. */
  private def internalWrite(df: DataFrame, path: String,
                            partitionBy: Seq[String] = Nil): Unit = {
    val w = internalWriter(GraftScopedSessions.rebind(df, MicrosTimestamps))
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  private val MicrosTimestamps =
    Map("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")

  private def manifestDir(dir: String) = new Path(dir, "_manifests")
  private def manifestPath(dir: String, v: Long) =
    new Path(manifestDir(dir), s"v$v.json")

  /** Per-file, per-column [min,max] with a comparison-domain tag:
    * `num` (all numerics — compared as BigDecimal), `str` (raw string,
    * lexical), `date` (epoch day), `ts` (epoch micros). Values are
    * stored as strings in the manifest; a value that fails to parse in
    * its domain (e.g. a NaN min) simply makes the file un-prunable —
    * stats can only ever SKIP a file that provably has no matching
    * row, never hide one. */
  final case class ColStat(tag: String, min: String, max: String)

  /** Latest committed version, or None for an empty/uninitialized
    * table. One directory listing of `_manifests/` — never of the
    * data. */
  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    liveVersions(spark, dir).lastOption

  /** The versions whose manifests are on disk, ascending. */
  private def liveVersions(spark: SparkSession, dir: String): Seq[Long] =
    manifestVersions(TableStore(spark, dir).list(manifestDir(dir)))

  /** The committed versions among a `_manifests/` listing, ascending. */
  private def manifestVersions(listing: Seq[FileStatus]): Seq[Long] =
    listing.map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json") }
      .flatMap(s => scala.util.Try(s.toLong).toOption).sorted

  /** The fully-resolved table state at one version. Immutable once
    * committed, hence cacheable. `bloomRefs` points at the per-batch
    * Bloom SIDECAR file each data file's bitsets live in (the
    * Delta-bloom-index layout — bitsets never ride inside manifests).
    * `segments` records the SEGMENTED checkpoint composition this
    * state was resolved through (segment file name → its file list,
    * carried unchanged through deltas) — what lets the NEXT
    * checkpoint writer reuse unchanged segments; `dvDirty` accumulates
    * the files whose deletion vector was overridden by a delta
    * since that checkpoint (their segment entries are stale and the
    * segment must be rewritten at the next checkpoint). */
  private[graft] final case class TableState(
      files: Seq[String] = Nil,
      txns: Map[String, Long] = Map.empty,
      stats: Map[String, Map[String, ColStat]] = Map.empty,
      bloomRefs: Map[String, String] = Map.empty,
      bloomCols: Seq[String] = Nil,
      schema: StructType = new StructType(),
      sizes: Map[String, Long] = Map.empty,
      dvs: Map[String, DeletionVector] = Map.empty,
      segments: Seq[(String, Seq[String])] = Nil,
      dvDirty: Set[String] = Set.empty,
      bucket: Option[BucketLayout] = None,
      constraints: Map[String, String] = Map.empty,
      // COLUMN MAPPING (the public Delta column-mapping idea): the
      // manifest schema holds LOGICAL names; data files, stats keys,
      // Bloom keys and tracked-column lists hold stable PHYSICAL
      // names. The map is SPARSE — only non-identity entries are
      // recorded; a logical name absent from it IS its physical name.
      // `retired` lists physical names of DROPPED columns: their data
      // still sits in old files (explicit-schema reads never touch
      // it) and a re-added logical column of the same name must take
      // a FRESH physical name, never resurrect the old bytes.
      colMap: Map[String, String] = Map.empty,
      retired: Seq[String] = Nil,
      // TABLE PROPERTIES (the public TBLPROPERTIES surface): free-form
      // key->value metadata; behavior-bearing keys are documented on
      // [[setProperties]]. Read semantics never depend on them (no
      // reader feature guard needed) — they steer WRITE-side routing
      // (e.g. graft.enableDeletionVectors -> SQL DELETE/UPDATE go
      // merge-on-read).
      props: Map[String, String] = Map.empty,
      // ADD COLUMN ... DEFAULT (the Iceberg initial-default idea):
      // logical column -> (canonical literal string, the file keys
      // present when the column was added). Reads serve the literal —
      // cast to the column's type — for exactly those files; every
      // other file reads its physical bytes (absent -> NULL). The
      // pre-file sets only SHRINK: rewrites materialize the default
      // into new files, and commits prune entries to live files.
      defaults: Map[String, (String, Set[String])] = Map.empty)

  /** A file's DELETION VECTOR (merge-on-read deletes): the `_dv/`
    * sidecar holding the file's whole set of deleted row positions as a
    * bitmap, and how many positions it holds — what [[countRows]]
    * subtracts without reading the sidecar. */
  final case class DeletionVector(ref: String, card: Long)

  /** A table-wide bucketing CLAIM: every data file of the version was
    * written by [[appendBucketed]] with this spec — file names carry
    * Spark-parseable bucket ids, and each file holds exactly the rows
    * whose `pmod(hash(cols), n)` equals its id (Spark's own
    * HashPartitioning.partitionIdExpression). The claim is recorded
    * per-manifest and CLEARS on any commit that lands files without
    * re-asserting it (plain appends, CoW rewrites, merge-on-read
    * updates, compaction) — a stale claim could silently co-locate a
    * join wrong, so absence is always safe. A merge-on-read delete
    * lands no file and carries it. */
  final case class BucketLayout(numBuckets: Int, cols: Seq[String],
                                sortCols: Seq[String])

  /** One committed version, read-only: its commit stamp (epoch
    * millis), the operation that committed it and the fields of its
    * resolved [[TableState]] — what [[snapshot]] returns and every
    * reader resolves a version to. `checkpoint`: the manifest is
    * self-contained (not a delta). */
  final case class Snapshot(version: Long, ts: Long, op: String,
                            private[graft] val state: TableState,
                            private[graft] val checkpoint: Boolean = false) {
    def files: Seq[String] = state.files
    def txns: Map[String, Long] = state.txns
    def stats: Map[String, Map[String, ColStat]] = state.stats
    def bloomCols: Seq[String] = state.bloomCols
    def schema: StructType = state.schema
    def sizes: Map[String, Long] = state.sizes
    /** Each masked file's deletion-vector sidecar. */
    def dvRefs: Map[String, String] = state.dvs.map { case (f, d) => f -> d.ref }
    def bucket: Option[BucketLayout] = state.bucket
    def constraints: Map[String, String] = state.constraints
    def colMap: Map[String, String] = state.colMap
    def retired: Seq[String] = state.retired
    def props: Map[String, String] = state.props
    def defaults: Map[String, (String, Set[String])] = state.defaults
  }

  /** Bounded cache of resolved snapshots — a COMMITTED manifest is
    * immutable, so the only size concern would be capacity; but a
    * table directory deleted and recreated at the same path (or a
    * vacuum checkpoint-rewrite of the oldest kept manifest) replaces
    * the manifest FILE, and a (dir, version) key would keep serving
    * the pre-replacement state. The key therefore carries the
    * manifest file's (modificationTime, length) fingerprint: a
    * replaced v<N>.json forms a new key and can never be served from
    * the old entry (the stale entry just ages out of the LRU). */
  private val stateCache =
    new java.util.LinkedHashMap[(String, Long, Long, Long), Snapshot](
        64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long, Long), Snapshot]
         ): Boolean = size() > 48
    }

  private def missingManifest(dir: String, v: Long) =
    new java.io.IOException(
      s"manifest v$v missing under $dir — vacuumed past the time-travel " +
        "horizon, or the table directory was modified out of band")

  /** Version `version` of the table under `dir`: read the manifest
    * and, for a delta, the versions BACKWARD to the nearest checkpoint,
    * replaying the deltas forward — the Delta-log checkpoint+delta
    * model. A checkpoint is written every [[CheckpointEvery]] commits
    * (and at v0), so the chain is at most CheckpointEvery deltas long
    * and a COMMIT only ever writes O(batch) bytes, not O(table). */
  def snapshot(spark: SparkSession, dir: String, version: Long): Snapshot = {
    val fst = try TableStore(spark, dir).status(manifestPath(dir, version))
    catch { case _: java.io.FileNotFoundException =>
      throw missingManifest(dir, version)
    }
    val key = (new Path(dir).toUri.getPath, version,
      fst.getModificationTime, fst.getLen)
    stateCache.synchronized {
      val hit = stateCache.get(key)
      if (hit != null) return hit
    }
    val snap = readManifest(spark, dir, version,
      if (version == 0L) None else Some(stateOf(spark, dir, version - 1)))
    stateCache.synchronized { stateCache.put(key, snap); () }
    snap
  }

  private def stateOf(spark: SparkSession, dir: String, v: Long): TableState =
    snapshot(spark, dir, v).state

  /** Decode manifest `v`; a delta resolves against `parent`. */
  private def readManifest(spark: SparkSession, dir: String, v: Long,
                           parent: => Option[TableState]): Snapshot =
    ManifestCodec.decode(dir, v,
      TableStore(spark, dir).readText(manifestPath(dir, v))
        .getOrElse(throw missingManifest(dir, v)),
      parent, loadSegment(spark, dir, _))

  /** The snapshots of ascending `versions`, each manifest read once: a
    * version right after the previous one decodes against it, any
    * other resolves through [[snapshot]]. The walk adds nothing to the
    * state cache, which a long history would otherwise thrash. */
  private def walk(spark: SparkSession, dir: String,
                   versions: Seq[Long]): Iterator[Snapshot] = {
    var prev: Option[Snapshot] = None
    versions.iterator.map { v =>
      val s = prev match {
        case Some(p) if p.version == v - 1 =>
          readManifest(spark, dir, v, Some(p.state))
        case _ => snapshot(spark, dir, v)
      }
      prev = Some(s)
      s
    }
  }

  /** The version a reader serves — `version`, else the head — and its
    * state, resolved ONCE: pruning, schema, mapping and vectors must
    * all come from the same snapshot, or a commit landing between two
    * lookups would mix versions. */
  private[sources] def resolve(spark: SparkSession, dir: String,
                               version: Option[Long],
                               op: String): (Long, TableState) = {
    val v = version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new java.io.IOException(s"$op: no committed version under $dir"))
    (v, stateOf(spark, dir, v))
  }

  /** Checkpoint segments (`_manifests/seg-v<N>-<uuid>.json`), each the
    * file list and per-file maps of a slice of the table. Segment
    * files are immutable once referenced (writers only ever create NEW
    * segment names), so the cache key is just (dir, name). */
  private val segmentCache =
    new java.util.LinkedHashMap[(String, String), TableState](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), TableState]): Boolean =
        size() > 48
    }

  private def loadSegment(spark: SparkSession, dir: String,
                          name: String): TableState = {
    val key = (new Path(dir).toUri.getPath, name)
    segmentCache.synchronized {
      val hit = segmentCache.get(key)
      if (hit != null) return hit
    }
    val seg = ManifestCodec.decodeSegment(
      TableStore(spark, dir).readText(new Path(manifestDir(dir), name))
        .getOrElse(throw new java.io.IOException(
          s"checkpoint segment $name missing under $dir — vacuumed past " +
            "the horizon, or the table directory was modified out of band")))
    segmentCache.synchronized { segmentCache.put(key, seg); () }
    seg
  }

  /** The file list of a version (relative paths). */
  def manifestFiles(spark: SparkSession, dir: String, v: Long): Seq[String] =
    snapshot(spark, dir, v).files

  /** Per-file byte sizes of a version (see [[Snapshot.sizes]]). */
  def manifestSizes(spark: SparkSession, dir: String,
                    v: Long): Map[String, Long] =
    snapshot(spark, dir, v).sizes

  /** The Bloom bitsets of `files` at `st` (file → column → packed
    * bitset): the point-lookup skipping summary — min/max stats
    * cannot prune an equality probe on a high-cardinality UNSORTED
    * key; a per-file Bloom filter can ([[pruneFilesEq]]). Bitsets
    * live in per-batch SIDECAR files under `_blooms/` (the public
    * Delta bloom-index layout) with the manifest holding only
    * path-sized pointers; each sidecar `files` reference is loaded
    * once. */
  private def bloomsOf(spark: SparkSession, dir: String, st: TableState,
                       files: Set[String]
                      ): Map[String, Map[String, Array[Byte]]] =
    st.bloomRefs.view.filterKeys(files).toMap
      .groupBy(_._2).flatMap { case (ref, fileRefs) =>
        val side = loadBloomSidecar(spark, dir, ref)
        fileRefs.keys.flatMap(f => sidecarLookup(side, f, ref).map(f -> _))
      }

  /** Find `file`'s entry in a Bloom or deletion-vector sidecar. A
    * shallow clone absolutizes both the file key and the sidecar ref,
    * but the sidecar's OWN keys stay source-relative — so an absolute
    * miss retries under the source-relative key derived from the ref's
    * location. */
  private def sidecarLookup[A](side: Map[String, A], file: String,
                               ref: String): Option[A] =
    side.get(file).orElse {
      if (ref.startsWith("_blooms/") || ref.startsWith("_dv/")) None
      else {
        val srcDir = new Path(ref).getParent.getParent // …/_blooms/x.json
        val prefix = srcDir.toUri.getPath + "/data/"
        if (file.startsWith(prefix))
          side.get("data/" + file.stripPrefix(prefix))
        else None
      }
    }

  /** Commit AUDIT LOG (the public DESCRIBE HISTORY shape): one row per
    * surviving manifest — (version, op, commit time, files added,
    * files removed, live file count, live bytes). Driver-side over the
    * manifest chain (control plane; bounded by the vacuum window) in
    * one [[walk]], surfaced as a DataFrame so it composes with SQL.
    * Vacuumed versions are simply absent — the log is exactly as
    * durable as time travel. */
  def history(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val live = liveVersions(spark, dir)
    if (live.isEmpty)
      throw new java.io.IOException(s"history: no committed version under $dir")
    var prev: Option[Snapshot] = None
    val rows = walk(spark, dir, live).map { s =>
      val was = prev.filter(_.version == s.version - 1)
        .fold(Set.empty[String])(_.files.toSet)
      prev = Some(s)
      val cur = s.files.toSet
      (s.version, s.op, s.ts, (cur -- was).size.toLong,
        (was -- cur).size.toLong, s.files.length.toLong, s.sizes.values.sum)
    }.toSeq
    import spark.implicits._
    rows.toDF("version", "op", "commit_ts", "n_added", "n_removed",
      "n_files", "total_bytes")
  }

  /** EXACT metadata-only COUNT(*): Σ per-file [[RowsCol]] footer
    * counts − Σ recorded deletion-vector cardinalities. At 100 TB this
    * is the difference between an instant manifest fold and an
    * hour-long scan. Every live file records its count (a manifest
    * without one is refused as a retired layout), and each vector its
    * bitmap's cardinality — every position a live row the vector
    * masks — so the result equals `read().count()` without reading a
    * sidecar. Pinned in SnapshotOpsSpec and oracle-checked by
    * q_snapshot_count. */
  def countRows(spark: SparkSession, dir: String,
                version: Option[Long] = None): Long = {
    val (_, st) = resolve(spark, dir, version, "countRows")
    st.files.iterator.map(f => st.stats(f)(RowsCol).min.toLong -
      st.dvs.get(f).fold(0L)(_.card)).sum
  }

  /** The surviving versions with their MONOTONICITY-ADJUSTED commit
    * times — the public Delta discipline: `adj(v) = max(adj(v-1)+1,
    * ts(v))`, so clock skew between committers (or a re-stamped
    * manifest) can never make history run backwards. This is the
    * timeline `TIMESTAMP AS OF` resolves against. One manifest read
    * per surviving version — control plane. */
  def commitTimeline(spark: SparkSession, dir: String): Seq[(Long, Long)] = {
    val live = liveVersions(spark, dir)
    if (live.isEmpty) throw new java.io.IOException(
      s"commitTimeline: no committed version under $dir")
    val stamps = walk(spark, dir, live).map(s => s.version -> s.ts).toSeq
    stamps.tail.scanLeft(stamps.head) { case ((_, adj), (v, ts)) =>
      v -> math.max(adj + 1, ts) }
  }

  /** Resolve `TIMESTAMP AS OF tsMillis`: the LATEST version whose
    * adjusted commit time is at or before the target. Throws when the
    * target predates the oldest surviving version ([[vacuum]] may
    * have retired older history — resolving to it silently would read
    * the wrong snapshot). */
  def versionAtTimestamp(spark: SparkSession, dir: String,
                         tsMillis: Long): Long = {
    val tl = commitTimeline(spark, dir)
    val at = tl.filter(_._2 <= tsMillis)
    if (at.isEmpty) throw new java.io.IOException(
      s"versionAtTimestamp: $tsMillis predates the oldest surviving " +
        s"version (v${tl.head._1} at ${tl.head._2}) under $dir")
    at.last._1
  }

  /** [[read]] at `TIMESTAMP AS OF` (see [[versionAtTimestamp]]). */
  def readAsOf(spark: SparkSession, dir: String,
               tsMillis: Long): DataFrame =
    read(spark, dir, Some(versionAtTimestamp(spark, dir, tsMillis)))

  /** Per-version (op, added files, removed files) over
    * `(fromExclusive, to]` — the commit-granular delta walk the
    * streaming source consumes, one manifest read per version
    * ([[walk]]); every version in the range must still exist (a
    * vacuumed manifest fails loudly — a stream restarted past the
    * retention horizon must not silently skip data). */
  private[graft] final case class VersionDelta(
      version: Long, op: String, adds: Seq[String], removes: Seq[String],
      dvChanged: Seq[String] = Nil)

  private[graft] def versionDeltas(spark: SparkSession, dir: String,
                                   fromExclusive: Long, to: Long
                                  ): Seq[VersionDelta] = {
    if (fromExclusive >= to) return Seq.empty
    var prev = TableState() // before v0
    walk(spark, dir, math.max(0L, fromExclusive) to to).flatMap { s =>
      val p = prev
      prev = s.state
      if (s.version <= fromExclusive) None
      else {
        val was = p.files.toSet
        Some(VersionDelta(s.version, s.op,
          s.files.filterNot(was).sorted,
          was.diff(s.files.toSet).toSeq.sorted,
          // carried files whose deletion vector moved: a MoR delete
          // changed rows without changing the file list
          s.files.filter(f => was(f) &&
            p.dvs.get(f) != s.state.dvs.get(f)).sorted))
      }
    }.toSeq
  }

  // ------------------------------------------------------------------
  // Bloom sidecars
  // ------------------------------------------------------------------

  /** Write one batch's bitsets as `_blooms/<batch>.json`
    * ([[ManifestCodec.encodeBlooms]]), returning the per-file refs the
    * manifest records. Sidecars are immutable once written, named by
    * the batch UUID — no commit races. */
  private def writeBloomSidecar(spark: SparkSession, dir: String,
                                batch: String,
                                blooms: Map[String, Map[String, Array[Byte]]]
                               ): Map[String, String] = {
    if (blooms.isEmpty) return Map.empty
    val rel = s"_blooms/$batch.json"
    // uniquely named per batch, referenced only by the manifest
    // committed after it — writeNew's no-rename contract applies
    TableStore(spark, dir).writeNew(new Path(dir, rel),
      ManifestCodec.encodeBlooms(blooms))
    blooms.keys.map(_ -> rel).toMap
  }

  /** Load one sidecar (relative ref under this table, or a shallow
    * clone's absolute ref into its source table). */
  private def loadBloomSidecar(spark: SparkSession, dir: String,
                               ref: String
                              ): Map[String, Map[String, Array[Byte]]] = {
    val p = if (ref.startsWith("_blooms/")) new Path(dir, ref)
            else new Path(ref)
    // a vacuumed sidecar is un-probeable: its files are kept
    TableStore(spark.sparkContext.hadoopConfiguration, p).readText(p)
      .map(ManifestCodec.decodeBlooms).getOrElse(Map.empty)
  }
  /** Add-column schema evolution (the [[graft.catalog.Catalog]] /
    * reference-O16 discipline, enforced at the table-format layer):
    * every existing column keeps its type — a same-name type conflict
    * fails loudly — and genuinely new columns append. Everything is
    * marked nullable: rows in pre-evolution files surface NULL for
    * columns their file predates, and an append may itself omit
    * existing columns (its rows read NULL there). */
  private def evolveSchema(prev: StructType, next: StructType): StructType = {
    val prevNames = prev.fields.map(f => f.name -> f.dataType).toMap
    next.fields.foreach { f =>
      prevNames.get(f.name).foreach { pt =>
        require(pt.catalogString == f.dataType.catalogString ||
            widens(f.dataType, pt),
          s"schema evolution: column ${f.name} arrives as " +
            s"${f.dataType.simpleString} but the table holds ${pt.simpleString}")
      }
    }
    StructType((prev.fields ++
      next.fields.filterNot(f => prevNames.contains(f.name)))
      .map(_.copy(nullable = true)))
  }

  /** The TYPE-WIDENING lattice (the public Delta/Iceberg
    * type-promotion set, restricted to conversions every summary
    * stays correct under): integral chain byte→short→int→long,
    * float→double, and decimal precision growth at fixed scale.
    * Widening is safe because (a) Spark's vectorized parquet reader
    * upcasts a narrower on-disk type to the requested schema natively
    * (an int32 page reads as bigint — no rewrite), (b) min/max stats
    * live in the shared canonical "num" domain, and (c) Bloom bitsets
    * hash `toString`, which is STABLE along the integral chain ("5"
    * is "5" at every width) while float/decimal columns are never
    * bloom-eligible. Conversions outside this set (int→double,
    * long→int, anything→string) are refused — int→double in
    * particular would silently break existing Bloom bitsets ("5" vs
    * "5.0"). */
  private[sources] def widens(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (f, t) if f == t => false
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    }

  /** The options of every snapshot relation. A file the manifest
    * references must be read, whatever the session's
    * `spark.sql.files.ignoreMissingFiles` says: skipping a lost file
    * would silently serve a snapshot without its committed rows. */
  private val ScanOptions = Map("ignoreMissingFiles" -> "false")

  /** The parquet relation over `files` of snapshot `st`, scanning
    * `scanSchema` (the files' physical names) through one
    * [[SnapshotFileIndex]]. With `sqlSurface` the index also prunes on
    * the query's pushed filters and the relation reports the table's
    * bucket claim as Spark's `BucketSpec`, so joins and aggregations
    * on the bucket columns plan without an Exchange; programmatic and
    * internal reads pass files they already pruned and plan without
    * buckets. */
  private[sources] def snapshotRelation(spark: SparkSession, dir: String,
      st: TableState, files: Seq[String], scanSchema: StructType,
      sqlSurface: Boolean): org.apache.spark.sql.execution.datasources
      .HadoopFsRelation = {
    // the claim's columns are logical; the scan needs physical names
    val bucketSpec = st.bucket.filter(_ => sqlSurface).map(b =>
      org.apache.spark.sql.catalyst.catalog.BucketSpec(b.numBuckets,
        b.cols.map(physName(st.colMap, _)),
        b.sortCols.map(physName(st.colMap, _))))
    org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      new SnapshotFileIndex(spark, dir, st, files, prune = sqlSurface),
      new StructType(), scanSchema, bucketSpec,
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetFileFormat(), ScanOptions)(spark)
  }

  // ------------------------------------------------------------------
  // Deletion vectors (merge-on-read deletes)
  // ------------------------------------------------------------------

  /** The manifest key of a scanned row's physical file, as a Column —
    * the scan-side twin of [[manifestKey]], computed from
    * `_metadata.file_path` in builtin string expressions: the `__file`
    * column of [[withFile]]. */
  private def fileKeyExpr(dir: String, fp: Column): Column = {
    val prefix = new Path(dir).toUri.getPath + "/data/"
    val p = regexp_replace(fp, "^[a-zA-Z][a-zA-Z0-9+.\\-]*:(//)?", "")
    when(p.startsWith(prefix),
      concat(lit("data/"), p.substr(lit(prefix.length + 1),
        lit(Int.MaxValue)))).otherwise(p)
  }

  /** The deletion vectors of `files` at `st`: manifest key → the
    * file's deleted row positions. The driver reads each sidecar a
    * covered file names once, through [[TableStore]]; no Spark job
    * runs. One sidecar covers every file its merge-on-read commit
    * touched, but only the files that still name it are served: a
    * sibling's later rewrite drops ITS entry while the sidecar lives
    * on. A missing sidecar or entry fails the read — serving the file
    * unmasked would resurrect deleted rows. */
  private def vectorsOf(spark: SparkSession, dir: String, st: TableState,
                        files: Seq[String]): Map[String, RoaringBitmap] = {
    val covered = files.toSet
    st.dvs.filter { case (f, _) => covered(f) }.groupBy(_._2.ref).flatMap {
      case (ref, fs) =>
        val p = if (ref.startsWith("_dv/")) new Path(dir, ref) else new Path(ref)
        val side = TableStore(spark.sparkContext.hadoopConfiguration, p)
          .readText(p).map(ManifestCodec.decodeVectors)
          .getOrElse(throw new java.io.IOException(
            s"deletion-vector sidecar $ref missing under $dir — vacuumed " +
              "past the horizon, or the table directory was modified out of band"))
        fs.keys.map(f => f -> sidecarLookup(side, f, ref).getOrElse(
          throw new java.io.IOException(
            s"deletion-vector sidecar $ref under $dir holds no vector for $f")))
    }
  }

  /** True for a scanned row whose position `vectors` (manifest key →
    * positions) lists: one predicate on the row's file path and
    * in-file index (default: its `_metadata`), evaluated in the scan's
    * own stage. */
  private def deletedRow(dir: String, vectors: Map[String, RoaringBitmap],
                         path: Column = col("_metadata.file_path"),
                         index: Column = col("_metadata.row_index")): Column =
    graft.plans.GraftFunctions.inDeletionVector(path, index,
      graft.plans.DeletionVectors(
        vectors.map { case (f, b) => absPath(dir, f).toUri.getPath -> b }))

  /** The positions of `rows` (`__file`, `__row_index`, as [[withFile]]
    * serves them) as one bitmap per file: each task builds its files'
    * bitmaps and the driver ORs them — one job, its result bounded by
    * the matched rows. */
  private def positionsOf(rows: DataFrame): Map[String, RoaringBitmap] =
    rows.select("__file", "__row_index").mapPartitions { it =>
      val byFile = scala.collection.mutable.HashMap.empty[String, RoaringBitmap]
      it.foreach { r =>
        val pos = r.getLong(1)
        require((pos >>> 32) == 0,
          s"deletion vectors hold row positions below 2^32, got $pos")
        byFile.getOrElseUpdate(r.getString(0), new RoaringBitmap).add(pos.toInt)
      }
      byFile.iterator
    }(org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.javaSerialization(classOf[RoaringBitmap])))
      .collect().groupMapReduce(_._1)(_._2)(RoaringBitmap.or(_, _))

  // ------------------------------------------------------------------
  // Column mapping (logical ↔ physical names)
  // ------------------------------------------------------------------

  /** The stable physical (in-file) name of logical column `c` under a
    * sparse mapping — identity when unmapped. */
  private[sources] def physName(colMap: Map[String, String],
                                c: String): String =
    colMap.getOrElse(c, c)

  /** The schema a snapshot's parquet FILES carry: the logical fields
    * renamed to their stable physical names. */
  private[sources] def physSchemaOf(colMap: Map[String, String],
                           logical: StructType): StructType =
    StructType(logical.fields.map(f =>
      f.copy(name = physName(colMap, f.name))))

  /** Rename a physical-named frame to its logical names in ONE atomic
    * select — pairwise withColumnRenamed would collide on swapped
    * names. Extra (non-schema) columns in `df` are preserved as-is,
    * appended after the logical fields. Unmapped: `df` itself. */
  private def toLogicalFrame(df: DataFrame, colMap: Map[String, String],
                             logical: StructType): DataFrame =
    if (colMap.isEmpty) df
    else {
      val phys = logical.fields.map(f => physName(colMap, f.name)).toSet
      df.select(logical.fields.map(f =>
        col(physName(colMap, f.name)).as(f.name)).toSeq ++
        df.columns.filterNot(phys).map(col): _*)
    }

  /** The one builder of snapshot rows: `files` of snapshot `st` as
    * logical rows under `schema` (default: the snapshot's own). Every
    * read surface comes through here — the programmatic readers, the
    * SQL relation and `format("graft")` ([[SnapshotSql.dataFrame]]),
    * both stream sources' slices, and the commit-time probes.
    *
    *   - One [[snapshotRelation]] per scan: file statuses come from
    *     the manifest's recorded sizes, and a file the store lost
    *     fails the read.
    *   - DELETION VECTORS mask each scan with one predicate on
    *     (`_metadata.file_path`, `_metadata.row_index`) that carries the
    *     scanned files' bitmaps ([[deletedRow]]): the driver reads the
    *     sidecars, and the masked scan runs as one job, like a plain
    *     one. `onlyDeleted` inverts it: only the rows whose positions
    *     it lists (the change feed's newly deleted rows).
    *   - COLUMN MAPPING: the files are scanned under their PHYSICAL
    *     names and renamed to the logical schema last (after masking,
    *     which needs `_metadata`); filters a query pushes against
    *     logical names travel through the aliases to the scan.
    *   - ADD COLUMN DEFAULTS: files are grouped by WHICH default
    *     columns consider them pre-ADD, each group scans once, and the
    *     pre-ADD groups serve the recorded literal (cast to the column
    *     type) — a union of a handful of scans, no per-row file
    *     comparisons. Defaults of columns outside `schema` (a stream's
    *     captured schema) are skipped.
    *
    * No files gives the schema's empty frame: a `LocalRelation`,
    * streaming when `streaming`. `sqlSurface` is
    * [[snapshotRelation]]'s. */
  private[graft] def readFilesWithDv(spark: SparkSession, dir: String,
                                     st: TableState, files: Seq[String],
                                     schema: Option[StructType] = None,
                                     streaming: Boolean = false,
                                     sqlSurface: Boolean = false,
                                     onlyDeleted: Option[Map[String, RoaringBitmap]] =
                                       None): DataFrame = {
    val logical = schema.getOrElse(st.schema)
    def scan(fs: Seq[String]): DataFrame = {
      val base = physicalScan(spark, dir, st, fs,
        physSchemaOf(st.colMap, logical), streaming, sqlSurface)
      val rows = onlyDeleted match {
        case Some(vs) => base.filter(deletedRow(dir, vs))
        case None =>
          val vs = vectorsOf(spark, dir, st, fs)
          if (vs.isEmpty) base else base.filter(not(deletedRow(dir, vs)))
      }
      toLogicalFrame(rows, st.colMap, logical)
    }
    val relevant = st.defaults.filter { case (c, (_, pre)) =>
      logical.fieldNames.contains(c) && files.exists(pre) }
    if (relevant.isEmpty) scan(files)
    else files
      .groupBy(f => relevant.keySet.filter(c => relevant(c)._2(f)))
      .toSeq.sortBy(_._2.head)
      .map { case (cols, fs) =>
        val part = scan(fs)
        if (cols.isEmpty) part
        else part.select(logical.fields.map { f =>
          if (cols.contains(f.name))
            lit(relevant(f.name)._1).cast(f.dataType).as(f.name)
          else col(f.name)
        }.toIndexedSeq: _*)
      }.reduce(_ unionByName _)
  }

  /** `files` of snapshot `st` scanned under `scanSchema` (physical
    * names) as a bare frame over [[snapshotRelation]] — `_metadata`
    * still reachable, nothing masked or renamed. No files: an empty
    * `LocalRelation`. */
  private def physicalScan(spark: SparkSession, dir: String, st: TableState,
                           files: Seq[String], scanSchema: StructType,
                           streaming: Boolean,
                           sqlSurface: Boolean): DataFrame = {
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(scanSchema)
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      if (files.isEmpty) org.apache.spark.sql.catalyst.plans.logical
        .LocalRelation(attrs, Nil, isStreaming = streaming)
      else org.apache.spark.sql.execution.datasources.LogicalRelation(
        snapshotRelation(spark, dir, st, files, scanSchema, sqlSurface),
        attrs, None, isStreaming = streaming, None))
  }

  /** A manifest file key as a path: relative keys live under this
    * table, absolute ones are a shallow clone's references into its
    * source table. */
  private[sources] def absPath(dir: String, key: String): Path =
    if (key.startsWith("data/")) new Path(dir, key) else new Path(key)

  /** Serializes same-JVM committers. Commit atomicity rests on a
    * rename-that-fails-if-destination-exists — which HDFS-class
    * stores give and the LOCAL filesystem does NOT (Hadoop's local
    * create/rename are check-then-act; POSIX rename overwrites).
    * That is precisely the public "LogStore" contract of
    * manifest-log formats: multi-PROCESS commits need a store with
    * an atomic no-overwrite publish; on local filesystems this JVM
    * lock makes multi-THREAD commits (the local[32] reality) exact,
    * and cross-process local commits remain best-effort. */
  private val commitLock = new Object

  /** A full (checkpoint-form) manifest is written every this-many
    * commits; every other commit is a DELTA (adds/removes only). The
    * dial between commit cost (O(batch) for deltas) and read-side
    * replay length (≤ CheckpointEvery manifest reads, amortized away
    * by the state cache). */
  private val CheckpointEvery = 10L

  /** The optimistic commit protocol every writer shares (the Delta
    * log's): read the head, let `step` compute the COMPLETE next state
    * from the head's version and state, and publish it as head + 1
    * only if no other writer published that version first. A lost
    * race re-reads the new head and runs `step` again, up to
    * `maxRetries` attempts. `step` throws on a conflict and returns
    * None for a no-op (a replayed txn, a restore whose target is the
    * head), which commits nothing. The next state is written as
    * given, every field of it: a step builds it with `cur.copy(…)`
    * and clears a field by setting it. `manifestOp` names the commit
    * in the manifest when that differs from `op`. Returns the
    * committed version. */
  private def commitLoop(spark: SparkSession, dir: String, op: String,
                         maxRetries: Int,
                         manifestOp: Option[String] = None)(
      step: (Option[Long], Option[TableState]) => Option[TableState]
     ): Option[Long] = {
    @scala.annotation.tailrec
    def attempt(n: Int): Option[Long] =
      if (n >= maxRetries) throw new java.io.IOException(
        s"$op: lost the commit race $maxRetries times under $dir")
      else {
        val head = latestVersion(spark, dir)
        val cur = head.map(stateOf(spark, dir, _))
        step(head, cur) match {
          case None => None
          case Some(next) =>
            val v = head.fold(0L)(_ + 1)
            if (tryCommit(spark, dir, v, cur, next, manifestOp.getOrElse(op)))
              Some(v)
            else attempt(n + 1)
        }
      }
    attempt(0)
  }

  /** [[commitLoop]] for a metadata commit on an existing table, which
    * always lands: `f` maps the head's state to the next one, throwing
    * on a conflict. Returns the committed version. */
  private def commitOnHead(spark: SparkSession, dir: String, op: String,
                           maxRetries: Int)(f: TableState => TableState
                          ): Long =
    commitLoop(spark, dir, op, maxRetries) { (_, st) =>
      Some(f(st.getOrElse(throw new java.io.IOException(
        s"$op: no committed version under $dir"))))
    }.get

  /** Try to commit the COMPLETE state `next` as version `v` on top of
    * `parent`, the state at v-1 (None for v0). True iff this writer
    * won the publish race for v<N>. What lands on disk is a DELTA
    * against the parent (O(batch) bytes) except every
    * [[CheckpointEvery]]-th version and v0, which write the checkpoint
    * form ([[ManifestCodec.encode]]). Content-atomic: the body is
    * fully written to a hidden temp file, then renamed into place — a
    * reader can never observe a partially-written manifest. */
  private def tryCommit(spark: SparkSession, dir: String, v: Long,
                        parent: Option[TableState], next: TableState,
                        op: String): Boolean = commitLock.synchronized {
    val s = TableStore(spark, dir)
    val target = manifestPath(dir, v)
    if (s.exists(target)) return false
    s.createExclusive(target, manifestBody(s, dir,
      Snapshot(v, System.currentTimeMillis(), op, next), parent,
      full = v == 0L || v % CheckpointEvery == 0L))
  }

  /** [[ManifestCodec.encode]] of `snap`, with the new checkpoint
    * segments it references written first (content-atomic: tmp +
    * rename). A lost commit race leaves an orphan segment that
    * [[vacuum]] age-GCs, never a dangling reference. */
  private def manifestBody(s: TableStore, dir: String, snap: Snapshot,
                           parent: Option[TableState],
                           full: Boolean): String = {
    val (body, segments) = ManifestCodec.encode(snap, parent, full)
    segments.foreach { case (name, seg) =>
      s.overwrite(new Path(manifestDir(dir), name), seg) }
    body
  }

  // ------------------------------------------------------------------
  // Column stats (data skipping)
  // ------------------------------------------------------------------

  /** Comparison-domain tag for a stats-eligible type; None = the
    * column type carries no file-skipping stats (complex/binary). */
  private def statTag(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | _: DecimalType => Some("num")
    case StringType => Some("str")
    case DateType => Some("date")
    case TimestampType | TimestampNTZType => Some("ts")
    case _ => None
  }

  /** Canonical stored form of a min/max value in its tag domain. */
  private def statStr(tag: String, v: Any): String = (tag, v) match {
    case ("date", d: java.sql.Date) => d.toLocalDate.toEpochDay.toString
    case ("date", d: java.time.LocalDate) => d.toEpochDay.toString
    case ("ts", t: java.sql.Timestamp) =>
      (t.getTime * 1000L + (t.getNanos / 1000) % 1000).toString
    case ("ts", t: java.time.LocalDateTime) =>
      (t.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L +
        t.getNano / 1000).toString
    case ("ts", t: java.time.Instant) =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case (_, x) => x.toString
  }

  /** A user-supplied predicate bound, canonicalized into `tag`'s
    * domain; None = not canonicalizable → caller must include the
    * file (pruning stays conservative). */
  private def canonBound(tag: String, v: Any): Option[String] =
    scala.util.Try {
      tag match {
        case "str" => v.toString
        case "num" => new java.math.BigDecimal(v.toString).toString
        case "date" => v match {
          case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
          case d: java.time.LocalDate => d.toEpochDay.toString
          case s: String => java.time.LocalDate.parse(s).toEpochDay.toString
          case n: Number => n.toString
        }
        case "ts" => v match {
          case t: java.sql.Timestamp => statStr("ts", t)
          case t: java.time.Instant => statStr("ts", t)
          case s: String => statStr("ts", java.sql.Timestamp.valueOf(s))
          case n: Number => n.toString
        }
      }
    }.toOption

  /** Domain compare of two stored stat strings; None on parse failure
    * (→ un-prunable). String bounds compare by UNSIGNED UTF-8 byte
    * order — Spark's min/max over strings is UTF8String binary order
    * (code-POINT order), while Java's String.compareTo is UTF-16
    * code-UNIT order; the two diverge for strings mixing
    * supplementary characters with [U+E000, U+FFFF]. A mismatched
    * comparator here would let pruneFiles skip a file that contains
    * matching rows — silent wrong results — so the probe must use the
    * same order the stored bounds were computed in. */
  private def statCompare(tag: String, a: String, b: String): Option[Int] =
    scala.util.Try {
      if (tag == "str") {
        val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = math.min(x.length, y.length)
        var i = 0
        var r = 0
        while (r == 0 && i < n) {
          r = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
          i += 1
        }
        if (r != 0) r else java.lang.Integer.compare(x.length, y.length)
      }
      else new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    }.toOption

  /** Canonical manifest key for a data file: files under THIS table's
    * `data/` store relative (`data/<batch>/...` — survives moving the
    * table directory); anything else (a [[shallowClone]]'s references
    * into its source table) stores as the scheme-less absolute path.
    * `input_file_name()` URIs and `Path.toString` forms normalize to
    * the same key through `Path.toUri.getPath`. */
  private def manifestKey(dir: String, uri: String): String = {
    val p = new Path(uri).toUri.getPath
    val prefix = new Path(dir).toUri.getPath + "/data/"
    if (p.startsWith(prefix)) "data/" + p.stripPrefix(prefix) else p
  }

  /** Reserved per-file stats pseudo-column carrying the file's ROW
    * COUNT (min == max == count, tag "num"): counts ride the existing
    * stats plumbing — delta manifests, segmented checkpoints,
    * rewrites, restore, clone — with zero new manifest machinery, and
    * [[countRows]] answers COUNT(*) from metadata alone. Real columns
    * can never collide (Spark rejects leading-__ names nowhere, but
    * the stats tracking filters to batch columns, and the name is
    * documented reserved). */
  private[graft] val RowsCol = "__rows"

  /** Open each file's parquet FOOTER and apply `f` to the open reader
    * — driver-side metadata reads (no executor job, no data pages).
    * Footer opens are independent, so more than one overlap on a
    * bounded pool (a 32-file batch's serial opens were ~100ms of
    * driver wall per commit). Results come back in `statuses` order. */
  private[graft] def readFooters[A](
      conf: org.apache.hadoop.conf.Configuration, statuses: Seq[FileStatus])(
      f: (FileStatus, org.apache.parquet.hadoop.ParquetFileReader) => A
     ): Seq[A] = {
    def one(st: FileStatus): A = {
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try f(st, rd) finally rd.close()
    }
    if (statuses.length <= 1) return statuses.map(one)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, statuses.length))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try scala.concurrent.Await.result(
      scala.concurrent.Future.traverse(statuses)(st =>
        scala.concurrent.Future(one(st))),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
  }

  /** One column chunk's (tag, min, max) rendered EXACTLY as the scan
    * in [[batchSummaries]] ([[statStr]]) renders the same values, or
    * Left(()) when the column's physical encoding carries no usable
    * footer statistics (INT96 timestamps — Spark's default parquet
    * timestamp encoding — and any exotic annotation), or Right(None)
    * when this chunk's statistics are absent/empty (conservative:
    * the file simply stays un-prunable on the column).
    *
    * Order-compatibility is the load-bearing fact: parquet footer
    * min/max for UTF8 binary use UNSIGNED byte order — the SAME order
    * Spark's min/max over strings (UTF8String binary order) and this
    * manifest's [[statCompare]] use — and numeric/date/ts chunk stats
    * are exact typed values, so footer bounds are valid [min,max]
    * bounds in every stat domain pruning compares in. */
  private def chunkStat(
      ccmd: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
     ): Either[Unit, Option[(String, String, String)]] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    val pt = ccmd.getPrimitiveType
    val ann = pt.getLogicalTypeAnnotation
    // tag + renderer from the parquet type itself (self-contained:
    // works for every writer in this file without threading schemas)
    val render: Either[Unit, (String, Any => String)] =
      (pt.getPrimitiveTypeName, ann) match {
        case (INT96, _) => Left(())                 // no usable stats
        case (_, d: DecimalLogicalTypeAnnotation) =>
          val scale = d.getScale
          Right(("num", {
            case i: java.lang.Integer =>
              java.math.BigDecimal.valueOf(i.longValue, scale).toString
            case l: java.lang.Long =>
              java.math.BigDecimal.valueOf(l, scale).toString
            case b: org.apache.parquet.io.api.Binary =>
              new java.math.BigDecimal(
                new java.math.BigInteger(b.getBytes), scale).toString
            case x => x.toString
          }))
        case (INT32, _: DateLogicalTypeAnnotation) =>
          Right(("date", _.toString))
        case (INT64, t: TimestampLogicalTypeAnnotation)
            if t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
          Right(("ts", _.toString))
        case (INT64, _: TimestampLogicalTypeAnnotation) => Left(())
        case (BINARY, _: StringLogicalTypeAnnotation) =>
          Right(("str", {
            case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
            case x => x.toString
          }))
        case (INT32 | INT64, null) => Right(("num", _.toString))
        case (INT32 | INT64, _: IntLogicalTypeAnnotation) =>
          Right(("num", _.toString))
        case (FLOAT | DOUBLE, _) => Right(("num", _.toString))
        case _ => Left(())
      }
    render.map { case (tag, r) =>
      val st = ccmd.getStatistics
      if (st == null || st.isEmpty || !st.hasNonNullValue) None
      else scala.util.Try(
        (tag, r(st.genericGetMin), r(st.genericGetMax))).toOption
    }
  }

  /** Per-file min/max of `statsCols` (PHYSICAL names) plus [[RowsCol]]
    * counts, read from the parquet FOOTERS of freshly written files —
    * the metadata the write already produced, so the batch is never
    * re-scanned for stats (guide §6: use file metadata, don't re-read
    * data). Returns the stats map and the set of requested columns
    * whose encoding carries no footer stats (INT96 timestamps) — the
    * caller routes exactly those through the scan-based path.
    * A chunk with absent/all-null statistics just drops the column
    * for that file: stats can only ever SKIP a provably-unmatching
    * file, so absence is always safe. */
  private def footerSummaries(spark: SparkSession, dir: String,
                              statuses: Seq[FileStatus],
                              statsCols: Seq[String]
                             ): (Map[String, Map[String, ColStat]],
                                 Set[String]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val wanted = statsCols.distinct
    // Name resolution mirrors the session's analyzer: the scan-based
    // path this replaced resolved stat columns case-insensitively
    // under the default resolver, so a statsCol differing only in
    // case from the file's physical name must keep its stats here
    // too. Exact match wins; a unique case-insensitive match is
    // accepted when spark.sql.caseSensitive is false; an ambiguous
    // one drops the column for the file (pruning-only, safe).
    val caseInsensitive = !spark.sessionState.conf.caseSensitiveAnalysis
    val unsupported =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val perFile = readFooters(conf, statuses) { (st, rd) =>
      val cnt = rd.getRecordCount
      val blocks = rd.getFooter.getBlocks
      // per column: fold chunk stats across row groups in the stat
      // domain; any unusable chunk drops the column for this file
      val colStats = wanted.flatMap { c =>
        var tag: String = null
        var mn: String = null
        var mx: String = null
        var ok = true
        val it = blocks.iterator()
        while (ok && it.hasNext) {
          val block = it.next()
          if (block.getRowCount > 0) {
            val chunk = {
              val cit = block.getColumns.iterator()
              var exact: org.apache.parquet.hadoop.metadata
                .ColumnChunkMetaData = null
              var ci: org.apache.parquet.hadoop.metadata
                .ColumnChunkMetaData = null
              var ciAmbiguous = false
              while (exact == null && cit.hasNext) {
                val cc = cit.next()
                if (cc.getPath.size == 1) {
                  val n = cc.getPath.toDotString
                  if (n == c) exact = cc
                  else if (caseInsensitive && n.equalsIgnoreCase(c)) {
                    if (ci == null) ci = cc else ciAmbiguous = true
                  }
                }
              }
              if (exact != null) exact
              else if (ciAmbiguous) null
              else ci
            }
            if (chunk == null) ok = false
            else chunkStat(chunk) match {
              case Left(()) => unsupported.add(c); ok = false
              case Right(None) => ok = false
              case Right(Some((t, lo, hi))) =>
                if (tag == null) { tag = t; mn = lo; mx = hi }
                else if (tag != t) ok = false
                else {
                  (statCompare(tag, lo, mn), statCompare(tag, hi, mx)) match {
                    case (Some(a), Some(b)) =>
                      if (a < 0) mn = lo
                      if (b > 0) mx = hi
                    case _ => ok = false
                  }
                }
            }
          }
        }
        if (ok && tag != null) Some(c -> ColStat(tag, mn, mx)) else None
      }.toMap
      manifestKey(dir, st.getPath.toString) ->
        (colStats + (RowsCol -> ColStat("num", cnt.toString, cnt.toString)))
    }.toMap
    import scala.jdk.CollectionConverters._
    val unsup = unsupported.asScala.toSet
    // a column that fell back to the scan must not ALSO carry partial
    // footer entries (the scan result is authoritative for it)
    val cleaned =
      if (unsup.isEmpty) perFile
      else perFile.view.mapValues(_.filterNot(kv => unsup(kv._1))).toMap
    (cleaned, unsup)
  }

  /** The one batch-summary entry point every committer uses: footer
    * stats + row counts in ONE footer pass per file (no executor job,
    * no data re-read), with the scan-based [[batchSummaries]] retained
    * for exactly (a) Bloom bitsets — data-dependent by nature — and
    * (b) stat columns whose parquet encoding has no usable footer
    * statistics (INT96 timestamps). A stats-only table therefore
    * commits with ZERO post-write jobs; before this, every append and
    * every CoW rewrite re-read every byte it had just written. */
  private def summarizeBatch(spark: SparkSession, dir: String,
                             batchDir: Path, listed: Seq[FileStatus],
                             statsCols: Seq[String],
                             bloomCols: Seq[String]
                            ): (Map[String, Map[String, ColStat]],
                                Map[String, Map[String, Array[Byte]]]) = {
    val (footer, scanCols) =
      footerSummaries(spark, dir, listed, statsCols)
    val (scanStats, blooms) =
      batchSummaries(spark, batchDir, scanCols.toSeq, bloomCols)
    (withRowCounts(scanStats, footer), blooms)
  }

  /** Outer per-file merge of a batch's column stats with its
    * [[RowsCol]] counts (the scan drops stat-less files; counts cover
    * every file). */
  private def withRowCounts(stats: Map[String, Map[String, ColStat]],
                            rows: Map[String, Map[String, ColStat]]
                           ): Map[String, Map[String, ColStat]] =
    (stats.keySet ++ rows.keySet).iterator.map(f =>
      f -> (stats.getOrElse(f, Map.empty) ++ rows.getOrElse(f, Map.empty))
    ).toMap

  /** Bloom sizing — part of the on-disk contract (a committed bitset
    * is only probeable at the same m and k). 16384 bits / 6 probes:
    * ~2 KB per (file, column), FPR ≈ 2% at ~2000 distinct keys per
    * file; size m up with file row counts (FPR only ever costs a
    * wasted file open, never a missed row). */
  private val BloomBits = 16384
  private val BloomProbes = 6

  /** Only string and integral columns may carry Bloom bitsets: for
    * exactly these types, the build side's `CAST(col AS STRING)` and
    * the probe side's JVM `value.toString` render identically. Other
    * types (timestamp/date/decimal/floating) have diverging renderings
    * (e.g. java.sql.Timestamp.toString appends ".0" where Spark's cast
    * does not), which would make the probe FALSE-NEGATIVE — silently
    * skipping files that contain matching rows. */
  private def bloomEligible(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Per-file min/max of `statsCols` and Bloom bitsets of `bloomCols`
    * for every parquet file under `batchDir`, in ONE column-pruned
    * scan of the freshly written batch aggregated per input file
    * (`groupBy(input_file_name)`); no scan at all when neither list
    * names a column. The collect is file-count-bounded control plane
    * (one row per written file). A Bloom key is the column CAST TO
    * STRING, reproducible on the probe side via `value.toString` for
    * the [[bloomEligible]] types. Caller-supplied Bloom columns were
    * already checked by [[inheritTracking]]; an ineligible column
    * here is a recorded one (rewrite paths pass the table's tracking
    * unchecked), and it stops carrying bitsets (pruning degrades,
    * correctness does not) rather than wedge every rewrite. */
  private def batchSummaries(spark: SparkSession, batchDir: Path,
                             statsCols: Seq[String],
                             bloomCols: Seq[String]
                            ): (Map[String, Map[String, ColStat]],
                                Map[String, Map[String, Array[Byte]]]) = {
    if (statsCols.isEmpty && bloomCols.isEmpty) return (Map.empty, Map.empty)
    val df = spark.read.parquet(batchDir.toString)
    val typed = statsCols.distinct
      .filter(df.columns.contains)
      .flatMap(c => statTag(df.schema(c).dataType).map(c -> _))
    val bOk = bloomCols.distinct.filter(df.columns.contains)
      .filter(c => bloomEligible(df.schema(c).dataType))
    if (typed.isEmpty && bOk.isEmpty) return (Map.empty, Map.empty)
    val aggs =
      typed.flatMap { case (c, _) =>
        Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c")) } ++
      bOk.map { c =>
        graft.plans.GraftFunctions.bloomFilterBits(
          col(c).cast("string"), BloomBits, BloomProbes).as(s"__bf_$c") }
    val rows = df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val tableDir = batchDir.getParent.getParent.toString
    val stats = rows.flatMap { r =>
      val rel = manifestKey(tableDir, r.getString(0))
      val cols = typed.flatMap { case (c, tag) =>
        val mn = r.getAs[Any](s"__mn_$c"); val mx = r.getAs[Any](s"__mx_$c")
        if (mn == null || mx == null) None
        else Some(c -> ColStat(tag, statStr(tag, mn), statStr(tag, mx)))
      }.toMap
      if (cols.isEmpty) None else Some(rel -> cols)
    }.toMap
    val blooms =
      if (bOk.isEmpty) Map.empty[String, Map[String, Array[Byte]]]
      else rows.map { r =>
        manifestKey(tableDir, r.getString(0)) ->
          bOk.map(c => c -> r.getAs[Array[Byte]](s"__bf_$c")).toMap
      }.toMap
    (stats, blooms)
  }

  /** Driver-side probe of a manifest bitset (see
    * [[graft.plans.BloomFilterBits.mightContain]]). */
  private def bloomMightContain(bits: Array[Byte], value: Any): Boolean =
    graft.plans.BloomFilterBits.mightContain(bits, value.toString, BloomProbes)

  // ------------------------------------------------------------------
  // Writes
  // ------------------------------------------------------------------

  /** The caller's stats/bloom column lists unioned with the table's
    * already-TRACKED ones (filtered to columns the batch actually
    * carries): stats and Bloom tracking are TABLE POLICY, not
    * per-call options — one writer that forgets `statsCols` must not
    * silently strip file-skipping from every file it lands (at 100 TB
    * that's an unprunable stripe in the middle of the table, invisible
    * until someone profiles the scans). Caller-passed bloom columns
    * get the eligibility check here, before any write (a typo fails
    * loudly); INHERITED columns the rules reject just stop carrying
    * bitsets in [[batchSummaries]]. */
  private def inheritTracking(spark: SparkSession, dir: String,
                              df: DataFrame, statsCols: Seq[String],
                              bloomCols: Seq[String])
      : (Seq[String], Seq[String]) = {
    bloomCols.filter(df.columns.contains).foreach { c =>
      require(bloomEligible(df.schema(c).dataType),
        s"bloomCols: column $c (${df.schema(c).dataType.simpleString}) is " +
          "not bloom-eligible; only string and integral key columns probe " +
          "consistently (build casts to string, probe renders via toString)")
    }
    val base = latestVersion(spark, dir)
    // Tracked lists are recorded in PHYSICAL names; caller-supplied
    // columns arrive LOGICAL — translate before merging, and filter
    // inherited columns by the batch's PHYSICAL field set.
    val cm = base.map(stateOf(spark, dir, _).colMap).getOrElse(Map.empty)
    val fields = df.schema.fieldNames.map(physName(cm, _)).toSet
    val ts = base.map(trackedStatsCols(spark, dir, _)).getOrElse(Nil)
    val tb = base.map(stateOf(spark, dir, _).bloomCols).getOrElse(Nil)
    ((statsCols.map(physName(cm, _)) ++ ts.filter(fields)).distinct,
      (bloomCols.map(physName(cm, _)) ++ tb.filter(fields)).distinct)
  }

  /** Append `df` as a new snapshot: write data files under a unique
    * subdir of `data/`, then commit previous files + new files with
    * the optimistic retry loop. `statsCols` names columns whose
    * per-file min/max land in the manifest for [[readWhere]] skipping
    * — and tracking INHERITS: columns any prior commit tracked are
    * tracked for this batch too (see [[inheritTracking]]).
    * Returns the committed version. */
  def append(df: DataFrame, dir: String, statsCols: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil, maxRetries: Int = 20): Long = {
    val spark = df.sparkSession
    // Pre-flight evolution check BEFORE the data write: a type
    // conflict must not cost a doomed batch (the authoritative check
    // re-runs against whatever manifest the commit loop lands on).
    latestVersion(spark, dir).foreach(v =>
      evolveSchema(stateOf(spark, dir, v).schema, df.schema))
    val vcs = enforceConstraints(spark, dir, df, "append")
    val (sCols, bCols) = inheritTracking(spark, dir, df, statsCols, bloomCols)
    val wb = labeled(spark, "append") { writeBatch(df, dir, sCols, bCols) }
    commitAppend(spark, dir, df.schema, wb, maxRetries, "append",
      validatedConstraints = vcs).get // non-txn append never no-ops
  }

  /** Atomic REPLACE: commit a snapshot containing ONLY `df`'s freshly
    * written files — the table-format form of `mode("overwrite")`.
    * One commit, so readers see the old table or the new, never a
    * mixture; superseded versions stay time-travelable until
    * [[vacuum]] (an overwrite is a logical replace, not a physical
    * delete). The schema REPLACES too (an overwrite is a new table
    * body; add-column evolution is [[append]]'s contract), and the
    * txn ledger carries forward so exactly-once writers survive an
    * interleaved rebuild. */
  def overwrite(df: DataFrame, dir: String, statsCols: Seq[String] = Nil,
                bloomCols: Seq[String] = Nil, maxRetries: Int = 20): Long = {
    val spark = df.sparkSession
    var validated = enforceConstraints(spark, dir, df, "overwrite")
    // table POLICY (tracked stats/bloom columns) survives a replace,
    // same as constraints do — one overwrite must not strip pruning
    val (sCols, bCols) = inheritTracking(spark, dir, df, statsCols, bloomCols)
    val wb = writeBatch(df, dir, sCols, bCols)
    commitLoop(spark, dir, "overwrite", maxRetries) { (_, st) =>
      checkMapClaim(st, wb.claim, "overwrite")
      val cur = st.getOrElse(TableState())
      // A new table body: files, summaries, schema and tracking are the
      // batch's; vectors and the bucket claim clear; the ledger and the
      // table policy (constraints, properties, mapping) carry forward.
      val next = cur.copy(files = wb.added, stats = wb.stats,
        bloomRefs = wb.refs, bloomCols = wb.bloomCols, sizes = wb.sizes,
        schema = StructType(df.schema.fields.map(_.copy(nullable = true))),
        dvs = Map.empty, bucket = None,
        colMap = wb.claim.fold(cur.colMap)(_.colMap),
        retired = wb.claim.fold(cur.retired)(_.retired))
      validated = recheckConstraints(spark, dir, next, validated, wb.added,
        "overwrite")
      Some(next)
    }.get
  }

  /** The append commit, shared by every append-shaped committer: on
    * each [[commitLoop]] attempt, land the written batch on the head,
    * carry txns/stats/bloom refs forward and evolve the schema. With
    * `txn`, a head that already records the appId at or above its
    * version is a no-op (None). */
  private def commitAppend(spark: SparkSession, dir: String,
                           dfSchema: StructType, wb: WrittenBatch,
                           maxRetries: Int, op: String,
                           txn: Option[(String, Long)] = None,
                           bucket: Option[BucketLayout] = None,
                           validatedConstraints: Map[String, String] =
                             Map.empty
                          ): Option[Long] = {
    var validated = validatedConstraints
    commitLoop(spark, dir, op, maxRetries) { (_, st) =>
      checkMapClaim(st, wb.claim, op)
      val cur = st.getOrElse(TableState())
      // a racing replay won: no commit, our files stay orphaned
      if (replayed(cur, txn)) None
      else {
        val unified = evolveSchema(cur.schema, dfSchema)
        // A bucketing claim only survives the commit if whatever table
        // state this attempt lands on still supports it (empty, or
        // bucketed with the SAME spec) — a racing unbucketed writer
        // degrades the claim instead of corrupting co-location.
        val next = landed(cur, wb).copy(schema = unified,
          txns = cur.txns ++ txn,
          bucket = bucket.filter(b =>
            cur.files.isEmpty || cur.bucket.contains(b)))
        // a concurrently-added constraint must gate THIS batch too
        validated = recheckConstraints(spark, dir, next, validated,
          wb.added, op)
        Some(next)
      }
    }
  }

  /** True when `st` already records `txn`'s appId at or above its
    * version: the exactly-once writers' replay test. */
  private def replayed(st: TableState, txn: Option[(String, Long)]): Boolean =
    txn.exists { case (appId, tv) =>
      st.txns.getOrElse(appId, Long.MinValue) >= tv }

  /** `cur` with the batch `wb` landed in place of the files `removed`:
    * the batch's files, summaries, Bloom columns and mapping claim in;
    * the removed files' summaries and deletion vectors out. */
  private def landed(cur: TableState, wb: WrittenBatch,
                     removed: Set[String] = Set.empty): TableState =
    cur.copy(
      files = cur.files.filterNot(removed) ++ wb.added,
      stats = (cur.stats -- removed) ++ wb.stats,
      bloomRefs = (cur.bloomRefs -- removed) ++ wb.refs,
      bloomCols = (cur.bloomCols ++ wb.bloomCols).distinct,
      sizes = (cur.sizes -- removed) ++ wb.sizes,
      dvs = cur.dvs -- removed,
      colMap = wb.claim.fold(cur.colMap)(_.colMap),
      retired = wb.claim.fold(cur.retired)(_.retired))

  /** The cheap replay pre-check of the exactly-once appends: true when
    * the head already records `txn`'s appId at or above its version,
    * so a replay skips its data write. The authoritative check re-runs
    * inside [[commitAppend]]'s loop. */
  private def alreadyCommitted(spark: SparkSession, dir: String,
                               txn: Option[(String, Long)]): Boolean =
    txn.nonEmpty && latestVersion(spark, dir)
      .exists(v => replayed(stateOf(spark, dir, v), txn))

  /** Before any data is written, a name-derived layout writer (hidden
    * partitions, buckets) runs the schema pre-flight and refuses a
    * column-mapped table: its layout comes from column names, which a
    * mapping decouples from the files. Returns the head state. */
  private def layoutPreflight(spark: SparkSession, dir: String,
                              df: DataFrame, op: String,
                              writer: String): Option[TableState] =
    latestVersion(spark, dir).map { v =>
      val cur = stateOf(spark, dir, v)
      evolveSchema(cur.schema, df.schema)
      require(cur.colMap.isEmpty && cur.retired.isEmpty,
        s"$op: not supported on a column-mapped table — the $writer " +
          "writer derives its layout from column names; use append " +
          "(pruning stats still inherit), or recreate the table " +
          "without a mapping")
      cur
    }

  /** Partition-disciplined append — HIDDEN partitioning (the public
    * Iceberg idea): readers prune through per-file stats in the
    * manifest, never through path parsing. The write routes rows with
    * the hive writer over DUPLICATED partition columns (`__pv_<c>`),
    * which guarantees every data file holds EXACTLY ONE value
    * combination of `partitionBy` — while the REAL columns stay in
    * the data files, so reads (which always open explicit file lists,
    * ignoring directory names) need no partition-column
    * reconstruction, and the per-file min==max stats make
    * [[readWhere]]/[[readWhereEq]] on a partition column prune to
    * exactly the owning files. Later appends may partition
    * differently — pruning stays per-file-true regardless, the
    * renaming-free partition-evolution story hive layouts can't give.
    * One file per partition value per append: size the partition
    * granularity (date/bucket) accordingly, and re-coarsen accreted
    * appends with [[compact]]`(clusterBy = partitionBy)`. */
  def appendPartitioned(df: DataFrame, dir: String,
                        partitionBy: Seq[String],
                        statsCols: Seq[String] = Nil,
                        bloomCols: Seq[String] = Nil,
                        maxRetries: Int = 20): Long =
    partitionedAppend(df, dir, partitionBy, statsCols, bloomCols,
      maxRetries, txn = None).get // non-txn append never no-ops

  /** EXACTLY-ONCE [[appendPartitioned]] — the transactional-ledger
    * twin ([[transactionalAppend]]'s contract) for partitioned
    * layouts: a replayed (appId, txnVersion) is a manifest no-op
    * (None; its data files stay as vacuumable orphans), so a
    * Structured Streaming foreachBatch that routes rows into
    * partition-disciplined files lands each micro-batch exactly once
    * across checkpoint-recovery replays. The shape the streaming ANN
    * index needs: cells as hidden partitions, replays no-ops. */
  def transactionalAppendPartitioned(df: DataFrame, dir: String,
                                     partitionBy: Seq[String],
                                     appId: String, txnVersion: Long,
                                     statsCols: Seq[String] = Nil,
                                     bloomCols: Seq[String] = Nil,
                                     maxRetries: Int = 20): Option[Long] = {
    require(appId.nonEmpty,
      "transactionalAppendPartitioned: appId must be non-empty")
    partitionedAppend(df, dir, partitionBy, statsCols, bloomCols,
      maxRetries, txn = Some(appId -> txnVersion))
  }

  /** The one body of [[appendPartitioned]] (`txn` None) and
    * [[transactionalAppendPartitioned]]. */
  private def partitionedAppend(df: DataFrame, dir: String,
                                partitionBy: Seq[String],
                                statsCols: Seq[String],
                                bloomCols: Seq[String], maxRetries: Int,
                                txn: Option[(String, Long)]
                               ): Option[Long] = {
    val op =
      if (txn.isEmpty) "appendPartitioned" else "transactionalAppendPartitioned"
    require(partitionBy.nonEmpty,
      s"$op: at least one partition column required")
    val spark = df.sparkSession
    if (alreadyCommitted(spark, dir, txn)) return None
    partitionBy.foreach { c =>
      require(df.columns.contains(c), s"$op: no such column $c")
      require(statTag(df.schema(c).dataType).nonEmpty,
        s"$op: column $c (${df.schema(c).dataType.simpleString})" +
          " cannot carry pruning stats")
    }
    layoutPreflight(spark, dir, df, op, "hive-routed")
    val vcs = enforceConstraints(spark, dir, df, op)
    val (sCols, bCols) = inheritTracking(spark, dir, df, statsCols, bloomCols)
    val wb = writeBatch(df, dir, sCols, bCols,
      layout = PartitionedBatch(partitionBy))
    commitAppend(spark, dir, df.schema, wb, maxRetries, op, txn,
      validatedConstraints = vcs)
  }

  /** BUCKETED append — the shuffle-elimination layout (the public
    * Spark bucketing design, committed through the manifest instead
    * of a metastore): rows route to `numBuckets` files by Spark's OWN
    * bucket function (`pmod(hash(cols), n)` — exactly
    * `HashPartitioning.partitionIdExpression`, so the claim is
    * byte-compatible with Spark's bucketed read path), file names
    * carry the bucket id in Spark's parseable `_NNNNN` form, and the
    * manifest records the [[BucketLayout]]. The SQL surfaces
    * ([[SnapshotSql]] views, `format("graft")`) then hand Spark a
    * `BucketSpec`: a join of two tables bucketed the same way on the
    * join key — or a groupBy on the bucket columns — runs with ZERO
    * Exchange, the difference between re-shuffling 100 TB per query
    * and reading co-located files. `sortBy` additionally sorts rows
    * within each bucket file (elides the SortMergeJoin sorts while
    * each bucket holds one file; degrades to a re-sort, never a
    * shuffle, after further appends).
    *
    * Later [[appendBucketed]] calls with the SAME spec preserve the
    * claim (buckets accrete one file per append — reads group them);
    * any other commit clears it (see [[BucketLayout]]). Appending
    * bucketed to a non-empty differently-bucketed (or unbucketed)
    * table is rejected up front. */
  def appendBucketed(df: DataFrame, dir: String, bucketBy: Seq[String],
                     numBuckets: Int, sortBy: Seq[String] = Nil,
                     statsCols: Seq[String] = Nil,
                     bloomCols: Seq[String] = Nil,
                     maxRetries: Int = 20): Long = {
    require(bucketBy.nonEmpty, "appendBucketed: bucket columns required")
    require(numBuckets > 0 && numBuckets <= 100000,
      s"appendBucketed: numBuckets $numBuckets out of range")
    (bucketBy ++ sortBy).foreach { c =>
      require(df.columns.contains(c), s"appendBucketed: no such column $c") }
    val spark = df.sparkSession
    val layout = BucketLayout(numBuckets, bucketBy, sortBy)
    layoutPreflight(spark, dir, df, "appendBucketed", "bucketed").foreach {
      cur =>
        require(cur.files.isEmpty || cur.bucket.contains(layout),
          s"appendBucketed: table under $dir is not bucketed as $layout " +
            s"(found ${cur.bucket.orNull}) — overwrite or compact first")
    }
    val vcs = enforceConstraints(spark, dir, df, "appendBucketed")
    val (sCols, bCols) = inheritTracking(spark, dir, df, statsCols, bloomCols)
    val wb = writeBatch(df, dir, sCols, bCols, layout = BucketedBatch(layout))
    commitAppend(spark, dir, df.schema, wb, maxRetries, "appendBucketed",
      bucket = Some(layout),
      validatedConstraints = vcs).get // non-txn append never no-ops
  }

  /** The bucketed data write of [[BucketedBatch]]: rows route to
    * `layout.numBuckets` files by Spark's bucket id
    * (`pmod(hash(cols), n)` — all rows of a bucket land in ONE task,
    * so the write emits exactly one file per non-empty bucket),
    * written through the hive layout writer and then flattened to
    * `part-*_0000K.<ext>` names at the batch root — the
    * `.*_(\d+)(?:\..*)?$` form BucketingUtils parses the bucket id
    * from on the read side. */
  private def writeBucketedBatch(df: DataFrame, f: TableStore,
                                 batchDir: Path,
                                 layout: BucketLayout): Unit = {
    val bk = pmod(hash(layout.cols.map(col): _*), lit(layout.numBuckets))
    val routed = df.withColumn("__bk", bk)
      .repartition(layout.numBuckets, col("__bk"))
      .sortWithinPartitions(("__bk" +: layout.sortCols).map(col): _*)
    internalWrite(routed, batchDir.toString, Seq("__bk"))
    for (d <- f.list(batchDir) if d.isDirectory &&
         d.getPath.getName.startsWith("__bk=")) {
      val id = d.getPath.getName.stripPrefix("__bk=").toInt
      for (s <- f.list(d.getPath)
           if s.isFile && s.getPath.getName.endsWith(".parquet")) {
        val name = s.getPath.getName
        val dot = name.indexOf('.')
        val renamed = name.substring(0, dot) + f"_$id%05d" +
          name.substring(dot)
        if (!f.rename(s.getPath, new Path(batchDir, renamed)))
          throw new java.io.IOException(
            s"bucketed write: rename failed for ${s.getPath}")
      }
      f.delete(d.getPath, true)
    }
  }

  private def listParquetRec(f: TableStore, p: Path): Seq[FileStatus] =
    f.listFiles(p).filter(_.getPath.getName.endsWith(".parquet"))

  /** The column-mapping state a batch was written under: the head
    * mapping observed at write time (`base*` — commit loops fail
    * loudly if a concurrent rename/drop moved it, because the batch's
    * physical column names were derived from it) and the possibly
    * EXTENDED mapping to commit (new logical columns get fresh
    * physical names here, never resurrecting a retired one). */
  private[sources] final case class MapClaim(
      baseColMap: Map[String, String], baseRetired: Seq[String],
      colMap: Map[String, String], retired: Seq[String])

  /** A physical name for newly-added logical column `logical`: the
    * logical name itself when never used physically, else the first
    * free `<logical>_pN` (the re-add-after-drop / post-swap case —
    * old bytes under the previous physical name must stay dead). */
  private def freshPhys(logical: String, taken: Set[String]): String =
    if (!taken(logical)) logical
    else Iterator.from(1).map(i => s"${logical}_p$i")
      .find(c => !taken(c)).get

  /** How [[writeBatch]] lays a batch's rows out in files. */
  private sealed trait BatchLayout
  /** One plain Spark write of the frame. */
  private case object PlainBatch extends BatchLayout
  /** HIDDEN partitioning ([[appendPartitioned]]): the hive writer
    * routes rows over duplicated `__pv_<c>` columns, so every file
    * holds one value combination of `cols`; `cols` join the stats
    * list, so each file's min == max prunes exactly. */
  private final case class PartitionedBatch(cols: Seq[String])
      extends BatchLayout
  /** One file per non-empty bucket ([[writeBucketedBatch]]). */
  private final case class BucketedBatch(layout: BucketLayout)
      extends BatchLayout

  /** Write `df`'s rows as a new data batch under a fresh unique
    * `data/<uuid>` dir — the one place every writer lands data: write,
    * list the parquet files, record their sizes, summarize them
    * ([[summarizeBatch]]) and write the Bloom sidecar. No two writers
    * can collide on data paths, so data writes need no coordination.
    *
    * `df` carries LOGICAL column names; under an active mapping the
    * files are written with PHYSICAL names (stable across renames),
    * and `statsCols`/`bloomCols` are interpreted as PHYSICAL names
    * (the recorded tracking lists — public entry points translate
    * caller-supplied logical names in [[inheritTracking]]); entries
    * naming a NEW logical column are re-pointed at the fresh physical
    * name chosen here (a re-added column's tracking must key the
    * column it actually lands in). Returns the batch's
    * files/stats/refs/sizes plus the [[MapClaim]] the commit must
    * thread (None when the table has no mapping — the legacy path is
    * byte-identical to before), and the possibly-repointed bloom list.
    *
    * `basis`: the table state `df`'s LOGICAL column names were
    * resolved against. CoW/MoR rewrites MUST pass their base state —
    * their frame was built by reading at base, so a rename landing
    * between the base read and this write would otherwise have the
    * batch written under the NEW mapping while the frame's names are
    * the OLD logical ones (silent wrong physical names → NULLs on
    * every read). With the base as the claim's compare point, the
    * commit loop's [[checkMapClaim]] turns that race into a loud
    * ConcurrentModificationException. Appends (frame authored by the
    * caller against the current table) default to the head.
    *
    * `layout`: [[PlainBatch]] (the default), [[PartitionedBatch]] or
    * [[BucketedBatch]]. The latter two derive their files from column
    * names, so they write `df` as named and claim no mapping: their
    * callers refuse a mapped table up front ([[layoutPreflight]],
    * compact's bucketBy check), and a mapping that lands after that
    * fails the commit's [[checkMapClaim]]. */
  private def writeBatch(df: DataFrame, dir: String,
                         statsCols: Seq[String],
                         bloomCols: Seq[String] = Nil,
                         basis: Option[TableState] = None,
                         layout: BatchLayout = PlainBatch
                        ): WrittenBatch = {
    val spark = df.sparkSession
    val baseSt =
      if (layout != PlainBatch) None
      else basis.orElse(latestVersion(spark, dir).map(stateOf(spark, dir, _)))
    val baseMap = baseSt.map(_.colMap).getOrElse(Map.empty)
    val baseRet = baseSt.map(_.retired).getOrElse(Seq.empty)
    var sCols = statsCols
    var bCols = bloomCols
    val claim =
      if (baseMap.isEmpty && baseRet.isEmpty) None
      else {
        val known = baseSt.fold(Set.empty[String])(_.schema.fieldNames.toSet)
        var taken = known.map(physName(baseMap, _)) ++ baseRet
        var m = baseMap
        df.schema.fieldNames.filterNot(known).foreach { l =>
          val p = freshPhys(l, taken)
          taken += p
          if (p != l) {
            m += l -> p
            // tracking entries that named the new column by its
            // logical name follow it to the fresh physical name
            sCols = sCols.map(c => if (c == l) p else c)
            bCols = bCols.map(c => if (c == l) p else c)
          }
        }
        Some(MapClaim(baseMap, baseRet, m, baseRet))
      }
    val physDf = claim match {
      case None => df
      case Some(c) => df.select(df.columns.map(cn =>
        col(cn).as(physName(c.colMap, cn))).toSeq: _*)
    }
    val f = TableStore(spark, dir)
    val batch = java.util.UUID.randomUUID().toString
    val batchDir = new Path(dir, s"data/$batch")
    labeled(spark, "write-batch:data") {
      layout match {
        case PlainBatch => internalWrite(physDf, batchDir.toString)
        case PartitionedBatch(cols) =>
          internalWrite(
            cols.foldLeft(physDf)((d, c) => d.withColumn(s"__pv_$c", col(c))),
            batchDir.toString, cols.map(c => s"__pv_$c"))
        case BucketedBatch(bl) => writeBucketedBatch(physDf, f, batchDir, bl)
      }
    }
    val listed = listParquetRec(f, batchDir)
    val added = listed.map(s => manifestKey(dir, s.getPath.toString))
    val sizes = added.zip(listed.map(_.getLen)).toMap
    val summaryCols = layout match {
      case PartitionedBatch(cols) => (cols ++ sCols).distinct
      case _ => sCols
    }
    val (stats, blooms) = labeled(spark, "write-batch:summaries") {
      summarizeBatch(spark, dir, batchDir, listed, summaryCols, bCols)
    }
    // Bitsets land in the batch's sidecar file; the manifest only ever
    // carries the path-sized refs.
    val refs = writeBloomSidecar(spark, dir, batch, blooms)
    WrittenBatch(added, stats, refs, sizes, claim, bCols)
  }

  /** [[writeBatch]]'s result: the batch's files/stats/refs/sizes, the
    * column-mapping claim the commit must thread, and the bloom
    * tracking list with new-column entries re-pointed at their fresh
    * physical names (commit sites must record THIS list, not the one
    * they passed in). */
  private final case class WrittenBatch(
      added: Seq[String], stats: Map[String, Map[String, ColStat]],
      refs: Map[String, String], sizes: Map[String, Long],
      claim: Option[MapClaim], bloomCols: Seq[String])

  /** Commit-loop guard for column-mapping races: the batch's physical
    * column names were derived from the mapping observed at write
    * time — a rename/drop landing in between would make the commit
    * record rows under a superseded mapping. Loud and rare (mapping
    * changes are admin ops), exactly like the vanished-file
    * conflict. */
  private def checkMapClaim(st: Option[TableState],
                            claim: Option[MapClaim], op: String): Unit = {
    val curMap = st.map(_.colMap).getOrElse(Map.empty)
    val curRet = st.map(_.retired).getOrElse(Seq.empty)
    val baseMap = claim.map(_.baseColMap).getOrElse(Map.empty)
    val baseRet = claim.map(_.baseRetired).getOrElse(Seq.empty)
    if (curMap != baseMap || curRet != baseRet)
      throw new java.util.ConcurrentModificationException(
        s"$op: the table's column mapping changed while this batch was " +
          "being written (a concurrent renameColumn/dropColumn) — retry " +
          "the operation against the new head")
  }

  /** EXACTLY-ONCE append for replayable writers (the Structured
    * Streaming foreachBatch contract): the manifest carries a
    * per-`appId` high-water transaction version, and a commit whose
    * `txnVersion` is not strictly above the recorded one is a NO-OP
    * (returns None, its data files left as vacuumable orphans). A
    * retried micro-batch therefore lands its rows exactly once no
    * matter how many times the batch replays — the idempotent-sink
    * half of Structured Streaming's end-to-end guarantee, which the
    * plain parquet `mode("append")` sinks in this repo explicitly
    * lack (their contract is at-least-once + downstream dedup).
    * Monotonicity check and commit happen under the same optimistic
    * loop, so two replays racing each other still commit once. */
  def transactionalAppend(df: DataFrame, dir: String, appId: String,
                          txnVersion: Long, statsCols: Seq[String] = Nil,
                          bloomCols: Seq[String] = Nil,
                          maxRetries: Int = 20): Option[Long] = {
    require(appId.nonEmpty, "transactionalAppend: appId must be non-empty")
    val spark = df.sparkSession
    val txn = Some(appId -> txnVersion)
    if (alreadyCommitted(spark, dir, txn)) return None
    val vcs = enforceConstraints(spark, dir, df, "transactionalAppend")
    val (sCols, bCols) = inheritTracking(spark, dir, df, statsCols, bloomCols)
    val wb = writeBatch(df, dir, sCols, bCols)
    commitAppend(spark, dir, df.schema, wb, maxRetries,
      "transactionalAppend", txn, validatedConstraints = vcs)
  }

  /** Initialize an EMPTY table: one v0 manifest recording `schema`
    * and no data files — the SQL `CREATE TABLE (cols)` DDL shape, and
    * the clean way to start a streaming consumer or bind DML before
    * any data lands. Later appends must be compatible with the
    * declared schema (the evolveSchema contract: add-column widening
    * only). Refuses an existing table. */
  def createEmpty(spark: SparkSession, dir: String,
                  schema: StructType): Long = {
    require(schema.nonEmpty, "createEmpty: schema must have columns")
    latestVersion(spark, dir).foreach(v => throw new IllegalStateException(
      s"createEmpty: a snapshot table already exists under $dir (v$v)"))
    if (!tryCommit(spark, dir, 0L, None,
        TableState(schema = schema), "create"))
      throw new java.io.IOException(
        s"createEmpty: lost the v0 commit race under $dir")
    0L
  }

  /** Manifest-only EXACTLY-ONCE ledger advance: record `(appId,
    * txnVersion)` with zero data movement and zero Spark jobs — the
    * cursor-only commit a materialized view's refresh lands when a
    * source commit produced no net row change (compaction, identical
    * rewrite), where a zero-row [[transactionalAppend]] would still
    * pay a full empty write job + file listing. Same ledger
    * discipline: a replayed or raced advance returns None. */
  def advanceTxn(spark: SparkSession, dir: String, appId: String,
                 txnVersion: Long, maxRetries: Int = 20): Option[Long] = {
    require(appId.nonEmpty, "advanceTxn: appId must be non-empty")
    val txn = Some(appId -> txnVersion)
    commitLoop(spark, dir, "advanceTxn", maxRetries) { (_, st) =>
      val cur = st.getOrElse(throw new java.io.IOException(
        s"advanceTxn: no committed version under $dir"))
      if (replayed(cur, txn)) None
      else Some(cur.copy(txns = cur.txns ++ txn))
    }
  }

  // ------------------------------------------------------------------
  // Reads
  // ------------------------------------------------------------------

  /** Read a snapshot: the latest by default, or a pinned `version`
    * (time travel). The scan reads EXACTLY the manifest's files — a
    * concurrent append/compaction/vacuum of later versions is
    * invisible. An uninitialized table is an error (no schema to
    * return). */
  def read(spark: SparkSession, dir: String,
           version: Option[Long] = None): DataFrame = {
    val (_, st) = resolve(spark, dir, version, "read")
    readFilesWithDv(spark, dir, st, st.files)
  }

  /** The manifest-level file-pruning decision for
    * `column BETWEEN lower AND upper` (inclusive): returns (files to
    * open, total files in the snapshot). A file is skipped only when
    * its recorded [min,max] provably misses the bound's domain; files
    * or columns without stats — and bounds that do not canonicalize —
    * are always kept. Exposed separately so specs (and operators) can
    * pin how many files a predicate actually touches. */
  def pruneFiles(spark: SparkSession, dir: String, column: String,
                 lower: Any, upper: Any,
                 version: Option[Long] = None): (Seq[String], Int) =
    pruneFilesBounds(spark, dir, column, Some(lower), Some(upper), version)

  /** [[pruneFiles]] with OPEN sides: None on a side never excludes a
    * file on that side — `column >= v` prunes as (Some(v), None).
    * The shape [[SnapshotSql]]'s one-sided SQL predicates need. */
  def pruneFilesBounds(spark: SparkSession, dir: String, column: String,
                       lower: Option[Any], upper: Option[Any],
                       version: Option[Long] = None): (Seq[String], Int) = {
    val (_, st) = resolve(spark, dir, version, "pruneFiles")
    pruneBounds(st, column, lower, upper)
  }

  /** [[pruneFilesBoundsPhys]] for LOGICAL column `column`: stats are
    * keyed by physical name. */
  private def pruneBounds(st: TableState, column: String,
                          lower: Option[Any], upper: Option[Any]
                         ): (Seq[String], Int) =
    pruneFilesBoundsPhys(st, physName(st.colMap, column), lower, upper)

  /** [[pruneFilesBounds]] with `pc` ALREADY physical — the
    * scan-relation path ([[SnapshotFileIndex]]) pushes filters whose
    * attribute names come from the physical scan schema; translating
    * them again through the logical→physical map would mis-prune
    * swapped-name tables. */
  private[sources] def pruneFilesBoundsPhys(st: TableState, pc: String,
                       lower: Option[Any], upper: Option[Any]
                      ): (Seq[String], Int) = {
    val selected = st.files.filter { file =>
      st.stats.get(file).flatMap(_.get(pc)) match {
        case None => true
        case Some(st) =>
          val okLo = lower.forall { l =>
            (for {
              lo <- canonBound(st.tag, l)
              cMaxLo <- statCompare(st.tag, st.max, lo)
            } yield cMaxLo >= 0).getOrElse(true)
          }
          val okHi = upper.forall { h =>
            (for {
              hi <- canonBound(st.tag, h)
              cMinHi <- statCompare(st.tag, st.min, hi)
            } yield cMinHi <= 0).getOrElse(true)
          }
          okLo && okHi
      }
    }
    (selected, st.files.length)
  }

  /** Range read with manifest-stats file skipping: opens only the
    * files [[pruneFiles]] selects, then applies the exact residual
    * `column BETWEEN lower AND upper` filter (stats skip whole files;
    * the filter — pushed into the parquet scan by Catalyst — decides
    * rows, so the result is identical to filtering a full [[read]]). */
  def readWhere(spark: SparkSession, dir: String, column: String,
                lower: Any, upper: Any,
                version: Option[Long] = None): DataFrame = {
    val (_, st) = resolve(spark, dir, version, "readWhere")
    val (selected, _) = pruneBounds(st, column, Some(lower), Some(upper))
    readFilesWithDv(spark, dir, st, selected)
      .filter(col(column) >= lit(lower) && col(column) <= lit(upper))
  }

  /** Conjunctive multi-predicate read: `AND` of
    * `column BETWEEN lower AND upper` bounds. File pruning is the
    * INTERSECTION of the per-column stats decisions (a file survives
    * only if every predicate's range intersects its stats — exactly
    * how a Z-ordered layout pays off on several columns at once), and
    * the full conjunction applies as the residual row filter. Result
    * identical to filtering a full [[read]]. */
  def readWhereAll(spark: SparkSession, dir: String,
                   bounds: Seq[(String, Any, Any)],
                   version: Option[Long] = None): DataFrame = {
    require(bounds.nonEmpty, "readWhereAll: at least one predicate required")
    val (_, st) = resolve(spark, dir, version, "readWhereAll")
    val selected = bounds
      .map { case (c, lo, hi) =>
        pruneBounds(st, c, Some(lo), Some(hi))._1.toSet }
      .reduce(_ intersect _)
    val residual = bounds
      .map { case (c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi) }
      .reduce(_ && _)
    readFilesWithDv(spark, dir, st, selected.toSeq.sorted).filter(residual)
  }

  /** Bulk key-set file pruning by STATS ENVELOPE — the above-cap
    * sibling of [[pruneFilesForKeys]]: when a key set is too large to
    * collect, its per-column [min, max] envelope (one bounded
    * aggregate on the caller's side, never a driver round-trip of the
    * keys) still prunes files whose recorded stats provably miss the
    * whole set. Columns whose envelope failed to compute (all-NULL
    * keys, non-canonicalizable types) prune nothing for that column —
    * conservative, never wrong: a file outside a column's envelope
    * cannot hold ANY key of the set (stats ignore NULLs, and NULL
    * keys never equi-join anyway). Returns the surviving files. */
  private[graft] def pruneFilesEnvelope(spark: SparkSession, dir: String,
                                        v: Long,
                                        bounds: Seq[(String, Any, Any)]
                                       ): Seq[String] = {
    val st = stateOf(spark, dir, v)
    val sets = bounds.collect { case (c, lo, hi) if lo != null && hi != null =>
      pruneBounds(st, c, Some(lo), Some(hi))._1.toSet
    }
    if (sets.isEmpty) st.files
    else sets.reduce(_ intersect _).toSeq.sorted
  }

  /** Read the files a bulk key set could possibly live in — envelope
    * pruning ([[pruneFilesEnvelope]]) plus the full masked read of
    * the survivors. The caller applies the EXACT key predicate (a
    * semi-join against its key frame); this only guarantees a
    * superset of the matching rows, like every pruning read here. */
  def readWhereKeyEnvelope(spark: SparkSession, dir: String,
                           bounds: Seq[(String, Any, Any)],
                           version: Option[Long] = None): DataFrame = {
    val (v, st) = resolve(spark, dir, version, "readWhereKeyEnvelope")
    readFilesWithDv(spark, dir, st, pruneFilesEnvelope(spark, dir, v, bounds))
  }

  /** Multi-value point lookup — `column IN (values)` with Bloom +
    * stats file skipping: the opened set is the UNION of each value's
    * range+Bloom decision, the residual an `isin`. The probe shape of
    * an inverted-index query: k terms open only the posting files
    * that might hold them, never the table. Sidecars load ONCE across
    * the whole value list (range pruning is an in-memory manifest
    * fold per value; the shared Bloom bitsets then answer every
    * value) — a k-term probe reads each needed sidecar exactly once,
    * not up to k times. A truly large IN-list still belongs in a
    * semi-join. */
  def readWhereEqAny(spark: SparkSession, dir: String, column: String,
                     values: Seq[Any],
                     version: Option[Long] = None,
                     semiJoinThreshold: Int = 256): DataFrame = {
    require(values.nonEmpty, "readWhereEqAny: at least one value required")
    val (_, st) = resolve(spark, dir, version, "readWhereEqAny")
    val pc = physName(st.colMap, column)
    // A WIDE IN-list flips from per-value pruning to a broadcast
    // semi-join: the per-value path costs O(values × files) driver
    // work plus a values-long In literal, both of which stop scaling
    // around a few hundred values. Above the threshold the files
    // prune ONCE against the value set's [min, max] envelope (sharp
    // on range-clustered layouts like the BM25 term shards), the
    // values broadcast as a one-column frame, and the match is a
    // single codegen'd LeftSemi hash join — a 10k-value probe is one
    // join, not 10k probes.
    if (values.length >= semiJoinThreshold) {
      val distinctVals = values.distinct
      implicit val ord: Ordering[Any] =
        (a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b)
      val kept = scala.util.Try(
        (distinctVals.min(ord), distinctVals.max(ord))).toOption match {
        case Some((lo, hi)) =>
          pruneFilesBoundsPhys(st, pc, Some(lo), Some(hi))._1
        case None => st.files // non-comparable values: no envelope
      }
      val rows = readFilesWithDv(spark, dir, st, kept)
      val dt = rows.schema(column).dataType
      // The probe frame is TYPED BY THE VALUES and then cast to the
      // table's column type — createDataFrame against `dt` directly
      // would crash on boxed-type mismatches (Integer values probing
      // a BIGINT column) that the narrow isin() path happily coerces.
      // Decimal values type directly as the COLUMN's decimal (their
      // own precision/scale vary per value); everything else types by
      // Catalyst's own boxed-class mapping (Literal), which must be
      // ONE type across the list — mixed classes fail loudly here
      // instead of deep in a task.
      val valDt: DataType = dt match {
        case _: DecimalType => dt
        case _ =>
          val dts = distinctVals.map(x => scala.util.Try(
            org.apache.spark.sql.catalyst.expressions.Literal(x).dataType)
            .getOrElse(dt)).distinct
          require(dts.length == 1,
            s"readWhereEqAny: IN-list values mix types " +
              s"(${dts.map(_.simpleString).mkString(", ")}) — pass one " +
              "runtime type")
          dts.head
      }
      val probe = spark.createDataFrame(
        java.util.Arrays.asList(distinctVals.map(x =>
          org.apache.spark.sql.Row(x match {
            case bd: scala.math.BigDecimal => bd.bigDecimal
            case other => other
          })): _*),
        StructType(Seq(StructField(column, valDt))))
        .select(col(column).cast(dt).as(column))
      return rows.join(broadcast(probe), Seq(column), "left_semi")
    }
    val ranged: Seq[(Any, Seq[String])] = values.map(x =>
      x -> pruneFilesBoundsPhys(st, pc, Some(x), Some(x))._1)
    val blooms = bloomsOf(spark, dir, st, ranged.iterator.flatMap(_._2).toSet)
    val selected = ranged.flatMap { case (x, files) =>
      files.filter { file =>
        blooms.get(file).flatMap(_.get(pc)) match {
          case None => true
          case Some(bits) => bloomMightContain(bits, x)
        }
      }
    }.distinct.sorted
    readFilesWithDv(spark, dir, st, selected)
      .filter(col(column).isin(values: _*))
  }

  /** Point-lookup file pruning for `column = value`: a file is opened
    * only if BOTH summaries allow it — its min/max range contains the
    * value (when stats exist) AND its Bloom bitset reports
    * might-contain (when a bloom exists). Files with neither summary
    * are always kept. Returns (files to open, total). */
  def pruneFilesEq(spark: SparkSession, dir: String, column: String,
                   value: Any,
                   version: Option[Long] = None): (Seq[String], Int) = {
    val (_, st) = resolve(spark, dir, version, "pruneFilesEq")
    pruneFilesEqPhys(spark, dir, physName(st.colMap, column), value, st)
  }

  /** [[pruneFilesEq]] with `pc` ALREADY physical (see
    * [[pruneFilesBoundsPhys]]). */
  private[sources] def pruneFilesEqPhys(spark: SparkSession, dir: String,
                   pc: String, value: Any,
                   st: TableState): (Seq[String], Int) = {
    val (rangeKept, total) =
      pruneFilesBoundsPhys(st, pc, Some(value), Some(value))
    // Sidecar-lazy probe: load only the sidecars of files that
    // survived range pruning — a point lookup on a well-clustered
    // table reads O(selected files) bloom bytes, not O(table).
    val blooms = bloomsOf(spark, dir, st, rangeKept.toSet)
    val selected = rangeKept.filter { file =>
      blooms.get(file).flatMap(_.get(pc)) match {
        case None => true
        case Some(bits) => bloomMightContain(bits, value)
      }
    }
    (selected, total)
  }

  /** Equality read with manifest Bloom + stats file skipping: opens
    * only the files [[pruneFilesEq]] selects, then applies the exact
    * `column = value` residual — identical result to filtering a full
    * [[read]], at point-lookup cost (the O19 metadata-get shape at
    * table scale). */
  def readWhereEq(spark: SparkSession, dir: String, column: String,
                  value: Any, version: Option[Long] = None): DataFrame = {
    val (_, st) = resolve(spark, dir, version, "readWhereEq")
    val (selected, _) =
      pruneFilesEqPhys(spark, dir, physName(st.colMap, column), value, st)
    readFilesWithDv(spark, dir, st, selected)
      .filter(col(column) === lit(value))
  }

  /** File pruning for a BOUNDED, COLLECTED key set — the touched-file
    * probe of [[applyChanges]] and [[graft.operators.Scd2]]'s
    * open-interval lookup at 100 TB. A file can hold a row whose key
    * columns take values from `keyRows` only if EVERY key column's
    * summaries admit at least one of that column's values:
    *
    *   - stats range: binary search of the column's sorted canonical
    *     value list against the file's recorded [min,max] —
    *     O(files × keyCols × log values) in-memory driver work, sharp
    *     on key-clustered layouts (compact-by-key dimensions, bucketed
    *     tables);
    *   - Bloom (when the file has one for the column):
    *     any-value-might-contain, sidecars loaded once per column
    *     across the candidate set — budgeted, because values × files
    *     bitset probes stop being control-plane work past a few
    *     million.
    *
    * Files or columns without summaries never exclude; values that do
    * not canonicalize never exclude; NULL key values are dropped (an
    * equi-join key of NULL matches no row). Returns a sound SUPERSET
    * of the files holding matching keys — the caller's exact semi-join
    * stays the row-level decision, this only bounds what it scans. */
  def pruneFilesForKeys(spark: SparkSession, dir: String, v: Long,
                        keyCols: Seq[String],
                        keyRows: Seq[org.apache.spark.sql.Row]): Seq[String] = {
    val st = stateOf(spark, dir, v)
    var kept = st.files
    keyCols.zipWithIndex.foreach { case (c, i) =>
      if (kept.nonEmpty) {
        val pc = physName(st.colMap, c)
        val vals = keyRows.iterator.map(_.get(i)).filter(_ != null)
          .toArray.distinct
        if (vals.isEmpty) kept = Nil // all-NULL key column: no match
        else {
          // Sorted canonical values, cached per stats tag (tags are
          // uniform per column in practice; the cache keeps this
          // correct even if a mixed-history manifest disagrees). A
          // canonicalization or compare failure marks the whole tag
          // un-prunable — never a skip.
          val canonCache =
            scala.collection.mutable.Map.empty[String, Option[IndexedSeq[String]]]
          def canonSorted(tag: String): Option[IndexedSeq[String]] =
            canonCache.getOrElseUpdate(tag, {
              val cs = vals.map(canonBound(tag, _))
              if (cs.contains(None)) None
              else scala.util.Try(cs.map(_.get).toIndexedSeq.sortWith((a, b) =>
                statCompare(tag, a, b)
                  .getOrElse(throw new IllegalStateException) < 0)).toOption
            })
          kept = kept.filter { f =>
            st.stats.get(f).flatMap(_.get(pc)) match {
              case None => true
              case Some(cs) => canonSorted(cs.tag) match {
                case None => true
                case Some(sorted) =>
                  // smallest value >= file min, then check <= file max
                  var lo = 0; var hi = sorted.length; var open = false
                  while (lo < hi && !open)
                    statCompare(cs.tag, sorted((lo + hi) >>> 1), cs.min) match {
                      case Some(r) =>
                        if (r < 0) lo = ((lo + hi) >>> 1) + 1
                        else hi = (lo + hi) >>> 1
                      case None => open = true
                    }
                  open || (lo < sorted.length &&
                    statCompare(cs.tag, sorted(lo), cs.max).forall(_ <= 0))
              }
            }
          }
          if (kept.nonEmpty &&
              vals.length.toLong * kept.length <= 4000000L) {
            val blooms = bloomsOf(spark, dir, st, kept.toSet)
            kept = kept.filter { f =>
              blooms.get(f).flatMap(_.get(pc)) match {
                case None => true
                case Some(bits) => vals.exists(bloomMightContain(bits, _))
              }
            }
          }
        }
      }
    }
    kept
  }

  /** Bounded-key-set read: the rows whose key columns equal one of
    * `keyRows` (fields positionally matching `keyCols`), opening only
    * [[pruneFilesForKeys]]' candidate files and deciding membership
    * with ONE broadcast semi-join against the collected key set — the
    * dimension-lookup shape of [[graft.operators.Scd2]] at scale: an
    * incremental maintain's open-interval probe reads O(affected key
    * clusters) files, never the dimension. Result identical to
    * `read(...).join(keyFrame, keyCols, "left_semi")`. */
  def readWhereKeySet(spark: SparkSession, dir: String,
                      keyCols: Seq[String], keyRows: Seq[org.apache.spark.sql.Row],
                      version: Option[Long] = None): DataFrame = {
    require(keyCols.nonEmpty, "readWhereKeySet: at least one key column")
    val (v, st) = resolve(spark, dir, version, "readWhereKeySet")
    val rows = readFilesWithDv(spark, dir, st,
      pruneFilesForKeys(spark, dir, v, keyCols, keyRows))
    val probe = spark.createDataFrame(
      java.util.Arrays.asList(keyRows: _*),
      StructType(keyCols.map(c => rows.schema(c))))
    rows.join(broadcast(probe), keyCols, "left_semi")
  }

  /** Row-level CHANGE FEED between two committed versions — the CDC
    * read side of the format. Because every write is copy-on-write,
    * files carried forward by reference cancel exactly: the diff is
    * confined to files DROPPED from `fromVersion` and files ADDED by
    * `toVersion`, so the cost is bounded by what actually changed,
    * never by table size (at 100 TB, a small MERGE's feed reads a few
    * files, not the table). Within those files the multiset difference
    * (`exceptAll` both ways) yields exact row-level changes: an
    * `_change='insert'` row per added row, `_change='delete'` per
    * removed row — an update surfaces as its delete+insert pair, and
    * rewritten-but-identical rows (the untouched remainder of a
    * touched file) cancel out. Both sides read under `toVersion`'s
    * schema, so feeds spanning a schema evolution NULL-backfill the
    * old side. */
  def changeFeed(spark: SparkSession, dir: String,
                 fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"changeFeed: fromVersion $fromVersion > toVersion $toVersion")
    val fromSt = stateOf(spark, dir, fromVersion)
    val toSt = stateOf(spark, dir, toVersion)
    val fromFiles = fromSt.files
    val toFiles = toSt.files
    val dropped = fromFiles.filterNot(toFiles.toSet)
    val added = toFiles.filterNot(fromFiles.toSet)
    // A merge-on-read delete changes rows WITHOUT changing the file
    // list: carried files whose deletion vector differs between the
    // two versions join both sides — old content under the FROM
    // vector, new under the TO vector — and the multiset difference
    // surfaces exactly the newly-masked rows as deletes.
    val fromSet = fromFiles.toSet
    val dvChanged = toFiles.filter(f =>
      fromSet.contains(f) && fromSt.dvs.get(f) != toSt.dvs.get(f))
    // Both sides resolve under TO-version's schema, column mapping and
    // defaults (physical names are rename-stable, so old files read
    // correctly under it) — a feed spanning a rename surfaces
    // end-state logical names throughout. Each side masks with its
    // own version's vectors.
    val sized = toSt.copy(sizes = fromSt.sizes ++ toSt.sizes)
    def side(files: Seq[String], dvs: Map[String, DeletionVector]): DataFrame =
      readFilesWithDv(spark, dir, sized.copy(dvs = dvs), files)
    val oldFiles = dropped ++ dvChanged
    val newFiles = added ++ dvChanged
    val oldRows = side(oldFiles, fromSt.dvs)
    val newRows = side(newFiles, toSt.dvs)
    // The multiset difference needs its two exceptAll shuffles only
    // when BOTH sides carry rows. A pure append (old side statically
    // empty — the overwhelmingly common commit) is its added rows
    // verbatim, map-only; a pure removal is symmetric.
    if (oldFiles.isEmpty && newFiles.isEmpty)
      newRows.withColumn("_change", lit("insert")).filter(lit(false))
    else if (oldFiles.isEmpty)
      newRows.withColumn("_change", lit("insert"))
    else if (newFiles.isEmpty)
      oldRows.withColumn("_change", lit("delete"))
    else {
      // COMMIT-KIND shortcuts: manifests record each commit's op, and
      // some op kinds bound what a diff can contain — knowledge the
      // generic multiset diff cannot see (guide §8: use what you know
      // that the engine does not).
      //   - compact / compactWhere / binPackSmall REARRANGE live rows
      //     (DV materialization included): a span of only these nets
      //     to NO row change — skip both exceptAll legs and the file
      //     reads entirely. This is what makes a refresh across a
      //     compaction boundary metadata-only.
      //   - a single deleteWhere commit is a pure FILTER of its
      //     touched files: the insert leg is empty by construction,
      //     so only the delete-side exceptAll runs (one shuffle pair
      //     instead of two over the touched bytes).
      // Both shortcuts demand dvChanged empty (true by construction
      // for these ops — they never advance a carried file's vector);
      // guarded anyway so an unforeseen writer degrades to the
      // generic diff, never to a wrong feed.
      val spanOps = walk(spark, dir, fromVersion + 1 to toVersion)
        .map(_.op).toSeq
      val rowPreserving = Set("compact", "compactWhere", "binPackSmall")
      if (dvChanged.isEmpty && spanOps.forall(rowPreserving))
        newRows.withColumn("_change", lit("insert")).filter(lit(false))
      else if (dvChanged.isEmpty && spanOps == Seq("deleteWhere"))
        oldRows.exceptAll(newRows).withColumn("_change", lit("delete"))
      else if (dropped.isEmpty && added.isEmpty &&
          spanOps.forall(_ == "deleteMor") &&
          dvChanged.forall(toSt.dvs.contains)) {
        //   - a span of ONLY merge-on-read deletes: every file carries
        //     forward, so the net change is exactly the rows whose
        //     positions entered the TO-side vectors. Each affected
        //     file's bitmap DIFFERENCE (to ∖ from, on the driver)
        //     selects them in ONE scan of the affected files, instead
        //     of scanning the affected bytes TWICE through two
        //     exceptAll shuffle pairs. The insert leg is empty by
        //     construction (deleteMor only ever adds masked
        //     positions); a vanished vector (impossible for these ops)
        //     falls through to the generic diff below.
        val before = vectorsOf(spark, dir, fromSt, dvChanged)
        val delta = vectorsOf(spark, dir, toSt, dvChanged).map { case (f, b) =>
          f -> before.get(f).fold(b)(RoaringBitmap.andNot(b, _)) }
        readFilesWithDv(spark, dir, sized, dvChanged, onlyDeleted = Some(delta))
          .withColumn("_change", lit("delete"))
      }
      else
        newRows.exceptAll(oldRows)
          .withColumn("_change", lit("insert"))
          .unionByName(oldRows.exceptAll(newRows)
            .withColumn("_change", lit("delete")))
    }
  }

  // ------------------------------------------------------------------
  // Maintenance
  // ------------------------------------------------------------------

  /** Compact the CURRENT snapshot's small files into ~targetBytes
    * files, committed as a new version whose manifest drops the
    * superseded files and adds the rewritten ones. Old versions stay
    * fully readable (their files are untouched until [[vacuum]]).
    * If an append commits concurrently, the commit loop re-bases:
    * files added since the compaction read are carried forward
    * unchanged — only the files actually rewritten are swapped out.
    *
    * `clusterBy` range-repartitions + sorts the rewrite on the given
    * columns, making per-file ranges (near-)disjoint so that
    * [[readWhere]] pruning on those columns becomes effective — the
    * clustering half of the data-skipping story. `zOrderBy` (mutually
    * exclusive; 2-3 NUMERIC columns) instead lays files along a
    * Z-curve: each column linearly min/max-scales to a 16-bit rank
    * (one 1-row aggregate, broadcast into the scan — the scale-true
    * rank proxy; `repartitionByRange` on the z-value then absorbs
    * z-skew by sampling, the RangePartitioner discipline), ranks
    * bit-interleave round-robin, and the rewrite range-partitions on
    * that z-value — every output file covers a small hyper-rectangle,
    * so [[readWhere]] prunes on EVERY z-ordered column at once (the
    * public OPTIMIZE ZORDER idea). `bucketBy`+`numBuckets` (mutually
    * exclusive with both) instead rewrites the table through the
    * BUCKETED writer and asserts the [[BucketLayout]] claim — the
    * in-place conversion of an existing table to the zero-Exchange
    * join layout ([[appendBucketed]]'s contract, without a second
    * copy). File stats are recomputed for the
    * rewritten files over every column the current manifest already
    * tracks (plus the layout columns), so skipping survives
    * compaction. Returns the new version, or None when already
    * compact. */
  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = 128L * 1024 * 1024,
              clusterBy: Seq[String] = Nil,
              zOrderBy: Seq[String] = Nil,
              bucketBy: Seq[String] = Nil,
              numBuckets: Int = 0,
              bucketSortBy: Seq[String] = Nil,
              maxRetries: Int = 20): Option[Long] = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    require(Seq(clusterBy, zOrderBy, bucketBy).count(_.nonEmpty) <= 1,
      "compact: clusterBy, zOrderBy and bucketBy are mutually exclusive")
    require(bucketBy.isEmpty == (numBuckets == 0),
      "compact: bucketBy and numBuckets go together")
    require(bucketBy.nonEmpty || bucketSortBy.isEmpty,
      "compact: bucketSortBy requires bucketBy")
    val base = latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(s"compact: no committed version under $dir"))
    val baseSt = stateOf(spark, dir, base)
    val old = baseSt.files
    if (old.isEmpty) return None
    val totalBytes = old.map(baseSt.sizes).sum
    val nTarget = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    if (old.length <= nTarget && clusterBy.isEmpty && zOrderBy.isEmpty &&
        bucketBy.isEmpty)
      return None
    // Column mapping: layout columns arrive LOGICAL (they drive
    // repartition/sort on the logical frame below); the recorded
    // stats/bloom tracking is PHYSICAL — translate before merging.
    val cm = baseSt.colMap
    require(bucketBy.isEmpty || (cm.isEmpty && baseSt.retired.isEmpty),
      "compact(bucketBy): not supported on a column-mapped table — " +
        "the bucketed writer derives file layout from column names; " +
        "drop the mapping (recreate the table) or skip bucketing")
    val trackedCols =
      (baseSt.stats.values.flatMap(_.keys).toSeq ++
        (clusterBy ++ zOrderBy ++ bucketBy ++ bucketSortBy)
          .map(physName(cm, _))).distinct
    // Deletion vectors applied: the rewrite MATERIALIZES merge-on-read
    // deletes — compaction is also the vector-purge operation.
    val src = readFilesWithDv(spark, dir, baseSt, old)
    val bucketLayout = if (bucketBy.isEmpty) None
      else Some(BucketLayout(numBuckets, bucketBy, bucketSortBy))
    val (laid, layout) = bucketLayout match {
      // BUCKETING compaction — the in-place conversion TO (or re-
      // establishment of) a bucketed layout: the full rewrite routes
      // through the bucketed writer, and the commit (re-)asserts the
      // claim — how an existing 100 TB table earns zero-Exchange
      // joins without a second copy.
      case Some(bl) => (src, BucketedBatch(bl))
      case None =>
        val laid =
          if (zOrderBy.nonEmpty) {
            val z = zValue(src, zOrderBy)
            src.withColumn("__z", z)
              .repartitionByRange(nTarget, col("__z"))
              .sortWithinPartitions("__z")
              .drop("__z")
          }
          else if (clusterBy.isEmpty) src.coalesce(nTarget)
          else src.repartitionByRange(nTarget, clusterBy.map(col): _*)
            .sortWithinPartitions(clusterBy.map(col): _*)
        (laid, PlainBatch)
    }
    // The layout ran on the logical frame; writeBatch renames to
    // PHYSICAL names against the base mapping, which its claim pins.
    val wb = writeBatch(laid, dir, trackedCols, baseSt.bloomCols,
      basis = Some(baseSt), layout = layout)
    commitLoop(spark, dir, "compact", maxRetries) { (_, st) =>
      val cur = st.get
      checkMapClaim(st, wb.claim, "compact")
      // A compacted file rewritten since our read (a CoW delete, update
      // or merge) would have its old rows re-landed by the rewrite, and
      // a deletion vector advanced on one would be silently dropped —
      // both are conflicts, loudly.
      val missing = old.filterNot(cur.files.toSet)
      if (missing.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"compact: compacted files rewritten concurrently: " +
            missing.take(3).mkString(", "))
      val dvMoved = old.filter(f => cur.dvs.get(f) != baseSt.dvs.get(f))
      if (dvMoved.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"compact: deletion vectors advanced concurrently on " +
            s"${dvMoved.take(3).mkString(", ")}")
      // Re-base: keep files that appeared after our read; drop only
      // the ones we actually rewrote. The txn ledger carries forward
      // untouched — compaction commits no writer transaction.
      val next = landed(cur, wb, old.toSet).copy(bloomCols = cur.bloomCols)
      // The bucketing claim only holds when the rewrite IS the whole
      // table — files a concurrent writer landed since our read are
      // carried forward unbucketed, so the claim degrades to None
      // (and any prior claim clears: this rewrite renamed files).
      Some(next.copy(bucket = bucketLayout.filter(_ =>
        next.files.toSet == wb.added.toSet)))
    }
  }

  /** SCOPED compaction — the public `OPTIMIZE … WHERE` shape: rewrite
    * ONLY the files whose recorded `column` stats overlap
    * `[lower, upper]`, bin-packed to `targetBytes`; every file outside
    * the range carries forward untouched by reference. At 100 TB this
    * is the only compaction anyone actually runs — "optimize
    * yesterday's partition" touches yesterday's gigabytes, never the
    * table's history. Files without a recorded stat for `column`
    * conservatively join the candidate set (they MIGHT hold in-range
    * rows — skipping them could leave masked-row or small-file debt
    * invisible to the caller). Deletion vectors on rewritten files
    * materialize and retire; the bucket claim clears (a partial
    * rewrite can't re-assert a whole-table layout). Returns the new
    * version, or None when the scope has nothing to gain (already ≤
    * the packed file count and vector-free). */
  def compactWhere(spark: SparkSession, dir: String, column: String,
                   lower: Any, upper: Any,
                   targetBytes: Long = 128L * 1024 * 1024,
                   maxRetries: Int = 20): Option[Long] = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val base = latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(
        s"compactWhere: no committed version under $dir"))
    val (candidates, _) =
      pruneFiles(spark, dir, column, lower, upper, Some(base))
    compactFiles(spark, dir, base, candidates.sorted, targetBytes,
      "compactWhere", maxRetries)
  }

  /** Small-file bin-packing — the streaming-ingest janitor: rewrite
    * ONLY the files below `smallerThanBytes`, packed to `targetBytes`;
    * every right-sized file carries forward by reference. Micro-batch
    * sinks accrete thousands of kilobyte files per day — this folds
    * them into scan-efficient files for the cost of the small files
    * alone, where a full [[compact]] would re-copy the terabytes that
    * are already well-laid-out. Same DV-materialization and
    * claim-clearing semantics as [[compactWhere]]. */
  def binPackSmall(spark: SparkSession, dir: String,
                   smallerThanBytes: Long,
                   targetBytes: Long = 128L * 1024 * 1024,
                   maxRetries: Int = 20): Option[Long] = {
    require(smallerThanBytes > 0,
      s"smallerThanBytes must be positive, got $smallerThanBytes")
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val base = latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(
        s"binPackSmall: no committed version under $dir"))
    val st = stateOf(spark, dir, base)
    val candidates = st.files.filter(st.sizes(_) < smallerThanBytes).sorted
    compactFiles(spark, dir, base, candidates, targetBytes,
      "binPackSmall", maxRetries)
  }

  /** The shared scoped-rewrite kernel of [[compactWhere]] and
    * [[binPackSmall]]: bin-pack `candidates` (live rows only — their
    * deletion vectors apply and retire) into ceil(bytes/targetBytes)
    * files and commit through [[commitRewrite]], which carries every
    * non-candidate file forward and supplies the full conflict
    * surface (a candidate rewritten or re-vectored concurrently
    * throws). No-op (None) when the candidates are already at or
    * under the packed count with no vectors to materialize. */
  private def compactFiles(spark: SparkSession, dir: String, base: Long,
                           candidates: Seq[String], targetBytes: Long,
                           op: String, maxRetries: Int): Option[Long] = {
    if (candidates.isEmpty) return None
    val st = stateOf(spark, dir, base)
    val totalBytes = candidates.map(st.sizes).sum
    val nTarget =
      math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    if (candidates.length <= nTarget &&
        !candidates.exists(st.dvs.contains))
      return None
    val src = readFilesWithDv(spark, dir, st, candidates).coalesce(nTarget)
    commitRewrite(spark, dir, candidates, src,
      trackedStatsCols(spark, dir, base),
      stateOf(spark, dir, base).bloomCols, maxRetries, op,
      baseDv = st.dvs, basis = Some(st))
  }

  /** The interleaved-bit z-value of `cols` over `src`'s value ranges —
    * composed entirely from built-in bit expressions (shiftleft/
    * shiftright/&/|), so the whole computation stays inside
    * whole-stage codegen; bit i of column j's 16-bit rank lands at
    * output bit `i*k + j`. NULLs rank 0 (sort together at the curve's
    * origin). */
  private def zValue(src: DataFrame, cols: Seq[String]): Column = {
    val k = cols.length
    require(k >= 2 && k <= 3, s"zOrderBy takes 2-3 columns, got $k")
    cols.foreach { c =>
      require(src.schema(c).dataType.isInstanceOf[NumericType],
        s"zOrderBy column $c must be numeric, got " +
          src.schema(c).dataType.simpleString)
    }
    // One 1-row bounds aggregate — control plane, broadcast into the
    // scan as literals.
    val aggCols = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__mn_$c"),
      max(col(c).cast("double")).as(s"__mx_$c")))
    val bRow = src.agg(aggCols.head, aggCols.tail: _*).head()
    def bound(name: String): Double = {
      val v = bRow.getAs[java.lang.Double](name)
      if (v == null) 0.0 else v.doubleValue()
    }
    val ranks = cols.map { c =>
      val mn = bound(s"__mn_$c"); val mx = bound(s"__mx_$c")
      val span = if (mx > mn) mx - mn else 1.0
      coalesce(least(greatest(
        ((col(c).cast("double") - lit(mn)) / lit(span) * 65535.0)
          .cast("long"), lit(0L)), lit(65535L)), lit(0L))
    }
    val terms = for { j <- 0 until k; i <- 0 until 16 } yield
      shiftleft(shiftright(ranks(j), i).bitwiseAND(lit(1L)), i * k + j)
    terms.reduce(_ bitwiseOR _)
  }

  /** ZERO-COPY SHALLOW CLONE — table branching, the public Delta
    * `CLONE`/Iceberg-snapshot idea: the clone's v0 manifest references
    * the source's CURRENT data files by absolute path (no bytes move,
    * any table size clones in one manifest write), with stats, blooms
    * and schema carried over, so pruning works immediately. From then
    * on the clone is a fully independent table: appends land under its
    * own `data/`; copy-on-write DELETE/MERGE on cloned rows rewrite
    * the touched foreign file INTO the clone and drop the reference —
    * the branch diverges without ever mutating the source. Cloning a
    * clone re-uses whatever references the source holds.
    *
    * Lifecycle contract (same as the public shallow-clone designs): a
    * clone pins nothing in the source — [[vacuum]] on the SOURCE can
    * retire files the clone still references once the source's own
    * manifests drop them (after a source compact/delete). Shallow
    * clones are for short-lived branches (experiments, dev, what-if
    * DELETE/MERGE runs); promote to an independent table by
    * [[compact]]-ing the clone, which rewrites every referenced byte
    * into the clone's own `data/`. */
  def shallowClone(spark: SparkSession, srcDir: String,
                   dstDir: String, versionAsOf: Option[Long] = None): Long = {
    // versionAsOf: branch from table HISTORY (the public
    // `CLONE … VERSION AS OF` shape) — an experiment forks from last
    // week's snapshot in one manifest write; the clone's own lifecycle
    // is independent of what the source committed since.
    val v = versionAsOf.getOrElse(latestVersion(spark, srcDir).getOrElse(
      throw new java.io.IOException(
        s"shallowClone: no committed version under $srcDir")))
    require(latestVersion(spark, dstDir).isEmpty,
      s"shallowClone: destination $dstDir already has commits")
    def absolutize(e: String): String =
      if (e.startsWith("data/"))
        new Path(new Path(srcDir), e).toUri.getPath
      else e // clone-of-clone: already absolute
    def absolutizeRef(r: String): String =
      if (r.startsWith("_blooms/") || r.startsWith("_dv/"))
        new Path(new Path(srcDir), r).toUri.getPath
      else r
    val st = stateOf(spark, srcDir, v)
    val files = st.files.map(absolutize)
    val stats = st.stats.map { case (k, cs) => absolutize(k) -> cs }
    // Bloom and deletion-vector SIDECARS reference-carry exactly like
    // data files: the clone's refs point (absolutely) into the
    // source's `_blooms/` / `_dv/` until a compact/rewrite gives the
    // clone its own.
    val refs = st.bloomRefs
      .map { case (k, r) => absolutize(k) -> absolutizeRef(r) }
    val dvs = st.dvs
      .map { case (k, d) => absolutize(k) -> d.copy(ref = absolutizeRef(d.ref)) }
    val sizes = st.sizes.map { case (k, n) => absolutize(k) -> n }
    // defaults' pre-ADD file keys absolutize exactly like the file
    // list — the clone's reads must keep serving the source's
    // initial defaults for its referenced files
    val defaults = st.defaults.map { case (c, (dv, pre)) =>
      c -> (dv, pre.map(absolutize)) }
    // The clone starts its own ledger: no txns and no bucket claim.
    // Its CHECK constraints, properties and mapping come along — the
    // source's rows already satisfy the constraints, and every write
    // to the clone is checked against them.
    if (!tryCommit(spark, dstDir, 0L, None, TableState(files = files,
        stats = stats, schema = st.schema, bloomRefs = refs,
        bloomCols = st.bloomCols, sizes = sizes, dvs = dvs,
        constraints = st.constraints, colMap = st.colMap,
        retired = st.retired, props = st.props, defaults = defaults),
        "clone"))
      throw new java.io.IOException(
        s"shallowClone: destination $dstDir committed concurrently")
    0L
  }

  /** Record a CHECK constraint (the public `ALTER TABLE … ADD
    * CONSTRAINT … CHECK (expr)` shape): `exprSql` must hold — SQL
    * CHECK semantics, violated only when the expression evaluates to
    * FALSE; NULL passes — for every CURRENT row (validated here with
    * one scan) and for every batch any future commit lands (enforced
    * in the write paths BEFORE data lands, so a bad batch costs
    * nothing and corrupts nothing). Constraints are table policy:
    * they inherit through every commit until [[dropConstraint]].
    * At 100 TB this is the difference between quarantining a bad
    * producer at its first batch and discovering a month of NULL keys
    * during a join investigation. Returns the committed version. */
  def addConstraint(spark: SparkSession, dir: String, name: String,
                    exprSql: String, maxRetries: Int = 20): Long = {
    require(name.nonEmpty, "addConstraint: name must be non-empty")
    val base = latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(
        s"addConstraint: no committed version under $dir"))
    // Parse errors AND existing-data violations surface here, before
    // any manifest changes.
    val bad = read(spark, dir, Some(base))
      .filter(not(coalesce(expr(exprSql), lit(true)))).limit(1).collect()
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"addConstraint: existing rows violate $name ($exprSql), e.g. " +
        bad.head.mkString(","))
    commitOnHead(spark, dir, "addConstraint", maxRetries) { cur =>
      require(!cur.constraints.contains(name),
        s"addConstraint: constraint $name already exists " +
          s"(${cur.constraints(name)})")
      cur.copy(constraints = cur.constraints + (name -> exprSql))
    }
  }

  /** Drop a recorded CHECK constraint. Returns the committed
    * version. */
  def dropConstraint(spark: SparkSession, dir: String, name: String,
                     maxRetries: Int = 20): Long = {
    val base = latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(
        s"dropConstraint: no committed version under $dir"))
    require(stateOf(spark, dir, base).constraints.contains(name),
      s"dropConstraint: no such constraint $name")
    commitOnHead(spark, dir, "dropConstraint", maxRetries) { cur =>
      cur.copy(constraints = cur.constraints - name)
    }
  }

  // ------------------------------------------------------------------
  // Table properties (the TBLPROPERTIES surface)
  // ------------------------------------------------------------------

  /** The property key that flips SQL DELETE/UPDATE from copy-on-write
    * to MERGE-ON-READ deletion vectors (the public Delta
    * `delta.enableDeletionVectors` idea): set it `"true"` and the DML
    * surface routes through [[deleteWhereMor]]/[[updateWhereMor]] —
    * write cost ∝ matched rows, [[compact]] materializes later. */
  val EnableDeletionVectorsKey = "graft.enableDeletionVectors"

  /** SET TBLPROPERTIES: merge `kvs` into the table's recorded
    * properties in one metadata commit. Properties are free-form
    * metadata plus documented behavior keys
    * ([[EnableDeletionVectorsKey]]); they never change READ semantics
    * (no reader feature guard), survive restore like constraints do,
    * and clone with the table. Returns the committed version. */
  def setProperties(spark: SparkSession, dir: String,
                    kvs: Map[String, String],
                    maxRetries: Int = 20): Long = {
    require(kvs.nonEmpty, "setProperties: at least one property required")
    commitProps(spark, dir, _ ++ kvs, "setProperties", maxRetries)
  }

  /** UNSET TBLPROPERTIES: drop `keys` (absent keys are fine — the SQL
    * IF EXISTS semantics). Returns the committed version. */
  def unsetProperties(spark: SparkSession, dir: String,
                      keys: Seq[String],
                      maxRetries: Int = 20): Long = {
    require(keys.nonEmpty, "unsetProperties: at least one key required")
    commitProps(spark, dir, _ -- keys, "unsetProperties", maxRetries)
  }

  private def commitProps(spark: SparkSession, dir: String,
                          f: Map[String, String] => Map[String, String],
                          op: String, maxRetries: Int): Long =
    commitOnHead(spark, dir, op, maxRetries) { cur =>
      cur.copy(props = f(cur.props))
    }

  // ------------------------------------------------------------------
  // Column mapping admin ops (metadata-only RENAME / DROP COLUMN)
  // ------------------------------------------------------------------

  /** The first recorded CHECK constraint whose SQL mentions column
    * `c` (word-boundary match — conservative: a false positive
    * refuses a rename/drop loudly, which is always safe). */
  private def constraintReferencing(constraints: Map[String, String],
                                    c: String): Option[(String, String)] = {
    val re = ("""(?i)(?<![A-Za-z0-9_`])""" +
      java.util.regex.Pattern.quote(c) + """(?![A-Za-z0-9_`])""").r
    constraints.toSeq.sortBy(_._1)
      .find { case (_, sql) => re.findFirstIn(sql).isDefined }
  }

  /** METADATA-ONLY column rename — the public Delta column-mapping
    * idea: data files keep their stable PHYSICAL column names; one
    * manifest commit moves the LOGICAL name, so a 100 TB table
    * renames in milliseconds with zero rewrite. Every read surface
    * serves the new name immediately; time travel reads each version
    * under ITS schema; stats/Bloom pruning keep working (their keys
    * are physical). Refused while a CHECK constraint references the
    * column (drop the constraint first — silently rewriting user SQL
    * would be worse). A bucketing claim on the renamed column carries
    * through with its column list renamed (the files' hash layout is
    * value-based, names never entered it). Returns the committed
    * version. */
  def renameColumn(spark: SparkSession, dir: String, from: String,
                   to: String, maxRetries: Int = 20): Long = {
    require(to.nonEmpty, "renameColumn: target name must be non-empty")
    require(from != to, s"renameColumn: $from -> $to is a no-op")
    commitOnHead(spark, dir, "renameColumn", maxRetries) { st =>
      val schema = st.schema
      require(schema.fieldNames.contains(from),
        s"renameColumn: no such column $from " +
          s"(have ${schema.fieldNames.mkString(", ")})")
      require(!schema.fieldNames.contains(to),
        s"renameColumn: column $to already exists")
      constraintReferencing(st.constraints, from).foreach { case (n, sql) =>
        throw new IllegalArgumentException(
          s"renameColumn: CHECK constraint $n ($sql) references $from — " +
            "drop the constraint, rename, then re-add it under the new name")
      }
      val phys = physName(st.colMap, from)
      val newMap0 = st.colMap - from
      val newMap = if (phys == to) newMap0 else newMap0 + (to -> phys)
      val newSchema = StructType(schema.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      val newBucket = st.bucket.map(b => b.copy(
        cols = b.cols.map(c => if (c == from) to else c),
        sortCols = b.sortCols.map(c => if (c == from) to else c)))
      st.copy(schema = newSchema, bucket = newBucket,
        colMap = newMap)
    }
  }

  /** METADATA-ONLY column ADD: one manifest commit appends a NULLABLE
    * column to the logical schema — zero rewrite at any table size;
    * every existing file NULL-backfills on read (the parquet
    * missing-column contract) and later appends may supply values.
    * The column is forced nullable (a non-null column over
    * NULL-backfilled history would lie). Under an active column
    * mapping a logical name that was ever used physically takes a
    * FRESH physical name (the re-add discipline — dropped bytes never
    * resurrect). Returns the committed version. */
  def addColumn(spark: SparkSession, dir: String, column: String,
                dt: DataType, maxRetries: Int = 20,
                default: Option[Any] = None): Long = {
    latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(
        s"addColumn: no committed version under $dir"))
    // DEFAULT <literal>: recorded in the manifest as a canonical
    // string and served (cast to `dt`) for exactly the files present
    // at this ADD — Iceberg's initial-default semantics. Validated by
    // actually casting it before any commit; a default that casts to
    // NULL is meaningless (plain nullable ADD does that for free).
    val defStr = default.map { dv =>
      require(dv != null, "addColumn: default must be a non-null literal")
      val str = dv.toString
      val got = spark.range(1)
        .select(lit(str).cast(dt)).collect()(0)
      require(!got.isNullAt(0),
        s"addColumn: default '$str' does not cast to ${dt.simpleString}")
      str
    }
    commitOnHead(spark, dir, "addColumn", maxRetries) { st =>
      val schema = st.schema
      // case-INsensitive guard: Spark's default resolution would make
      // a case-variant duplicate unreadable (ambiguous column)
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(column)),
        s"addColumn: column $column already exists")
      val newSchema = StructType(schema.fields :+
        StructField(column, dt, nullable = true))
      // mapped tables: route the new logical name through the same
      // fresh-physical discipline as append-evolution
      val colMap =
        if (st.colMap.isEmpty && st.retired.isEmpty) st.colMap
        else {
          val taken = schema.fieldNames
            .map(physName(st.colMap, _)).toSet ++ st.retired
          val p = freshPhys(column, taken)
          if (p != column) st.colMap + (column -> p) else st.colMap
        }
      st.copy(schema = newSchema, colMap = colMap,
        defaults = st.defaults ++
          defStr.map(d => column -> (d, st.files.toSet)))
    }
  }

  /** METADATA-ONLY type widening (`ALTER COLUMN … TYPE`, the public
    * Delta type-widening design): one manifest commit moves the
    * column to a wider type from the [[widens]] lattice; existing
    * data files keep their narrower pages and every read upcasts
    * through the explicit scan schema (Spark's vectorized parquet
    * reader does int32→bigint natively), so a 100 TB table widens
    * with zero rewrite. Appends may keep arriving at EITHER width
    * ([[evolveSchema]] accepts widening-compatible columns; the
    * manifest schema stays wide). Stats and Bloom summaries remain
    * valid by the lattice's construction. Time travel serves each
    * version under its own type. Returns the committed version. */
  def widenColumn(spark: SparkSession, dir: String, column: String,
                  to: DataType, maxRetries: Int = 20): Long =
    commitOnHead(spark, dir, "widenColumn", maxRetries) { st =>
      val schema = st.schema
      val field = schema.fields.find(_.name == column).getOrElse(
        throw new IllegalArgumentException(
          s"widenColumn: no such column $column " +
            s"(have ${schema.fieldNames.mkString(", ")})"))
      require(widens(field.dataType, to),
        s"widenColumn: ${field.dataType.simpleString} -> " +
          s"${to.simpleString} is not a supported widening " +
          "(integral chain byte->short->int->long, float->double, " +
          "decimal precision growth at fixed scale)")
      // A bucket claim HASHES on its columns, and Spark's murmur3
      // hashes an int and the same value as long differently — the
      // claim would silently become false. (sort columns are fine:
      // widening preserves order.)
      require(!st.bucket.exists(_.cols.contains(column)),
        s"widenColumn: $column is a bucket-hash column of the table's " +
          "bucketing claim — hashing is width-sensitive; compact away " +
          "the bucket layout first")
      val newSchema = StructType(schema.fields.map(f =>
        if (f.name == column) f.copy(dataType = to) else f))
      st.copy(schema = newSchema)
    }

  /** METADATA-ONLY column drop: one manifest commit removes the
    * column from the logical schema and RETIRES its physical name —
    * the bytes stay in old files (time travel still serves them at
    * pre-drop versions) but no current read ever touches them, and a
    * later re-add of the same logical name takes a FRESH physical
    * name so the dead values can never resurrect (the Delta
    * drop-column contract). Tracked Bloom columns forget the dropped
    * physical; per-file stats entries for it become dead weight until
    * the next rewrite of each file (harmless — nothing consults
    * them). Refused while a CHECK constraint references the column; a
    * bucketing claim that hashes on it CLEARS (the layout can no
    * longer be asserted over the visible schema). Returns the
    * committed version. */
  def dropColumn(spark: SparkSession, dir: String, column: String,
                 maxRetries: Int = 20): Long =
    commitOnHead(spark, dir, "dropColumn", maxRetries) { st =>
      val schema = st.schema
      require(schema.fieldNames.contains(column),
        s"dropColumn: no such column $column " +
          s"(have ${schema.fieldNames.mkString(", ")})")
      require(schema.fields.length > 1,
        s"dropColumn: $column is the table's only column")
      constraintReferencing(st.constraints, column).foreach {
        case (n, sql) => throw new IllegalArgumentException(
          s"dropColumn: CHECK constraint $n ($sql) references $column — " +
            "drop the constraint first")
      }
      val phys = physName(st.colMap, column)
      val newMap = st.colMap - column
      val newRetired = (st.retired :+ phys).distinct
      val newSchema = StructType(schema.fields.filterNot(_.name == column))
      val newBucket = st.bucket.filterNot(b =>
        b.cols.contains(column) || b.sortCols.contains(column))
      st.copy(schema = newSchema,
        bloomCols = st.bloomCols.filterNot(_ == phys), bucket = newBucket,
        colMap = newMap, retired = newRetired)
    }

  /** Enforce the table's recorded CHECK constraints on a batch (or a
    * rewrite that can introduce new values) BEFORE it lands: one
    * violation-probe action per constraint, each a `LIMIT 1` over the
    * batch — zero cost when the table records none. SQL CHECK
    * semantics: a row violates only when the expression is FALSE
    * (NULL passes); a constraint whose columns the batch doesn't
    * carry resolves against the NULL backfill, i.e. passes (caught as
    * the analysis error it raises on the batch frame). */
  private def enforceConstraints(spark: SparkSession, dir: String,
                                 df: DataFrame,
                                 op: String): Map[String, String] = {
    val cs = latestVersion(spark, dir)
      .map(stateOf(spark, dir, _).constraints).getOrElse(Map.empty)
    enforceConstraintSet(cs, df, op)
    cs // the VALIDATED set — commit loops re-check against it when a
       // concurrent addConstraint rebases them onto a stricter head
  }

  private def enforceConstraintSet(cs: Map[String, String], df: DataFrame,
                                   op: String): Unit =
    cs.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      val bad =
        try df.filter(not(coalesce(expr(sql), lit(true)))).limit(1).collect()
        catch {
          case _: org.apache.spark.sql.AnalysisException =>
            Array.empty[org.apache.spark.sql.Row]
        }
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"$op: CHECK constraint $name ($sql) violated, e.g. row " +
          bad.head.mkString(","))
    }

  /** The commit-loop side of constraint enforcement: when the head
    * this attempt rebases onto records constraints the caller did NOT
    * validate against (a concurrent [[addConstraint]] won the race),
    * re-probe the ALREADY-WRITTEN batch files `added` against exactly
    * the new entries — otherwise the rebase would land rows the
    * table's own policy forbids. `next` is the state the attempt would
    * publish: its constraints are the head's, and it resolves the
    * batch's files (sizes, mapping, schema) for the scan. Returns the
    * now-validated set. Costs nothing on the common no-race path (set
    * equality short-circuit). */
  private[graft] def recheckConstraints(spark: SparkSession, dir: String,
                                        next: TableState,
                                        validated: Map[String, String],
                                        added: Seq[String],
                                        op: String): Map[String, String] = {
    val fresh = next.constraints.filter { case (k, sql) =>
      !validated.get(k).contains(sql) }
    if (fresh.nonEmpty && added.nonEmpty)
      enforceConstraintSet(fresh, readFilesWithDv(spark, dir, next, added), op)
    validated ++ fresh
  }

  /** RESTORE the table to a prior version's contents as a NEW commit
    * (the public `RESTORE TABLE … VERSION AS OF` shape): ONE manifest
    * write reinstating `toVersion`'s complete state — files, stats,
    * Bloom refs, deletion vectors, schema, bucket claim — with zero
    * data movement (at 100 TB an accidental table-wide DELETE undoes
    * in milliseconds, not a rewrite). History is preserved: a restore
    * is itself a versioned, restorable commit, and [[changeFeed]]
    * surfaces it as the exact row-level diff (files dropped since the
    * target re-add; files added since drop).
    *
    * The CURRENT head's transaction ledger carries forward, NOT the
    * target's: a streaming writer's replayed (appId, txnVersion) must
    * stay a manifest no-op after the rollback, or the restore would
    * re-admit every ledgered batch since the target a second time.
    * Corollary (shared with the public RESTORE designs): batches
    * landed after the target — including one committed CONCURRENTLY
    * with this restore (the retry loop re-bases and still reinstates
    * the target file set) — are undone and will NOT re-land on
    * replay; a restore serializes after every commit it observes,
    * and undoing them is exactly its contract.
    * Files the target references that the head no longer does are the
    * only ones [[vacuum]] could have retired — each is
    * existence-checked and a vacuumed-away file fails loudly BEFORE
    * any commit. Returns the new version; None when the head already
    * reads identically to the target (same files, same vectors, same
    * schema/mapping/bucket — metadata-only commits like renameColumn
    * are restorable state too, not no-ops; constraints and properties
    * are NOT compared because they inherit forward from the head
    * rather than rolling back). */
  def restore(spark: SparkSession, dir: String, toVersion: Long,
              maxRetries: Int = 20): Option[Long] = {
    val f = TableStore(spark, dir)
    val target = stateOf(spark, dir, toVersion) // throws once vacuumed
    commitLoop(spark, dir, "restore", maxRetries) { (head, st) =>
      val cur = head.getOrElse(throw new java.io.IOException(
        s"restore: no committed version under $dir"))
      require(toVersion <= cur,
        s"restore: target v$toVersion is beyond the head v$cur")
      val curSt = st.get
      // The no-op check covers exactly the state a restore REINSTATES
      // (files, vectors, schema, mapping, bucket). Constraints/props
      // deliberately inherit FORWARD from the current head (policy
      // survives rollback), so they must not participate here — a
      // head differing from the target only in constraints would
      // otherwise commit a version identical to itself.
      if (curSt.files.toSet == target.files.toSet &&
          curSt.dvs == target.dvs &&
          curSt.schema == target.schema &&
          curSt.colMap == target.colMap &&
          curSt.retired == target.retired &&
          curSt.defaults == target.defaults &&
          curSt.bucket == target.bucket) None
      else {
        val gone = target.files.filterNot(curSt.files.toSet)
          .filterNot { p =>
            f.exists(if (p.startsWith("data/")) new Path(dir, p)
                     else new Path(p))
          }
        if (gone.nonEmpty) throw new java.io.IOException(
          s"restore: v$toVersion data files already vacuumed: " +
            gone.take(3).mkString(", "))
        // The target's state reinstates whole — files, summaries,
        // vectors, schema, bucket claim, and its column mapping and
        // defaults (a restore across a rename/drop rolls the names
        // back too); the head's ledger and policy carry forward.
        Some(target.copy(txns = curSt.txns,
          constraints = curSt.constraints, props = curSt.props))
      }
    }
  }

  /** READ-ONLY [[vacuum]] preview — what the same (keepVersions,
    * minAgeMs) run would retire, without touching anything: (data
    * files eligible for deletion, manifests below the keep window).
    * The dry run every retention change gets pointed at first — at
    * 100 TB a mis-set keepVersions is the difference between "freed
    * some orphans" and "destroyed a month of time travel". */
  def vacuumPreview(spark: SparkSession, dir: String, keepVersions: Int = 2,
                    minAgeMs: Long = 60L * 60 * 1000): (Int, Int) =
    vacuumPlan(spark, dir, keepVersions, minAgeMs)
      .map(pl => (pl.orphans.length, pl.expired.length)).getOrElse((0, 0))

  /** What one vacuum run sees, computed once for [[vacuum]] and
    * [[vacuumPreview]] alike: the kept versions (those on disk in the
    * window), the expired ones below it, the age cutoff, the rest of
    * the `_manifests/` listing, and the orphan data files —
    * unreferenced by every kept manifest and older than the cutoff.
    * None for a table with no committed version. */
  private final case class VacuumPlan(keepFrom: Long, kept: Seq[Long],
                                      expired: Seq[Long], cutoff: Long,
                                      manifestListing: Seq[FileStatus],
                                      orphans: Seq[FileStatus])

  private def vacuumPlan(spark: SparkSession, dir: String,
                         keepVersions: Int, minAgeMs: Long
                        ): Option[VacuumPlan] = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val s = TableStore(spark, dir)
    val listing = s.list(manifestDir(dir))
    val versions = manifestVersions(listing)
    if (versions.isEmpty) return None
    val keepFrom = math.max(0L, versions.last - (keepVersions - 1))
    val (expired, kept) = versions.partition(_ < keepFrom)
    val referenced = kept.flatMap(v => manifestFiles(spark, dir, v)).toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    // Recursive: appendPartitioned nests partition directories under
    // the batch dir, so a two-level listing would silently leak
    // partitioned orphans forever. Only files under OUR data/ are
    // candidates; a shallowClone's foreign absolute references are
    // never touched (they are not under this listing), and our files
    // a clone references ARE still referenced by our own kept
    // manifests — the clone-vs-source-vacuum contract is documented
    // on [[shallowClone]].
    val orphans = s.listFiles(new Path(dir, "data")).filter { st =>
      !referenced.contains(manifestKey(dir, st.getPath.toString)) &&
        st.getModificationTime <= cutoff
    }
    Some(VacuumPlan(keepFrom, kept, expired, cutoff, listing, orphans))
  }

  /** TIME-based retention (the public `VACUUM … RETAIN n HOURS`
    * semantic), translated onto the version-count kernel: every
    * version whose monotonicity-adjusted commit time is at or after
    * `now − retainMs` survives — time travel within the window keeps
    * working, the latest version always survives. Returns the
    * keepVersions equivalent, so callers can preview with
    * [[vacuumPreview]] before [[vacuum]]. */
  def keepVersionsForRetention(spark: SparkSession, dir: String,
                               retainMs: Long): Int = {
    val latest = latestVersion(spark, dir).getOrElse(return 1)
    val cutoff = System.currentTimeMillis() - retainMs
    // keepFrom = the version CURRENT AT the window boundary (the last
    // one committed at-or-before the cutoff): TIMESTAMP AS OF any
    // instant inside the window must keep resolving, including
    // instants before the first in-window commit. All commits inside
    // the window → keep everything.
    val keepFrom = commitTimeline(spark, dir)
      .filter(_._2 <= cutoff).map(_._1).lastOption.getOrElse(0L)
    math.max(1, (latest - keepFrom + 1).toInt)
  }

  /** Retire data files referenced by NO manifest among the latest
    * `keepVersions` (orphans from crashed appends included), and drop
    * the manifests older than that window. Time travel shrinks to the
    * kept window; the latest snapshot is never touched. `minAgeMs`
    * guards the append-in-flight race: a writer that has written data
    * files but not yet committed its manifest looks exactly like a
    * crashed append, so only unreferenced files older than the age
    * floor are deleted — pick it longer than any plausible
    * write-to-commit gap (the Delta retention discipline). Returns
    * the number of data files deleted. */
  def vacuum(spark: SparkSession, dir: String, keepVersions: Int = 2,
             minAgeMs: Long = 60L * 60 * 1000): Int = {
    val plan = vacuumPlan(spark, dir, keepVersions, minAgeMs)
      .getOrElse(return 0)
    import plan.{cutoff, keepFrom}
    val s = TableStore(spark, dir)
    val dataRoot = new Path(dir, "data")
    val deleted = plan.orphans.count(st => s.delete(st.getPath))
    def pruneEmptyDirs(p: Path): Boolean = { // true = now empty+removed
      val children = s.list(p)
      val allGone = children.forall { c =>
        c.isDirectory && pruneEmptyDirs(c.getPath)
      }
      if (allGone && children.nonEmpty || children.isEmpty) {
        if (p != dataRoot) s.delete(p) else false
      } else false
    }
    if (s.exists(dataRoot)) pruneEmptyDirs(dataRoot)
    // Before the pre-window manifests go, the window's OLDEST version
    // must become self-contained: a delta-form manifest at keepFrom
    // would need the very chain being deleted to reconstruct. Rewrite
    // it in full checkpoint form (equivalent state, so any reader sees
    // the same snapshot; janitor-only op per this method's contract).
    if (keepFrom > 0L) {
      val snap = snapshot(spark, dir, keepFrom)
      // A checkpoint is already self-contained (a segmented one's
      // segments are kept by the segment GC below) — only delta-form
      // manifests need the rewrite.
      if (!snap.checkpoint) {
        // The rewrite carries the COMPLETE resolved state (policy and
        // mapping included) and the original op and stamp. The state is
        // its own parent: the segments it resolved through are the ones
        // a segmented rewrite reuses.
        val body = manifestBody(s, dir, snap, Some(snap.state), full = true)
        commitLock.synchronized {
          // Rename OVER the target (POSIX/local rename overwrites in
          // place — no instant at which v<keepFrom> is missing for a
          // concurrent reader, who takes no lock). Filesystems whose
          // rename refuses an existing destination (HDFS-class) swap
          // inside HadoopStore.overwrite — the only remaining
          // (store-imposed) window; a failed swap restores the old
          // manifest, and the expired ones below are not yet deleted.
          s.overwrite(manifestPath(dir, keepFrom), body)
        }
      }
    }
    // Old manifests: anything before the keep window. Cached states
    // below the horizon are dropped too — a vacuumed version must
    // fail loudly, not serve stale file lists whose data is gone.
    plan.expired.foreach(v => s.delete(manifestPath(dir, v)))
    val dirKey = new Path(dir).toUri.getPath
    stateCache.synchronized {
      val it = stateCache.keySet.iterator()
      while (it.hasNext) {
        val (d, v, _, _) = it.next()
        if (d == dirKey && v < keepFrom) it.remove()
      }
    }
    // States of the kept window, read AFTER the checkpoint rewrite:
    // the rewritten keepFrom no longer references its old segments.
    val keptStates = plan.kept.map(stateOf(spark, dir, _))
    // Checkpoint SEGMENTS referenced by no kept manifest are orphans
    // (superseded by later checkpoints' folds, lost commit races,
    // vacuumed versions), and so are the hidden `.<name>.tmp` files a
    // writer killed between its temp write and the publish leaves in
    // `_manifests/`. Age-guarded: a segment written by an in-flight
    // checkpoint that has not CAS'd its manifest yet — or a temp
    // that is still being published — must survive. Segment names are
    // UUID-fresh, so a kept reference can never be confused with an
    // orphan.
    val keptSegs = keptStates.flatMap(_.segments.map(_._1)).toSet
    plan.manifestListing.foreach { st =>
      val nm = st.getPath.getName
      val orphanSeg = nm.startsWith("seg-") && nm.endsWith(".json") &&
        !keptSegs.contains(nm)
      val deadTemp = nm.startsWith(".") && nm.endsWith(".tmp")
      if (st.isFile && (orphanSeg || deadTemp) &&
          st.getModificationTime <= cutoff)
        s.delete(st.getPath)
    }
    // Bloom sidecars referenced by NO kept manifest are orphans too
    // (crashed appends, vacuumed batches). Age-guarded like data
    // files: a written-not-yet-committed sidecar must survive.
    val keptRefs = keptStates.flatMap(_.bloomRefs.values).toSet
    s.list(new Path(dir, "_blooms")).foreach { st =>
      if (st.isFile && !keptRefs.contains(s"_blooms/${st.getPath.getName}") &&
          st.getModificationTime <= cutoff)
        s.delete(st.getPath)
    }
    // Deletion-vector sidecars (one bitmap file per merge-on-read
    // commit under _dv/): same orphan rule — superseded vectors (a
    // later MoR delete replaced the file's ref) and vectors of
    // vacuumed versions GC once no kept manifest references them.
    val keptDvRefs = keptStates.flatMap(_.dvs.values.map(_.ref)).toSet
    s.list(new Path(dir, "_dv")).foreach { st =>
      if (st.isFile && !keptDvRefs.contains(s"_dv/${st.getPath.getName}") &&
          st.getModificationTime <= cutoff)
        s.delete(st.getPath)
    }
    deleted
  }

  // ------------------------------------------------------------------
  // Row-level operations (copy-on-write)
  // ------------------------------------------------------------------

  /** Columns the current manifest tracks stats for — rewrites keep
    * tracking them so data skipping survives row-level ops. */
  private def trackedStatsCols(spark: SparkSession, dir: String,
                               v: Long): Seq[String] =
    stateOf(spark, dir, v).stats.values.flatMap(_.keys).toSeq.distinct

  /** The current snapshot (deletion vectors applied — a row-level op
    * must never see, match, or rewrite a MoR-deleted row) with a
    * `__file` column carrying each row's manifest key and
    * `__row_index` its in-file position. Both are computed at the
    * SCAN (from `_metadata`) because a post-join `input_file_name()`
    * is undefined. */
  private def withFile(spark: SparkSession, dir: String, v: Long,
                       only: Option[Seq[String]] = None): DataFrame = {
    val st = stateOf(spark, dir, v)
    val files = only.getOrElse(st.files)
    val logical = st.schema
    // Under an active column mapping the scan reads PHYSICAL names;
    // the final select below renames to logical, so callers' keys and
    // predicates resolve as users wrote them.
    val base = physicalScan(spark, dir, st, files,
      physSchemaOf(st.colMap, logical), streaming = false,
      sqlSurface = false)
    val cols = base.columns.map(col)
    val scanned = base.select(cols :+
      fileKeyExpr(dir, col("_metadata.file_path")).as("__file") :+
      col("_metadata.row_index").as("__row_index") :+
      col("_metadata.file_path").as("__path"): _*)
    val vectors = vectorsOf(spark, dir, st, files)
    val keyed0 =
      if (vectors.isEmpty) scanned
      else scanned.filter(not(deletedRow(dir, vectors, col("__path"),
        col("__row_index"))))
    // initial DEFAULTS: row-level conditions (delete/update/merge
    // probes) must see the served values, or a predicate on a
    // defaulted column would silently miss every pre-ADD row. __file
    // is in hand here, so the replacement is a per-column when() over
    // the scanned subset's pre-ADD files (bounded by `files`).
    val keyed = st.defaults.foldLeft(keyed0) {
      case (df, (c, (dv, pre))) =>
        val subset = files.filter(pre)
        val dt = logical.fields.find(_.name == c).map(_.dataType)
        if (subset.isEmpty || dt.isEmpty) df
        else {
          val pc = physName(st.colMap, c)
          df.withColumn(pc, when(col("__file").isin(subset: _*),
            lit(dv).cast(dt.get)).otherwise(col(pc)))
        }
    }
    toLogicalFrame(
      keyed.select(cols :+ col("__file") :+ col("__row_index"): _*),
      st.colMap, logical)
  }

  /** The shared tail of every touched/affected-file probe: distinct
    * values of a file-name column, collected. The final aggregation
    * stage is COALESCED TO ONE TASK: map-side partial aggregation has
    * already cut each scan task's output to at most the file count,
    * the result is driver-bounded by contract (it is about to be
    * collected), and with adaptive execution off inside probes the
    * exchange would otherwise run `spark.sql.shuffle.partitions`
    * near-empty reduce tasks on every probe. */
  private def collectFileCol(df: DataFrame, c: String): Seq[String] =
    df.select(c).distinct().coalesce(1)
      .collect().map(_.getString(0)).toSeq

  /** Copy-on-write row DELETE: rewrites ONLY the files that contain a
    * matching row (found via one `input_file_name()` scan), commits a
    * snapshot dropping them and adding their filtered rewrites; every
    * untouched file carries forward by reference. Returns the new
    * version, or None when nothing matched (no commit at all).
    *
    * Concurrency: an append racing the commit re-bases fine; but if a
    * TOUCHED file vanishes from the current manifest (a concurrent
    * compact/delete/merge rewrote it), committing would resurrect its
    * deleted rows — that is a genuine write-write conflict and this
    * throws ConcurrentModificationException, the same surface Delta's
    * conflict checker gives. The touched-file collect is
    * file-count-bounded control plane. */
  def deleteWhere(spark: SparkSession, dir: String, condition: Column,
                  maxRetries: Int = 20): Option[Long] = {
    val base = latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(s"deleteWhere: no committed version under $dir"))
    val baseSt = stateOf(spark, dir, base)
    touchedRows(spark, dir, base, condition, "delete-where").flatMap {
      case (touched, rows) =>
        commitRewrite(spark, dir, touched, rows.filter(not(condition)),
          trackedStatsCols(spark, dir, base), baseSt.bloomCols, maxRetries,
          "deleteWhere", baseDv = baseSt.dvs, basis = Some(baseSt))
    }
  }

  /** The copy-on-write read of [[deleteWhere]] and [[updateWhere]]:
    * the files at `base` holding a row that matches `condition` (one
    * `<tag>:touched-probe` job), sorted, with those files' live rows,
    * logically named. None when the table is empty or nothing
    * matched. */
  private def touchedRows(spark: SparkSession, dir: String, base: Long,
                          condition: Column, tag: String
                         ): Option[(Seq[String], DataFrame)] = {
    val st = stateOf(spark, dir, base)
    if (st.files.isEmpty) return None
    val touched = probe(withFile(spark, dir, base).filter(condition),
        s"$tag:touched-probe") { d =>
      collectFileCol(d, "__file").map(manifestKey(dir, _)).sorted
    }
    if (touched.isEmpty) None
    else Some(touched -> readFilesWithDv(spark, dir, st, touched))
  }

  /** The SET-list guards of [[updateWhere]] and [[updateWhereMor]]: at
    * least one column, no column twice (SQL UPDATE rejects duplicate
    * assignments; a map would silently keep the last), and every
    * column already in the table at `base` (add-column evolution is
    * [[append]]'s job; a typo'd SET column must not silently fork the
    * schema or no-op the update). Returns the table's columns at
    * `base`. */
  private def checkSetColumns(spark: SparkSession, dir: String, base: Long,
                              set: Seq[(String, Column)],
                              op: String): Seq[String] = {
    require(set.nonEmpty, s"$op: at least one SET column required")
    val names = set.map(_._1)
    require(names.distinct.length == names.length,
      s"$op: duplicate SET columns: " +
        s"${names.diff(names.distinct).distinct.mkString(", ")}")
    val fieldNames = stateOf(spark, dir, base).schema.fieldNames.toSeq
    names.foreach { c =>
      require(fieldNames.contains(c),
        s"$op: SET column $c does not exist (columns: " +
          s"${fieldNames.mkString(", ")})")
    }
    fieldNames
  }

  /** Copy-on-write row UPDATE — the remaining corner of the CRUD
    * surface ([[deleteWhere]]/[[merge]]'s sibling, the public
    * `UPDATE t SET c = expr WHERE cond` shape): rewrites ONLY the
    * files containing a matching row; within them, matched rows take
    * the SET expressions (evaluated against the pre-update row, as
    * SQL UPDATE defines) and unmatched rows carry byte-unchanged.
    * SET columns must already exist ([[checkSetColumns]]). Same
    * conflict surface as deleteWhere: a touched file rewritten
    * concurrently throws ConcurrentModificationException.
    * Returns the new version, or None when nothing matched. */
  def updateWhere(spark: SparkSession, dir: String, condition: Column,
                  set: Seq[(String, Column)],
                  maxRetries: Int = 20): Option[Long] = {
    val base = latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(s"updateWhere: no committed version under $dir"))
    checkSetColumns(spark, dir, base, set, "updateWhere")
    val baseSt = stateOf(spark, dir, base)
    touchedRows(spark, dir, base, condition, "update-where").flatMap {
      case (touched, src) =>
        // All SET expressions see the PRE-update row: project them in
        // one select, not a fold of withColumn (which would let later
        // SETs read earlier SETs' outputs — not SQL UPDATE semantics).
        val setMap = set.toMap
        val rewritten = src.select(src.columns.map { c =>
          setMap.get(c) match {
            case Some(v) => when(condition, v).otherwise(col(c)).as(c)
            case None => col(c)
          }
        }: _*)
        val vcs = enforceConstraints(spark, dir, rewritten, "updateWhere")
        commitRewrite(spark, dir, touched, rewritten,
          trackedStatsCols(spark, dir, base), baseSt.bloomCols, maxRetries,
          "updateWhere", baseDv = baseSt.dvs, checkConstraints = Some(vcs),
          basis = Some(baseSt))
    }
  }

  /** MERGE-ON-READ row DELETE — the write-cheap sibling of
    * [[deleteWhere]]: instead of rewriting every file that holds a
    * matching row (CoW — write cost proportional to TOUCHED BYTES),
    * commit a DELETION VECTOR per affected file (the matched rows'
    * in-file positions, a bitmap in one sidecar under `_dv/`) and
    * leave every data byte in place — write cost proportional to
    * DELETED ROWS. Readers mask the scan with a predicate on
    * `_metadata.row_index` ([[readFilesWithDv]]); [[compact]] is the
    * purge: its rewrite materializes the deletes and retires the
    * vectors. The CoW/MoR trade is the public Delta/Iceberg one —
    * MoR wins when deletes are small and frequent (GDPR erasure,
    * streaming retractions) against huge files; CoW wins for bulk
    * deletes that would mask most of a file anyway.
    *
    * Vectors COMPOSE: a second MoR delete ORs its positions into the
    * file's existing vector in a fresh sidecar (the manifest's
    * per-file ref replaces — old sidecars become vacuumable once out
    * of the retention window). Conflicts are loud: a concurrently
    * rewritten file, or a concurrently advanced vector on an
    * affected file, throws ConcurrentModificationException. Returns
    * the committed version; None when nothing matched. */
  def deleteWhereMor(spark: SparkSession, dir: String, condition: Column,
                     maxRetries: Int = 20): Option[Long] = {
    val base = latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(
        s"deleteWhereMor: no committed version under $dir"))
    val baseSt = stateOf(spark, dir, base)
    if (baseSt.files.isEmpty) return None
    // Matches among LIVE rows only (existing vectors applied): a
    // row already masked must not count in the new vector twice.
    val positions = probe(withFile(spark, dir, base).filter(condition),
      "delete-mor:affected-probe")(positionsOf)
    if (positions.isEmpty) None
    else Some(commitVectors(spark, dir, baseSt, positions, "deleteWhereMor",
      "deleteMor", maxRetries))
  }

  /** MERGE-ON-READ row UPDATE — [[updateWhere]]'s write-cheap sibling
    * (the Delta DV-update design): matched rows are MASKED by a
    * deletion vector on their current files while their UPDATED forms
    * (SET expressions over the pre-update row) land as NEW files —
    * one commit, write cost proportional to MATCHED ROWS, not touched
    * bytes. At 100 TB, updating a handful of rows scattered across
    * thousand-file terabytes costs kilobytes of vector plus one small
    * data file, where CoW would rewrite every touched gigabyte.
    * Readers see the update immediately (vectors apply on every read
    * path); [[changeFeed]] surfaces it as exact delete+insert pairs
    * (dv-advanced files re-diff, new files are inserts), so
    * [[MaterializedAgg]] maintenance keeps working; [[compact]]
    * materializes the masks away. Same SET-column guards as
    * [[updateWhere]], same conflict surface as [[deleteWhereMor]]
    * (concurrently rewritten or re-vectored affected files throw).
    * The bucket claim clears (the new files aren't bucket-routed).
    * Returns the committed version; None when nothing matched. */
  def updateWhereMor(spark: SparkSession, dir: String, condition: Column,
                     set: Seq[(String, Column)],
                     maxRetries: Int = 20): Option[Long] = {
    val base = latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(
        s"updateWhereMor: no committed version under $dir"))
    val fieldNames = checkSetColumns(spark, dir, base, set, "updateWhereMor")
    val baseSt = stateOf(spark, dir, base)
    if (baseSt.files.isEmpty) return None
    // Matches among LIVE rows only, carrying their physical
    // positions. PERSISTED: the positions collect, the new-file write
    // and any constraint probes all derive from this frame — uncached,
    // each would re-run the full masked scan, betraying the op's
    // write-cost-∝-matched-rows pitch.
    val matches = withFile(spark, dir, base).filter(condition).persist()
    try {
      val positions = probe(matches, "update-mor:affected-probe")(positionsOf)
      if (positions.isEmpty) return None
      // The updated forms: every row here matched, so the SET columns
      // project unconditionally — all against the PRE-update row.
      val setMap = set.toMap
      val updated = matches.select(fieldNames.map(c =>
        setMap.get(c).map(_.as(c)).getOrElse(col(c))): _*)
      val vcs = enforceConstraints(spark, dir, updated, "updateWhereMor")
      // basis = base state: `updated` carries base-version logical names
      val wb = writeBatch(updated, dir, trackedStatsCols(spark, dir, base),
        baseSt.bloomCols, basis = Some(baseSt))
      Some(commitVectors(spark, dir, baseSt, positions, "updateWhereMor",
        "updateMor", maxRetries, Some((wb, updated.schema, vcs))))
    } finally matches.unpersist(false)
  }

  /** The merge-on-read commit of [[deleteWhereMor]] and
    * [[updateWhereMor]]: write each affected file's cumulative vector
    * (its bitmap at `baseSt` OR its new `positions`) into one
    * `_dv/<uuid>.json` sidecar through [[TableStore]] — no Spark job —
    * then commit the vectors with their cardinalities, and with the
    * update's written batch, its frame schema and validated
    * constraints when `batch` is given. An affected file rewritten or
    * re-vectored since `baseSt` throws ConcurrentModificationException;
    * so does (with a batch) a column mapping that moved. Returns the
    * committed version. */
  private def commitVectors(spark: SparkSession, dir: String,
                            baseSt: TableState,
                            positions: Map[String, RoaringBitmap], op: String,
                            manifestOp: String, maxRetries: Int,
                            batch: Option[(WrittenBatch, StructType,
                              Map[String, String])] = None): Long = {
    val affected = positions.keys.toSeq.sorted
    val prior = vectorsOf(spark, dir, baseSt, affected)
    val vectors = positions.map { case (f, b) =>
      f -> prior.get(f).fold(b)(RoaringBitmap.or(_, b)) }
    val ref = s"_dv/${java.util.UUID.randomUUID()}.json"
    // uniquely named, referenced only by the manifest committed after
    // it — writeNew's no-rename contract applies
    TableStore(spark, dir).writeNew(new Path(dir, ref),
      ManifestCodec.encodeVectors(vectors))
    // the delete commits no batch: nothing added, no mapping claimed
    val wb = batch.fold(WrittenBatch(Nil, Map.empty, Map.empty, Map.empty,
      None, Nil))(_._1)
    var validated = batch.fold(Map.empty[String, String])(_._3)
    commitLoop(spark, dir, op, maxRetries, Some(manifestOp)) { (_, st) =>
      val curSt = st.get
      if (batch.nonEmpty) checkMapClaim(st, wb.claim, op)
      val missing = affected.filterNot(curSt.files.toSet)
      if (missing.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"$op: affected files rewritten concurrently: " +
            missing.take(3).mkString(", "))
      val dvMoved = affected.filter(f =>
        curSt.dvs.get(f) != baseSt.dvs.get(f))
      if (dvMoved.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"$op: deletion vectors advanced concurrently on " +
            s"${dvMoved.take(3).mkString(", ")}")
      val nextSchema = batch.fold(curSt.schema) { case (_, schema, _) =>
        evolveSchema(curSt.schema, schema)
      }
      // A delete lands no file, so the bucket claim still holds; an
      // update's new files are not bucket-routed, so it clears.
      val next = landed(curSt, wb).copy(schema = nextSchema,
        dvs = curSt.dvs ++ vectors.map { case (f, b) =>
          f -> DeletionVector(ref, b.getLongCardinality) },
        bucket = curSt.bucket.filter(_ => batch.isEmpty))
      if (batch.nonEmpty)
        validated = recheckConstraints(spark, dir, next, validated,
          wb.added, op)
      Some(next)
    }.get
  }

  /** Copy-on-write MERGE (upsert): for key-matched rows the source row
    * replaces the target row; unmatched source rows are inserted.
    * Only files containing a matched key are rewritten (matched via a
    * key semi-join against one `input_file_name()` scan — at 100 TB
    * this is what makes a small CDC batch cheap: the untouched bulk of
    * the table is never read past its stats, let alone rewritten).
    * `source` must be key-unique (the classic MERGE precondition —
    * enforced, failing loudly on duplicate keys) and schema-compatible
    * (union by name). Returns the committed version. */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
            keys: Seq[String], maxRetries: Int = 20): Long =
    mergeImpl(spark, dir, source, keys, None, maxRetries).getOrElse(
      throw new IllegalStateException("merge: rewrite commit returned no version"))

  /** EXACTLY-ONCE MERGE for replayable writers — [[merge]] under the
    * same per-appId transaction ledger as [[transactionalAppend]]: a
    * replayed (appId, txnVersion) is a manifest no-op (None, data
    * files left as vacuumable orphans), so a Structured Streaming
    * foreachBatch CDC apply lands each micro-batch's upsert exactly
    * once across checkpoint-recovery replays
    * ([[graft.streaming.SnapshotSink.startMerge]] is the sink twin).
    * Batches must be applied in batch-id order per app — which the
    * ledger's monotonicity enforces for free. */
  def transactionalMerge(spark: SparkSession, dir: String,
                         source: DataFrame, keys: Seq[String],
                         appId: String, txnVersion: Long,
                         maxRetries: Int = 20): Option[Long] = {
    require(appId.nonEmpty, "transactionalMerge: appId must be non-empty")
    val pre = latestVersion(spark, dir)
      .map(stateOf(spark, dir, _).txns).getOrElse(Map.empty)
    if (pre.getOrElse(appId, Long.MinValue) >= txnVersion) return None
    mergeImpl(spark, dir, source, keys, Some(appId -> txnVersion), maxRetries)
  }

  private def mergeImpl(spark: SparkSession, dir: String, source: DataFrame,
                        keys: Seq[String], txn: Option[(String, Long)],
                        maxRetries: Int): Option[Long] = {
    require(keys.nonEmpty, "merge: at least one key column required")
    // An uninitialized table is a valid merge target: everything
    // inserts (what a streaming CDC apply's FIRST micro-batch needs).
    val base = latestVersion(spark, dir)
    // Only SOURCE rows introduce new values — carried rows were
    // validated when they landed.
    val vcs = enforceConstraints(spark, dir, source, "merge")
    val dupKeys = source.groupBy(keys.map(col): _*)
      .count().filter(col("count") > 1).limit(1).collect()
    require(dupKeys.isEmpty,
      s"merge: source has duplicate keys, e.g. ${dupKeys.head.mkString(",")}")
    val srcKeys = source.select(keys.map(col): _*).distinct()
    val touched = base match {
      case Some(v) if manifestFiles(spark, dir, v).nonEmpty =>
        collectFileCol(withFile(spark, dir, v)
          .join(srcKeys, keys, "left_semi"), "__file")
          .map(manifestKey(dir, _)).sorted
      case _ => Seq.empty[String]
    }
    val baseSt = base.map(stateOf(spark, dir, _))
    val baseDv = baseSt.map(_.dvs).getOrElse(Map.empty)
    val rewrite =
      if (touched.isEmpty) source
      else readFilesWithDv(spark, dir, baseSt.get, touched)
        .join(srcKeys, keys, "left_anti")
        .unionByName(source)
    commitRewrite(spark, dir, touched, rewrite,
      base.map(trackedStatsCols(spark, dir, _)).getOrElse(Nil),
      base.map(stateOf(spark, dir, _).bloomCols).getOrElse(Nil),
      maxRetries, "merge", txn,
      keyConflict = Some((
        base.map(manifestFiles(spark, dir, _)).getOrElse(Nil).toSet,
        keys, srcKeys)),
      baseDv = baseDv, checkConstraints = Some(vcs),
      basis = baseSt)
  }

  /** One action of a generalized [[mergeInto]] clause. Expression
    * payloads are Columns (`expr("t.qty + s.d")` from SQL text),
    * resolved by Spark's analyzer against the joined target/source
    * frame — qualify column references with the aliases passed to
    * [[mergeInto]] where both sides share a name. */
  sealed trait MergeAction
  object MergeAction {
    /** `UPDATE SET col = expr, …` — unassigned target columns keep
      * their value. */
    final case class Update(assigns: Seq[(String, Column)]) extends MergeAction
    /** `UPDATE SET *` — every target column the source also has takes
      * the source value; the rest keep theirs. */
    case object UpdateAll extends MergeAction
    /** Remove the target row. */
    case object Delete extends MergeAction
    /** `INSERT (cols) VALUES (exprs)` — unassigned target columns
      * land NULL. */
    final case class Insert(assigns: Seq[(String, Column)]) extends MergeAction
    /** `INSERT *` — by name; target columns the source lacks land
      * NULL. */
    case object InsertAll extends MergeAction
  }

  /** `WHEN … [AND condition] THEN action`. `condition` is a Column
    * over the joined frame (aliases in scope); None = unconditional —
    * allowed only on a group's LAST clause (an earlier unconditional
    * clause would shadow the rest). */
  final case class MergeClause(condition: Option[Column],
                               action: MergeAction)

  /** Generalized copy-on-write MERGE — the full public MERGE grammar
    * over equi-key matching (the key-upsert contract [[merge]]
    * established, extended to arbitrary clause logic):
    *
    *   - `matched` clauses apply, first-match-wins, to target rows a
    *     source row key-matches: conditional `UPDATE SET col = expr`,
    *     `UPDATE SET *`, or `DELETE`.
    *   - `notMatched` clauses apply to source rows matching no target
    *     row: conditional `INSERT (cols) VALUES (exprs)` / `INSERT *`.
    *   - `notMatchedBySource` clauses apply to target rows no source
    *     row matches: conditional `UPDATE SET …` / `DELETE`. Their
    *     conditions may reference the TARGET side only.
    *
    * Scale shape: only files that can change are rewritten — files
    * holding a source key (one semi-join against a single
    * `input_file_name()` scan), plus, when `notMatchedBySource`
    * clauses exist, files holding an unmatched row that satisfies ANY
    * by-source condition (one anti-join scan with the disjunction
    * pushed down, so stats-pruning bounds it). The untouched bulk of
    * a 100 TB table is never read past its stats. The decision logic
    * itself is ONE full-outer join of the touched rows with the
    * source, compiled to a single when-chain select — no per-clause
    * passes.
    *
    * Source must be key-unique (the classic MERGE cardinality
    * precondition — enforced, failing loudly). Computed values cast
    * to the target column types under the session's
    * `spark.sql.storeAssignmentPolicy` (ANSI default: overflow or
    * malformed values fail the merge loudly; STRICT refuses unsafe
    * casts at COMMAND time — the when-chains' types resolve against
    * the join schema before anything is written). The output schema is
    * exactly the target schema — the whole-row [[merge]] remains the
    * add-column-evolution path. Commit-time conflict checks match
    * [[merge]]: touched files rewritten or deletion-vector-advanced
    * concurrently, and concurrently-added files holding source keys,
    * fail with ConcurrentModificationException. An INSERT-ONLY merge
    * additionally reads (never rewrites) the files holding its source
    * keys to suppress inserts of present keys; those holder files are
    * conflict-GUARDED like touched files (a concurrent DELETE or DV
    * advance on one invalidates the suppression decision and fails the
    * commit loudly instead of letting the suppression silently stand).
    * Returns the committed version; None when nothing could change. */
  def mergeInto(spark: SparkSession, dir: String, source: DataFrame,
                keys: Seq[String],
                matched: Seq[MergeClause] = Nil,
                notMatched: Seq[MergeClause] = Nil,
                notMatchedBySource: Seq[MergeClause] = Nil,
                targetAlias: String = "t", sourceAlias: String = "s",
                maxRetries: Int = 20,
                sourceKeys: Seq[String] = Nil): Option[Long] = {
    import MergeAction._
    require(keys.nonEmpty, "mergeInto: at least one key column required")
    // ON may pair DIFFERENTLY-NAMED columns (t.id = s.src_id):
    // `sourceKeys` gives the source-side names positionally; empty =
    // same names. All internal key probes use the TARGET names (the
    // source key frame renames up front); UPDATE SET * / INSERT *
    // route a target key column to its PAIRED source column.
    val sKeys = if (sourceKeys.isEmpty) keys else sourceKeys
    require(sKeys.length == keys.length,
      "mergeInto: sourceKeys must pair keys positionally")
    sKeys.foreach(sk => require(source.columns.contains(sk),
      s"mergeInto: source key column $sk is not in the source"))
    val keyPair: Map[String, String] =
      keys.zip(sKeys).filter(p => p._1 != p._2).toMap
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "mergeInto: no clauses")
    require(targetAlias != sourceAlias,
      s"mergeInto: target and source aliases must differ ($targetAlias)")
    def checkGroup(g: String, cs: Seq[MergeClause],
                   ok: MergeAction => Boolean): Unit =
      cs.zipWithIndex.foreach { case (c, i) =>
        require(ok(c.action), s"mergeInto: $g cannot ${c.action}")
        require(c.condition.nonEmpty || i == cs.size - 1,
          s"mergeInto: only the last $g clause may omit its condition " +
            "(an earlier unconditional clause would shadow the rest)")
      }
    checkGroup("WHEN MATCHED", matched,
      a => a.isInstanceOf[Update] || a == UpdateAll || a == Delete)
    checkGroup("WHEN NOT MATCHED", notMatched,
      a => a.isInstanceOf[Insert] || a == InsertAll)
    checkGroup("WHEN NOT MATCHED BY SOURCE", notMatchedBySource,
      a => a.isInstanceOf[Update] || a == Delete)
    val base = latestVersion(spark, dir).getOrElse(throw
      new java.io.IOException(s"mergeInto: no committed version under " +
        s"$dir — initialize the table first (the whole-row merge " +
        "accepts an empty target)"))
    val st = stateOf(spark, dir, base)
    val schema = st.schema
    val fieldNames = schema.fieldNames.toSet
    keys.foreach(k => require(fieldNames.contains(k),
      s"mergeInto: key column $k is not in the target schema"))
    (matched ++ notMatchedBySource).foreach(_.action match {
      case Update(as) =>
        val names = as.map(_._1)
        require(names.distinct == names,
          s"mergeInto: duplicate SET targets: ${names.mkString(", ")}")
        names.foreach(n => require(fieldNames.contains(n),
          s"mergeInto: SET target $n is not a target column"))
      case _ => ()
    })
    notMatched.foreach(_.action match {
      case Insert(as) =>
        val names = as.map(_._1)
        require(names.distinct == names,
          s"mergeInto: duplicate INSERT columns: ${names.mkString(", ")}")
        names.foreach(n => require(fieldNames.contains(n),
          s"mergeInto: INSERT column $n is not a target column"))
      case _ => ()
    })
    val TM = "__graft_t_present"; val SM = "__graft_s_present"
    val RW = "__graft_rewrite"
    require(!source.columns.contains(TM) && !source.columns.contains(SM) &&
      !source.columns.contains(RW) && !fieldNames.contains(TM) &&
      !fieldNames.contains(SM) && !fieldNames.contains(RW),
      s"mergeInto: reserved marker column name in use ($TM/$SM/$RW)")
    // ONE probe: cardinality (max rows per key) + source emptiness.
    // NULL-keyed source rows are EXCLUDED from the duplicate check —
    // a NULL key can never equi-match a target row (SQL/Delta MERGE
    // semantics), so each such row is an independent WHEN NOT MATCHED
    // insert, not a multi-match hazard. They still count toward
    // emptiness (an all-NULL-key source must still run its inserts).
    val keysNonNull = sKeys.map(col(_).isNotNull).reduce(_ && _)
    val probe = source.groupBy(sKeys.map(col): _*)
      .agg(count(lit(1)).as("__graft_n"))
      .agg(coalesce(max(when(keysNonNull, col("__graft_n"))), lit(0L)),
        count(lit(1))).collect()(0)
    if (probe.getLong(0) > 1) {
      val dup = source.filter(keysNonNull).groupBy(sKeys.map(col): _*)
        .count().filter(col("count") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"mergeInto: source has duplicate keys, e.g. ${dup.head.mkString(",")}")
    }
    val srcHasRows = probe.getLong(1) > 0
    // renamed to the TARGET key names: every file/conflict probe joins
    // on them
    val srcKeys = source.select(sKeys.zip(keys).map { case (sk, k) =>
      col(sk).as(k) }: _*).distinct()
    // Touched files: exactly the files that can CHANGE. Files holding
    // a source key must be REWRITTEN only when a matched clause exists
    // — an insert-only merge (WHEN NOT MATCHED alone, the classic
    // insert-if-absent) needs those files READ (to suppress inserts of
    // present keys) but never rewritten: they join into the decision
    // with a rewrite=false flag and their rows are excluded from the
    // output (the files carry forward by reference, and they stay out
    // of the commit's conflict set).
    val hasFiles = st.files.nonEmpty
    val keyFiles =
      if (!hasFiles || !srcHasRows || (matched.isEmpty && notMatched.isEmpty))
        Seq.empty[String]
      else collectFileCol(withFile(spark, dir, base)
        .join(srcKeys, keys, "left_semi"), "__file")
        .map(manifestKey(dir, _))
    val touchedMatch = if (matched.isEmpty) Seq.empty[String] else keyFiles
    val touchedBySrc =
      if (!hasFiles || notMatchedBySource.isEmpty) Seq.empty[String]
      else {
        val anyCond = notMatchedBySource
          .map(_.condition.getOrElse(lit(true))).reduce(_ || _)
        collectFileCol(withFile(spark, dir, base).alias(targetAlias)
          .join(srcKeys, keys, "left_anti").filter(anyCond), "__file")
          .map(manifestKey(dir, _))
      }
    val touched = (touchedMatch ++ touchedBySrc).distinct.sorted
    if (touched.isEmpty && (notMatched.isEmpty || !srcHasRows)) return None
    // read-only side: key-holding files NOT being rewritten
    val holderOnly = keyFiles.filterNot(touched.toSet)
    // The decision join: (touched ∪ holder) target rows FULL OUTER
    // source on the keys (null keys never match — SQL `=`), markers
    // disambiguating presence from null-valued rows, the rewrite flag
    // separating output rows from read-only suppression rows.
    val tParts = Seq(touched -> true, holderOnly -> false)
      .filter(_._1.nonEmpty)
      .map { case (files, rw) =>
        readFilesWithDv(spark, dir, st, files).withColumn(RW, lit(rw))
      }
    val tFrame =
      (if (tParts.isEmpty)
         spark.createDataFrame(
           spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
           .withColumn(RW, lit(true))
       else tParts.reduce(_ unionByName _))
        .withColumn(TM, lit(true)).alias(targetAlias)
    val sFrame = source.withColumn(SM, lit(true)).alias(sourceAlias)
    val joinCond = keys.zip(sKeys).map { case (k, sk) =>
      col(s"$targetAlias.`$k`") === col(s"$sourceAlias.`$sk`") }
      .reduce(_ && _)
    val joined = tFrame.join(sFrame, joinCond, "full_outer")
    val isM = col(TM).isNotNull && col(SM).isNotNull
    val tOnly = col(TM).isNotNull && col(SM).isNull
    val sOnly = col(TM).isNull && col(SM).isNotNull
    def branchPred(b: Column, c: MergeClause): Column =
      c.condition.map(t => b && coalesce(t, lit(false))).getOrElse(b)
    val branches: Seq[(Column, MergeAction)] =
      matched.map(c => (branchPred(isM, c), c.action)) ++
      notMatchedBySource.map(c => (branchPred(tOnly, c), c.action)) ++
      notMatched.map(c => (branchPred(sOnly, c), c.action))
    val srcCols = source.columns.toSet
    def tc(c: String) = col(s"$targetAlias.`$c`")
    def scl(c: String) = col(s"$sourceAlias.`$c`")
    def valueOf(a: MergeAction, c: String): Column = a match {
      case Update(as) => as.toMap.getOrElse(c, tc(c))
      case UpdateAll =>
        if (srcCols.contains(c)) scl(c)
        else keyPair.get(c).map(scl).getOrElse(tc(c))
      case Delete => tc(c) // row dropped; branch must still consume
      case Insert(as) => as.toMap.getOrElse(c, lit(null))
      case InsertAll =>
        if (srcCols.contains(c)) scl(c)
        else keyPair.get(c).map(scl).getOrElse(lit(null))
    }
    def chain(value: MergeAction => Column, default: Column): Column =
      branches.tail.foldLeft(
        when(branches.head._1, value(branches.head._2))) {
        case (acc, (p, a)) => acc.when(p, value(a))
      }.otherwise(default)
    val KEEP = "__graft_keep"; val NEW = "__graft_new"
    // STRICT storeAssignmentPolicy is a COMMAND-TIME check here, not
    // an ANSI-runtime fallback: the when-chains' types ARE known once
    // resolved against the joined schema — one driver-side analysis
    // of all chains at once (no job) yields each output column's
    // resolved source type, which storeCast then refuses to down-cast
    // before any data is written.
    val chainCols = schema.fields.map(f =>
      chain(valueOf(_, f.name), tc(f.name)).as(f.name))
    val fromTypes: Map[String, DataType] =
      if (spark.conf.get("spark.sql.storeAssignmentPolicy", "ANSI")
          .equalsIgnoreCase("STRICT"))
        joined.select(chainCols.toIndexedSeq: _*).schema.fields
          .map(f => f.name -> f.dataType).toMap
      else Map.empty
    val valueCols = schema.fields.zip(chainCols).map { case (f, cc) =>
      GraftSqlCommands.storeCast(spark, cc, f.dataType,
        fromTypes.get(f.name)).as(f.name)
    }
    // keep: REWRITABLE target rows default-keep (read-only holder rows
    // drop — their files carry forward untouched), unmatched source
    // rows default-drop; new: rows whose values this merge introduced
    // (constraint validation scope).
    val keepCol = chain(a => lit(a != Delete),
      col(TM).isNotNull && coalesce(col(RW), lit(false))).as(KEEP)
    val newCol = chain(a => lit(a != Delete), lit(false)).as(NEW)
    val resultAll = joined.select(valueCols :+ keepCol :+ newCol: _*)
    val introduced = resultAll.filter(col(KEEP) && col(NEW))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val vcs = enforceConstraints(spark, dir, introduced, "mergeInto")
    val rewrite = resultAll.filter(col(KEEP))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    commitRewrite(spark, dir, touched, rewrite,
      trackedStatsCols(spark, dir, base),
      stateOf(spark, dir, base).bloomCols,
      maxRetries, "mergeInto", None,
      keyConflict = Some((st.files.toSet, keys, srcKeys)),
      baseDv = st.dvs, checkConstraints = Some(vcs),
      basis = Some(st), readOnly = holderOnly)
  }

  /** Apply a CDC batch — rows tagged by a `_change` column with
    * 'insert' / 'delete' (exactly [[changeFeed]]'s shape) — in ONE
    * copy-on-write commit: inserts upsert by key, deletes whose key
    * has no accompanying insert remove the row (an update's
    * delete+insert pair collapses to its upsert). Because removal,
    * upsert, and the optional transaction-ledger advance land in a
    * single manifest commit, a replayed apply is all-or-nothing —
    * the primitive [[replicate]] builds exactly-once replication on.
    * Insert rows must be key-unique per batch (enforced). Only files
    * containing an affected key are rewritten. Returns the committed
    * version; None when the batch is empty or a racing replay already
    * applied this (appId, txnVersion). */
  def applyChanges(spark: SparkSession, dir: String, changes: DataFrame,
                   keys: Seq[String], txn: Option[(String, Long)] = None,
                   maxRetries: Int = 20,
                   preValidated: Boolean = false,
                   pruneKeyLimit: Int = 65536): Option[Long] = {
    require(keys.nonEmpty, "applyChanges: at least one key column required")
    require(changes.columns.contains("_change"),
      "applyChanges: changes must carry a _change column (insert|delete)")
    // Ledger pre-check FIRST: a replayed batch must be a no-op without
    // even scanning the change frame.
    txn.foreach { case (appId, tv) =>
      val pre = latestVersion(spark, dir)
        .map(stateOf(spark, dir, _).txns).getOrElse(Map.empty)
      if (pre.getOrElse(appId, Long.MinValue) >= tv) return None
    }
    val inserts = changes.filter(col("_change") === "insert").drop("_change")
    // The affected key set — every key any change row names. (The
    // insert∪(delete∖insert) formulation this replaces is the same
    // SET, built with two extra shuffles — an anti-join and a union —
    // that a single distinct never pays.)
    val affectedKeysFull = changes.select(keys.map(col): _*).distinct()
    // FUSED probe + key collect: ONE bounded action over the change
    // frame yields (a) the affected key set for file pruning, (b) the
    // per-key validation aggregates — bad-tag count, insert
    // multiplicity — and (c) emptiness. Up to pruneKeyLimit the
    // per-key rows ARE control-plane data, so collecting them with
    // the validation columns attached replaces what used to be two
    // separate actions (a global validation aggregate + a distinct
    // key collect), each of which re-ran the caller's whole change
    // plan. Past the cap (bulk applies) the key set is no longer
    // collectable and validation falls back to the global aggregate.
    // The tag guard must be NULL-safe: `!isin(...)` evaluates to NULL
    // for a NULL tag — a mistyped or NULL tag silently vanishing from
    // the apply would be a data-loss bug, not a skip. Example rows
    // for error messages are fetched only on the (rare) failure path.
    // `preValidated` spares internal callers the validation half —
    // their batches are valid by construction (MaterializedAgg
    // .refresh tags via when/otherwise, keys via groupBy, emptiness
    // via its own fused probe) — but the key collect still runs: the
    // file-pruned touched probe needs it.
    val badTagC = col("_change").isNull ||
      !col("_change").isin("insert", "delete")
    val fused: Option[Array[org.apache.spark.sql.Row]] =
      if (pruneKeyLimit <= 0) None
      else probe(changes.groupBy(keys.map(col): _*)
          .agg(
            sum(when(col("_change") === "insert", 1L).otherwise(0L))
              .as("__ac_ni"),
            sum(when(badTagC, 1L).otherwise(0L)).as("__ac_nb"))
          .limit(pruneKeyLimit + 1), "apply-changes:probe+keys") { d =>
        val rows = d.collect()
        if (rows.length > pruneKeyLimit) None else Some(rows)
      }
    // The affected-key MIN/MAX ENVELOPE of an above-cap batch: too
    // many keys to collect, but their bounds still prune the touched
    // probe's scan through manifest stats (guide §6 — file pruning
    // with no driver round-trip of the keys). Fused into the global
    // validation aggregate when that runs anyway; preValidated bulk
    // callers pay one dedicated bounded aggregate instead of an
    // unpruned table scan in the probe.
    var envelope: Option[Seq[(String, Any, Any)]] = None
    def keyEnvelopeAggs = keys.flatMap(k =>
      Seq(min(col(k)).as(s"__env_mn_$k"), max(col(k)).as(s"__env_mx_$k")))
    def envelopeOf(r: org.apache.spark.sql.Row,
                   offset: Int): Seq[(String, Any, Any)] =
      keys.zipWithIndex.map { case (k, i) =>
        (k, r.get(offset + 2 * i), r.get(offset + 2 * i + 1)) }
    if (!preValidated) {
      fused match {
        case Some(rows) =>
          val nb = rows.iterator.map(_.getLong(keys.length + 1)).sum
          if (nb > 0) {
            val badTag = changes.filter(badTagC).limit(1).collect()
            require(badTag.isEmpty,
              s"applyChanges: unknown _change tag in e.g. " +
                s"${badTag.headOption.orNull} — only insert|delete are defined")
          }
          if (rows.iterator.map(_.getLong(keys.length)).maxOption
              .getOrElse(0L) > 1) {
            val dupKeys = inserts.groupBy(keys.map(col): _*)
              .count().filter(col("count") > 1).limit(1).collect()
            require(dupKeys.isEmpty,
              s"applyChanges: duplicate insert keys, e.g. " +
                s"${dupKeys.head.mkString(",")}")
          }
          if (rows.isEmpty) return None
        case None =>
          // past the collect cap: the global validation aggregate
          // (carrying the key envelope — same action, free)
          val probed = probe(changes.groupBy(keys.map(col): _*)
              .agg(
                sum(when(col("_change") === "insert", 1L).otherwise(0L))
                  .as("_ni"),
                sum(when(badTagC, 1L).otherwise(0L)).as("_nb"))
              .agg(coalesce(sum(col("_nb")), lit(0L)),
                (coalesce(max(col("_ni")), lit(0L)) +: count(lit(1)) +:
                  keyEnvelopeAggs): _*),
            "apply-changes:probe")(_.collect()(0))
          envelope = Some(envelopeOf(probed, 3))
          if (probed.getLong(0) > 0) {
            val badTag = changes.filter(badTagC).limit(1).collect()
            require(badTag.isEmpty,
              s"applyChanges: unknown _change tag in e.g. " +
                s"${badTag.headOption.orNull} — only insert|delete are defined")
          }
          if (probed.getLong(1) > 1) {
            val dupKeys = inserts.groupBy(keys.map(col): _*)
              .count().filter(col("count") > 1).limit(1).collect()
            require(dupKeys.isEmpty,
              s"applyChanges: duplicate insert keys, e.g. " +
                s"${dupKeys.head.mkString(",")}")
          }
          if (probed.getLong(2) == 0) return None
      }
    }
    // Only the insert half introduces new values.
    val vcs = enforceConstraints(spark, dir, inserts, "applyChanges")
    // BOUNDED-KEY-SET FILE PRUNING. The touched-file probe's semi-join
    // is exact but, unpruned, SCANS the whole table per apply — at a
    // 100 TB dimension that scan IS the operation's cost. The
    // incremental case (keys come from a change feed) has a small key
    // set by construction: the fused collect above bounded it, the
    // probe's scan prunes to the files whose stats/Bloom summaries
    // might hold ANY affected key, and the collected set feeds back
    // as a BROADCAST frame so the probe, the rewrite's anti-join, and
    // the conflict check stop re-running the caller's change plan.
    val keySchema = StructType(affectedKeysFull.schema.fields)
    val collectedKeys: Option[Array[org.apache.spark.sql.Row]] =
      fused.map(_.map(r =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(2))))
    val affectedKeys = collectedKeys match {
      case Some(rows) => broadcast(spark.createDataFrame(
        java.util.Arrays.asList(rows.toSeq: _*), keySchema))
      case None => affectedKeysFull
    }
    val base = latestVersion(spark, dir)
    val touched = base match {
      case Some(v) if manifestFiles(spark, dir, v).nonEmpty =>
        val candidates = collectedKeys
          .map(rows => pruneFilesForKeys(spark, dir, v, keys, rows))
          .orElse {
            // above the cap: stats-envelope pruning instead of an
            // unpruned table scan. The envelope rode the validation
            // aggregate when it ran; preValidated bulk callers pay
            // one dedicated bounded aggregate here.
            val env = envelope.getOrElse(
              probe(changes.agg(keyEnvelopeAggs.head, keyEnvelopeAggs.tail: _*),
                "apply-changes:key-envelope")(d => envelopeOf(d.collect()(0), 0)))
            Some(pruneFilesEnvelope(spark, dir, v, env))
          }
        if (candidates.exists(_.isEmpty)) Seq.empty[String]
        else probe(withFile(spark, dir, v, candidates)
            .join(affectedKeys, keys, "left_semi"),
            "apply-changes:touched-probe") { d =>
          collectFileCol(d, "__file").map(manifestKey(dir, _)).sorted
        }
      case _ => Seq.empty[String]
    }
    val baseSt = base.map(stateOf(spark, dir, _))
    val baseDv = baseSt.map(_.dvs).getOrElse(Map.empty)
    // WRITE SIZING for the bounded case: when the fused collect
    // bounded the key set, the insert half is key-unique and at most
    // pruneKeyLimit rows — but it arrives carrying the caller's full
    // shuffle partitioning (e.g. 32+ near-empty partitions from a
    // change-feed exceptAll), and the batch writer lands one file PER
    // non-empty partition: dozens of tiny files per incremental
    // apply, each paying a task commit, a footer-summary open, a
    // manifest entry, and a file open on every later probe. Coalesce
    // to a partition count derived from the PLANNED BYTE SIZE (the
    // callers persist their change frames, so the estimate is the
    // materialized cache size — guide §2: derive partitioning from
    // input size, never from the core count). The unbounded path
    // (bulk applies past the cap) keeps its parallelism untouched.
    val insertsSized = collectedKeys match {
      case Some(_) =>
        val bytes = inserts.queryExecution.optimizedPlan.stats.sizeInBytes
        val target = (bytes / (64L << 20)).toLong + 1L
        inserts.coalesce(math.max(1L, math.min(1024L, target)).toInt)
      case None => inserts
    }
    val rewrite =
      if (touched.isEmpty) insertsSized
      else readFilesWithDv(spark, dir, baseSt.get, touched)
        .join(affectedKeys, keys, "left_anti")
        .unionByName(insertsSized, allowMissingColumns = true)
    commitRewrite(spark, dir, touched, rewrite,
      base.map(trackedStatsCols(spark, dir, _)).getOrElse(Nil),
      base.map(stateOf(spark, dir, _).bloomCols).getOrElse(Nil),
      maxRetries, "applyChanges", txn,
      keyConflict = Some((
        base.map(manifestFiles(spark, dir, _)).getOrElse(Nil).toSet,
        keys, affectedKeys)),
      baseDv = baseDv, checkConstraints = Some(vcs),
      basis = baseSt)
  }

  /** EXACTLY-ONCE incremental table-to-table replication: advance the
    * destination to the source's latest snapshot by consuming ONLY
    * the change feed since the last applied source version — the
    * destination's own transaction ledger IS the cursor (the source
    * version lands as `txnVersion` in the same commit as the row
    * changes, so cursor and data can never disagree; a crashed or
    * replayed run re-applies as a manifest no-op). The incremental
    * cost is bounded by what changed: [[changeFeed]] reads only
    * dropped+added files, [[applyChanges]] rewrites only files
    * holding affected keys — at 100 TB a small upstream MERGE
    * replicates in a few file reads and one small rewrite, never a
    * table scan.
    *
    * First call (no cursor) bootstraps: the full source snapshot
    * applies as inserts. `keys` name the source's row identity
    * (key-unique tables); an EMPTY `keys` selects append-only mode —
    * the feed must then contain no deletes (violations throw) and
    * rows land via [[transactionalAppend]], right for event/fact
    * streams. Returns (appliedSourceVersion, newDstVersion), or None
    * when the destination is already current.
    *
    * The cursor's source version must still have its manifest (the
    * [[vacuum]] `keepVersions` window): a replica lagging past the
    * source's vacuum horizon must re-bootstrap into a fresh
    * destination — the same contract as any log-shipping consumer. */
  def replicate(spark: SparkSession, srcDir: String, dstDir: String,
                keys: Seq[String], appId: String,
                maxRetries: Int = 20): Option[(Long, Long)] = {
    require(appId.nonEmpty, "replicate: appId must be non-empty")
    val srcV = latestVersion(spark, srcDir).getOrElse(
      throw new java.io.IOException(
        s"replicate: no committed version under $srcDir"))
    val cursor = latestVersion(spark, dstDir)
      .map(stateOf(spark, dstDir, _).txns).getOrElse(Map.empty)
      .get(appId)
    if (cursor.exists(_ >= srcV)) return None
    val feed = cursor match {
      case Some(c) =>
        try changeFeed(spark, srcDir, c, srcV)
        catch { case e: java.io.FileNotFoundException =>
          throw new java.io.IOException(
            s"replicate: cursor version $c of $srcDir is beyond the " +
              "source's vacuum horizon (its manifest is gone) — " +
              "re-bootstrap into a fresh destination", e)
        }
      case None => read(spark, srcDir, Some(srcV))
        .withColumn("_change", lit("insert"))
    }
    if (keys.nonEmpty)
      applyChanges(spark, dstDir, feed, keys, Some(appId -> srcV), maxRetries)
        .map(srcV -> _)
    else {
      // Append-only mode: deletes are a contract violation, not a skip.
      val rows = feed.filter(col("_change") === "delete").limit(1).collect()
      require(rows.isEmpty,
        s"replicate: append-only mode (empty keys) but the source feed " +
          s"contains deletes under $srcDir")
      transactionalAppend(feed.filter(col("_change") === "insert")
          .drop("_change"), dstDir, appId, srcV, maxRetries = maxRetries)
        .map(srcV -> _)
    }
  }

  /** Shared commit path for row-level rewrites: write `rewrite` as a
    * new batch, then commit current-files − touched + new, with the
    * touched-file conflict guard. `keyConflict = (baseFiles, keys,
    * srcKeys)` additionally guards KEY-level write-write races: two
    * concurrent MERGEs upserting the same not-yet-present key both
    * see touched = [] (the key is in neither's base snapshot), so the
    * vanished-file check alone would let both commit their insert and
    * silently duplicate the key. Before committing, any file ADDED to
    * the manifest since our base read is probed for rows matching the
    * operation's keys; a hit throws ConcurrentModificationException
    * (same surface as Delta's conflict checker). The probe reads only
    * the concurrently-added files — zero cost on the no-race path.
    * `readOnly` names files the operation's DECISION read without
    * rewriting (mergeInto's insert-suppression holders): they carry
    * forward by reference, but a concurrent rewrite or DV advance on
    * one invalidates the decision (e.g. a racing DELETE of a
    * suppressed key would silently stand) — guarded exactly like
    * touched files, minus the commit math. */
  private[graft] def commitRewrite(spark: SparkSession, dir: String,
                            touched: Seq[String], rewrite: DataFrame,
                            statsCols: Seq[String],
                            bloomCols: Seq[String], maxRetries: Int,
                            op: String,
                            txn: Option[(String, Long)] = None,
                            keyConflict: Option[(Set[String], Seq[String],
                              DataFrame)] = None,
                            baseDv: Map[String, DeletionVector] = Map.empty,
                            checkConstraints: Option[Map[String, String]] =
                              None,
                            basis: Option[TableState] = None,
                            readOnly: Seq[String] = Nil
                           ): Option[Long] = {
    // basis = the state the rewrite frame's logical names were
    // resolved against (see writeBatch's column-mapping race contract).
    val wb = labeled(spark, op) {
      writeBatch(rewrite, dir, statsCols, bloomCols, basis = basis)
    }
    val (added, claim) = (wb.added, wb.claim)
    val touchedSet = touched.toSet
    val addedSet = added.toSet
    // None = this op introduces no new values (delete/compaction);
    // Some(v) = the set the caller validated — recheck on rebase.
    var validated = checkConstraints
    commitLoop(spark, dir, op, maxRetries) { (_, st) =>
      checkMapClaim(st, claim, op)
      val cur = st.getOrElse(TableState())
      // a racing replay won: no commit, our files stay orphaned
      if (replayed(cur, txn)) None
      else {
        val guarded = touched ++ readOnly
        val missing = guarded.filterNot(cur.files.toSet)
        if (missing.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"$op: touched/read files rewritten concurrently: ${missing.take(3).mkString(", ")}")
        // A deletion vector committed on a touched file AFTER our base
        // read means our rewrite (built from the base vector state)
        // would resurrect those freshly-deleted rows — same write-write
        // conflict as a vanished file, same loud surface. Read-only
        // decision inputs (insert-suppression holders) get the same
        // guard: their rows decided what this commit suppresses.
        val dvMoved = guarded.filter(f => cur.dvs.get(f) != baseDv.get(f))
        if (dvMoved.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"$op: deletion vectors advanced concurrently on touched " +
              s"files: ${dvMoved.take(3).mkString(", ")}")
        keyConflict.foreach { case (baseFiles, keys, srcKeys) =>
          val newSinceBase = cur.files
            .filterNot(baseFiles).filterNot(addedSet).filterNot(touchedSet)
          if (newSinceBase.nonEmpty) {
            // the head's live rows of those files, logically named
            val clash = readFilesWithDv(spark, dir, cur, newSinceBase)
              .join(srcKeys, keys, "left_semi").limit(1).collect()
            if (clash.nonEmpty)
              throw new java.util.ConcurrentModificationException(
                s"$op: a concurrent commit added rows for key " +
                  s"${clash.head.mkString(",")} — committing would duplicate it")
          }
        }
        val schema = evolveSchema(cur.schema, rewrite.schema)
        // Rewritten files physically exclude their masked rows, so their
        // vectors retire with them; the new files aren't bucket-routed,
        // so the claim clears.
        val next = landed(cur, wb, touchedSet).copy(schema = schema,
          txns = cur.txns ++ txn, bucket = None)
        validated = validated.map(v =>
          recheckConstraints(spark, dir, next, v, added, op))
        Some(next)
      }
    }
  }
}
