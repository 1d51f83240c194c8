package graft.catalog

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import graft.functions.Inference
import graft.sources.{SnapshotTable, TableStore}

/** KPI metadata for one confirmed field (reference main.py:486-494:
  * name, sanitized column name, inferred logical type). */
final case class KpiMeta(name: String, logicalType: String) {
  /** O14 column rule (main.py:281): `kpi_` + sanitized + lowered. */
  def columnName: String =
    "kpi_" + name.replaceAll("[^a-zA-Z0-9_]", "_").toLowerCase
  def dataType: DataType = Inference.physicalType(logicalType)
}

/** Folder-level metadata (reference Firestore doc
  * tenants/{uid}/folders/{fid}, main.py:393-403): the trained KPI set
  * plus the extraction context hint. */
final case class FolderMeta(uid: String, folder: String,
                            contextHint: String, kpis: Seq[KpiMeta]) {
  /** The reference's per-(tenant,folder) table name (main.py:262-264). */
  def tableName: String = {
    def clean(s: String) = s.replaceAll("[^a-zA-Z0-9_]", "_").toLowerCase
    s"${clean(uid)}_${clean(folder)}"
  }

  /** Target schema: 3 system columns + typed KPI columns
    * (main.py:294-314). */
  def schema: StructType = StructType(
    Seq(
      StructField("row_id", StringType, nullable = false),
      StructField("file_name", StringType),
      StructField("uploaded_at", TimestampType)) ++
      kpis.map(k => StructField(k.columnName, k.dataType)))
}

/** In-engine catalog replacing the reference's Firestore tree: an
  * immutable map of (uid, folder) → FolderMeta, typically built once
  * on the driver from training output ([[Catalog.train]]) and
  * broadcast by closure into the ingest job. O(#folders) driver-side
  * state — at 100 TB the data scales, the catalog does not.
  */
final case class Catalog(folders: Map[(String, String), FolderMeta]) {
  def get(uid: String, folder: String): Option[FolderMeta] =
    folders.get((uid, folder))
  def add(meta: FolderMeta): Catalog =
    Catalog(folders + ((meta.uid, meta.folder) -> meta))
}

object Catalog {
  val empty: Catalog = Catalog(Map.empty)

  // package-private, not private: the typed projection `load` compiles
  // must call their constructors, which a Scala-private class hides
  private[catalog] final case class KpiRow(name: String, logicalType: String)
  private[catalog] final case class FolderRow(uid: String, folder: String,
                                              contextHint: String,
                                              kpis: Seq[KpiRow])

  /** Persist the catalog under the warehouse (the rebuild's Firestore
    * analog — reference main.py:497-503 persists folder metadata on
    * confirm): ONE JSON FILE PER FOLDER
    * (`_catalog/<tableName>-<digest>.json`, see [[folderFileName]]),
    * written driver-side with the FS API — the catalog is O(#folders)
    * driver state, so a Spark job per save would be pure overhead.
    * Per-folder objects are what give [[loadCachedFresh]] FOLDER
    * granularity: one folder's update touches one file, so only that
    * folder's cache entry reloads. A full save replaces the whole
    * directory; [[saveFolder]] is the incremental form. Also refreshes
    * the [[loadCached]] fast path for this warehouse. */
  def save(spark: SparkSession, catalog: Catalog, warehouseDir: String): Unit = {
    val dir = catalogDir(warehouseDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dir, true)
    fs.mkdirs(dir)
    val entries = catalog.folders.values.toSeq.map { m =>
      val f = writeFolderFile(fs, dir, m)
      f.getName -> (statFp(fs.getFileStatus(f)), Seq(m))
    }
    loadCache.put(warehouseDir, entries.toMap)
    ()
  }

  /** Incremental per-folder save: writes ONLY this folder's file and
    * refreshes ONLY its cache entry — every other folder's cached
    * metadata (and persisted file) is untouched, pinned in IngestSpec.
    * A store in ANY earlier layout (the single part-*.json file of the
    * pre-per-folder writer, or per-folder files named before the
    * digest suffix) is migrated by a full load + save first —
    * otherwise the old-named file would survive beside the new one and
    * the duplicate (uid, folder) key would resolve arbitrarily. */
  def saveFolder(spark: SparkSession, meta: FolderMeta,
                 warehouseDir: String): Unit = {
    val dir = catalogDir(warehouseDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val legacy =
      try fs.listStatus(dir).exists(s => liveFile(s) &&
        !currentLayout(s.getPath.getName))
      catch { case _: java.io.FileNotFoundException => false }
    if (legacy) {
      save(spark, load(spark, warehouseDir).add(meta), warehouseDir)
    } else {
      fs.mkdirs(dir)
      val f = writeFolderFile(fs, dir, meta)
      val entry = f.getName -> (statFp(fs.getFileStatus(f)), Seq(meta))
      // Only patch an EXISTING cache entry: priming a cold cache with
      // one folder would make loadCached serve a one-folder catalog
      // for a many-folder store.
      loadCache.computeIfPresent(warehouseDir, (_, cur) => cur + entry)
      ()
    }
  }

  /** Read-back fast path (the reference's precomputed-metadata branch,
    * main.py:551-560: a folder doc whose kpi metadata is already
    * materialized is served without recomputation — vs the recompute
    * path at main.py:563-580). First read per warehouse dir scans the
    * per-folder JSON files; subsequent reads in the same JVM are
    * served from memory. [[save]]/[[saveFolder]] refresh their
    * entries, so a save-then-read cycle never serves stale metadata;
    * an external writer updating the warehouse behind this JVM's back
    * requires [[invalidate]] or [[loadCachedFresh]]. Catalogs are
    * O(#folders) driver-side values — the cache is bounded by the
    * number of distinct warehouses a process touches. */
  def loadCached(spark: SparkSession, warehouseDir: String): Catalog =
    assemble(loadCache.computeIfAbsent(warehouseDir,
      _ => loadAll(spark, warehouseDir)))

  /** [[loadCached]] with a PER-FOLDER staleness check: one filesystem
    * listing of `_catalog` (names + lengths + mtimes) decides, file by
    * file, which cached folder entries still match the store — an
    * external writer's update to one folder re-reads ONLY that
    * folder's file (pinned in IngestSpec), removed files drop their
    * entries, and an unchanged store costs one list RPC and zero data
    * reads. Use this on read paths that may race other writers;
    * [[loadCached]] stays the zero-RPC path for single-writer
    * processes. */
  def loadCachedFresh(spark: SparkSession, warehouseDir: String): Catalog = {
    val dir = catalogDir(warehouseDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = fs.listStatus(dir).filter(liveFile)
    val fps = stats.map(s => s.getPath.getName -> statFp(s)).toMap
    val cached = Option(loadCache.get(warehouseDir))
      .getOrElse(Map.empty[String, (String, Seq[FolderMeta])])
    val keep = cached.filter { case (n, (f, _)) => fps.get(n).contains(f) }
    val toRead = (fps.keySet -- keep.keySet).toSeq.sorted
    val fresh = readFolderFiles(spark,
      toRead.map(n => new org.apache.hadoop.fs.Path(dir, n)))
    val merged = keep ++ toRead.map(n =>
      n -> (fps(n), fresh.getOrElse(n, Seq.empty)))
    loadCache.put(warehouseDir, merged)
    assemble(merged)
  }

  /** Drop [[loadCached]]'s entry for one warehouse (external update). */
  def invalidate(warehouseDir: String): Unit = {
    loadCache.remove(warehouseDir)
    ()
  }

  // ---- per-folder persistence internals -------------------------------

  private def catalogDir(warehouseDir: String) =
    new org.apache.hadoop.fs.Path(s"$warehouseDir/_catalog")

  /** Data files of the catalog dir (skips _SUCCESS/.crc bookkeeping a
    * legacy Spark-job writer left behind). */
  private def liveFile(s: org.apache.hadoop.fs.FileStatus): Boolean =
    s.isFile && !s.getPath.getName.startsWith("_") &&
      !s.getPath.getName.startsWith(".")

  /** Whether a file name matches the CURRENT per-folder layout
    * ([[folderFileName]]: `<tableName>-<8-hex-digest>.json`). Anything
    * else is a legacy layout [[saveFolder]] must migrate. */
  private def currentLayout(name: String): Boolean =
    name.matches(".*-[0-9a-f]{8}\\.json")

  /** Per-file staleness fingerprint: length + mtime (names are the map
    * keys). Same trust model as object-store ETag polling. */
  private def statFp(s: org.apache.hadoop.fs.FileStatus): String =
    s"${s.getLen}:${s.getModificationTime}"

  /** Per-folder file name: sanitized tableName for readability PLUS a
    * digest of the RAW (uid, folder) pair — distinct folders whose
    * sanitized names collide (e.g. "a.b" and "a_b", which share one
    * TABLE by documented contract) must still keep separate metadata
    * files, or the second save would silently clobber the first's
    * KPI metadata. */
  private[graft] def folderFileName(m: FolderMeta): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    // Length-prefixed so ("a b", "c") and ("a", "b c") digest apart.
    val raw = md.digest(s"${m.uid.length}:${m.uid}:${m.folder}"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = raw.take(4).map(b => f"$b%02x").mkString
    s"${m.tableName}-$hex.json"
  }

  /** Write one folder's metadata as a single-line JSON file readable
    * by the generic [[load]] path; returns the file path. */
  private def writeFolderFile(fs: org.apache.hadoop.fs.FileSystem,
                              dir: org.apache.hadoop.fs.Path,
                              m: FolderMeta): org.apache.hadoop.fs.Path = {
    def esc(v: String): String = "\"" + v.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val kpis = m.kpis.map(k =>
      s"""{"name":${esc(k.name)},"logicalType":${esc(k.logicalType)}}""")
      .mkString("[", ",", "]")
    val json = s"""{"uid":${esc(m.uid)},"folder":${esc(m.folder)},""" +
      s""""contextHint":${esc(m.contextHint)},"kpis":$kpis}""" + "\n"
    val f = new org.apache.hadoop.fs.Path(dir, folderFileName(m))
    val out = fs.create(f, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    f
  }

  /** Read specific catalog files, grouped by file name — the unit the
    * per-folder cache tracks. One small Spark read over O(#changed)
    * files. */
  private def readFolderFiles(spark: SparkSession,
      paths: Seq[org.apache.hadoop.fs.Path]): Map[String, Seq[FolderMeta]] = {
    if (paths.isEmpty) return Map.empty
    import spark.implicits._
    val schema = implicitly[org.apache.spark.sql.Encoder[FolderRow]].schema
    val rows = spark.read.schema(schema).json(paths.map(_.toString): _*)
      .withColumn("_src", org.apache.spark.sql.functions.input_file_name())
      .collect()
    rows.groupBy(r =>
        new org.apache.hadoop.fs.Path(r.getString(r.fieldIndex("_src"))).getName)
      .map { case (name, rs) =>
        name -> rs.toSeq.map { r =>
          val kpis = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("kpis"))
            .map(k => KpiMeta(k.getString(0), k.getString(1)))
          FolderMeta(r.getString(r.fieldIndex("uid")),
            r.getString(r.fieldIndex("folder")),
            r.getString(r.fieldIndex("contextHint")), kpis)
        }
      }
  }

  /** Full per-file load (cold cache). Throws if the store is absent —
    * a missing catalog is an error, not an empty catalog. */
  private def loadAll(spark: SparkSession,
      warehouseDir: String): Map[String, (String, Seq[FolderMeta])] = {
    val dir = catalogDir(warehouseDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = fs.listStatus(dir).filter(liveFile)
    val metas = readFolderFiles(spark, stats.map(_.getPath).toSeq)
    stats.map(s => s.getPath.getName ->
      (statFp(s), metas.getOrElse(s.getPath.getName, Seq.empty))).toMap
  }

  private def assemble(m: Map[String, (String, Seq[FolderMeta])]): Catalog =
    Catalog(m.values.flatMap(_._2)
      .map(fm => (fm.uid, fm.folder) -> fm).toMap)

  private val loadCache = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, (String, Seq[FolderMeta])]]()

  /** Load a previously [[save]]d catalog. */
  def load(spark: SparkSession, warehouseDir: String): Catalog = {
    import spark.implicits._
    val rows = spark.read
      .schema(implicitly[org.apache.spark.sql.Encoder[FolderRow]].schema)
      .json(s"$warehouseDir/_catalog")
      .as[FolderRow].collect()
    Catalog(rows.map(r => (r.uid, r.folder) ->
      FolderMeta(r.uid, r.folder, r.contextHint,
        r.kpis.map(k => KpiMeta(k.name, k.logicalType)))).toMap)
  }

  /** Training flow (reference §3.2: /analyze-master + /confirm-kpis):
    * run schema discovery over one master document's extracted map,
    * classify ALL fields in ONE batched [[Inference.inferTypes]] hook
    * call (main.py:90-162's single LLM request, with its closed-set
    * validation and per-column regex fallback), and register the
    * folder. Driver-side O(#fields). */
  def train(uid: String, folder: String, contextHint: String,
            discovered: Map[String, String],
            hook: Inference.TypeInferenceHook = Inference.RegexTypeInference): FolderMeta = {
    val types = Inference.inferTypes(discovered, hook)
    mustNotCollide(discovered.keys.toSeq)
    FolderMeta(uid, folder, contextHint,
      discovered.toSeq.sortBy(_._1).map { case (name, _) =>
        KpiMeta(name, types(name))
      })
  }

  /** Distinct KPI names sanitizing to one column would give the folder
    * a duplicate-field schema (the reference's BigQuery DDL would
    * reject the same collision) — fail at training time, with names. */
  private def mustNotCollide(names: Seq[String]): Unit = {
    val dup = names.groupBy(KpiMeta(_, "string").columnName)
      .collect { case (c, ns) if ns.size > 1 => s"$c <- ${ns.mkString("/")}" }
    require(dup.isEmpty,
      s"KPI column collision after sanitization: ${dup.mkString("; ")}")
  }

  /** Legacy untyped registration (reference main.py:319-351,
    * `sync_bigquery_schema`): when only a KPI NAME list exists — no
    * samples, no inferred metadata — every KPI column is plain STRING.
    * Used by the pre-typed-metadata ingest path (main.py:722-724's
    * fallback branch); rows land with sentinel normalization only, no
    * numeric/date casts. The typed path ([[train]]) is strictly
    * better when samples exist. */
  def trainLegacy(uid: String, folder: String, contextHint: String,
                  kpiNames: Seq[String]): FolderMeta = {
    mustNotCollide(kpiNames)
    FolderMeta(uid, folder, contextHint,
      kpiNames.sorted.map(KpiMeta(_, "string")))
  }

  /** Schema-evolving read of an appended table (O16 read side): the
    * union of every data file's schema, so rows written before a
    * column existed surface it as NULL (main.py:273-291 ADD COLUMN
    * semantics, without the 2s DDL stall) — and columns no current
    * KPI names stay visible: a re-train that drops a KPI, or a second
    * folder whose sanitized name shares this table, keeps its columns
    * and values, as the reference's BigQuery table does
    * (main.py:256-351). So the read schema is the files', never
    * `meta.schema`.
    *
    * The schema is exactly what Spark's `mergeSchema` inference
    * builds, without its footer-reading Spark job: the table's visible
    * parquet files are listed once through [[TableStore]] (Spark's
    * file-index rules for hidden names), each file's footer schema is
    * read on the driver and cached by (path, length, mtime), and the
    * schemas merge in path order with Spark's own `StructType.merge`
    * (a column typed two ways fails the read, CANNOT_MERGE_SCHEMAS).
    * A new file — a landed wave, a rewritten partition — misses the
    * cache and is read; a file gone from the listing leaves it. Only
    * footers that carry Spark's schema are cached: any other file's
    * schema depends on session confs and is converted on every read.
    * `_batch_id` is left to Spark's partition inference, so its type
    * is the inferred one. A table with no visible data file, or with
    * parquet summary files, takes Spark's own `mergeSchema` read.
    * Spark lists the directory again to scan it; a file a concurrent
    * writer lands between the two listings is read under the schema
    * of the files listed here. */
  def readTable(spark: SparkSession, warehouseDir: String,
                meta: FolderMeta): DataFrame = {
    val dir = s"$warehouseDir/${meta.tableName}"
    mergedFileSchema(spark, dir).fold(
      spark.read.option("mergeSchema", "true").parquet(dir))(
      spark.read.schema(_).parquet(dir))
  }

  /** A footer schema [[readTable]] has read, with the length and mtime
    * of the file it was read from. */
  private final case class FooterSchema(len: Long, mtime: Long,
                                        schema: StructType)

  /** Per table directory: its files' cached footer schemas, by path. */
  private val footerSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, FooterSchema]]()

  private def mergedFileSchema(spark: SparkSession,
                               dir: String): Option[StructType] = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetReadSupport, ParquetToSparkSchemaConverter}
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val qualified = root.getFileSystem(conf).makeQualified(root)
    def visible(p: Path): Boolean = p.depth <= qualified.depth ||
      (!GraftSqlBridge.hiddenFromFileIndex(p.getName) && visible(p.getParent))
    val files = TableStore(conf, root).listFiles(root)
      .filter(f => visible(f.getPath)).sortBy(_.getPath.toString)
    val summary = Set("_metadata", "_common_metadata")
    if (files.isEmpty || files.exists(f => summary(f.getPath.getName)))
      return None
    val key = qualified.toString
    val cached = footerSchemas.getOrDefault(key, Map.empty)
    def hit(f: FileStatus) = cached.get(f.getPath.toString)
      .filter(c => c.len == f.getLen && c.mtime == f.getModificationTime)
    val sqlConf = spark.sessionState.conf
    // path -> (schema, whether the footer carries Spark's own schema)
    val fresh = SnapshotTable.readFooters(conf, files.filter(hit(_).isEmpty)) {
      (st, rd) =>
        val footer = rd.getFooter
        st.getPath.toString -> (FooterSchema(st.getLen, st.getModificationTime,
          ParquetFileFormat.readSchemaFromFooter(
            new org.apache.parquet.hadoop.Footer(st.getPath, footer),
            new ParquetToSparkSchemaConverter(sqlConf))),
          footer.getFileMetaData.getKeyValueMetaData
            .containsKey(ParquetReadSupport.SPARK_METADATA_KEY))
    }.toMap
    val schemas = files.map { f =>
      val p = f.getPath.toString
      p -> hit(f).getOrElse(fresh(p)._1)
    }
    footerSchemas.put(key,
      schemas.filterNot { case (p, _) => fresh.get(p).exists(!_._2) }.toMap)
    val caseSensitive = sqlConf.caseSensitiveAnalysis
    Some(schemas.map(_._2.schema)
      .reduceLeft(GraftSqlBridge.mergeFileSchemas(_, _, caseSensitive)))
  }
}
