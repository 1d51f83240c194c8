package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo,
  Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual,
  Literal}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation,
  LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** The SQL read surface of [[SnapshotTable]] — the difference between
  * a table format and a table format users can QUERY: register a
  * snapshot as a view and `spark.sql("SELECT … WHERE …")` gets
  * manifest-level data skipping (min/max stats AND Bloom point-lookup
  * pruning) before Spark's parquet reader ever lists a file.
  *
  * Architecture (the public Delta-on-Spark pattern): a custom
  * [[FileIndex]] is the pluggable file-LISTING layer of Spark's
  * native parquet relation. [[SnapshotFileIndex.listFiles]] receives
  * the query's pushed data filters as Catalyst expressions, prunes
  * the pinned snapshot's manifest file list through the SAME
  * [[SnapshotTable.pruneFiles]]/[[SnapshotTable.pruneFilesEq]]
  * decisions the programmatic readers use, and hands Spark only the
  * surviving files. Everything downstream — column pruning,
  * row-group skipping, whole-stage codegen — is Spark's
  * battle-tested parquet scan; pruning here is file-level and
  * conservative, and Spark still applies the full residual filter,
  * so results are exactly `read(...).filter(...)`.
  *
  * The snapshot is PINNED at registration (the version captured when
  * the view was created): a concurrent append/compact/vacuum is
  * invisible to the view — the same snapshot-isolation contract as
  * [[SnapshotTable.read]]. Re-register to advance. */
object SnapshotSql {

  /** Per-session address books, held WEAKLY by their session: a
    * binding dies with its session (no leak, no reuse) and is never
    * visible to another session — a bare-name DML statement from a
    * session that never bound the name can NEVER mutate a graft
    * directory some other session pointed at.
    *
    * [[register]]/[[registerLive]] do not populate this map at all:
    * their resolution rides the temp view ITSELF — [[boundDir]]
    * recognizes a graft-backed temp view by inspecting its plan — so
    * dropping or replacing the view retires the DML binding
    * automatically, and a CLONED session (e.g. the per-micro-batch
    * sessions foreachBatch runs under, which inherit temp views)
    * resolves the same table even though clones get their own scope. */
  private val scopes = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, String]]()

  private def lower(name: String): String =
    name.toLowerCase(java.util.Locale.ROOT)

  /** Bind `name` to a snapshot table directory for the SQL DML
    * surface (`DELETE FROM name …`, `OPTIMIZE name`, …) in `spark`'s
    * session, without registering any view. The binding is graft's
    * own per-session address book — independent of the view catalog;
    * call [[unbind]] to retire it. Other sessions (including clones)
    * are never affected; for clone-visible names use [[register]] /
    * [[registerLive]], whose binding rides the temp view. */
  def bind(spark: SparkSession, name: String, dir: String): Unit =
    scopes.synchronized {
      var m = scopes.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, String]()
        scopes.put(spark, m)
      }
      m.put(lower(name), dir)
    }

  /** [[bind]] against the ACTIVE session (must exist — DML parsing
    * resolves names per session, so a session-less bind would be
    * unreachable). */
  def bind(name: String, dir: String): Unit =
    bind(activeSession("bind"), name, dir)

  def unbind(spark: SparkSession, name: String): Unit =
    scopes.synchronized {
      Option(scopes.get(spark)).foreach(_.remove(lower(name)))
    }

  def unbind(name: String): Unit = unbind(activeSession("unbind"), name)

  /** The directory `name` addresses in `spark`'s session: an explicit
    * [[bind]] first, else a temp view REGISTER() CREATED (see
    * [[viewDir]]). */
  def boundDir(spark: SparkSession, name: String): Option[String] =
    scopes.synchronized {
      Option(scopes.get(spark)).flatMap(m => Option(m.get(lower(name))))
    }.orElse(viewDir(spark, name))

  /** Plans [[register]]/[[registerLive]] put into the view catalog,
    * held WEAKLY → table directory. Keyed by the PLAN OBJECTS
    * themselves, so ONLY views those calls created resolve — a
    * user-built frame over the same table (filtered, projected,
    * joined, version-pinned) never becomes a writable bare-name DML
    * address (a `DELETE FROM my_filtered_view` must not wipe the
    * whole base table). Clones inherit temp views by reference, so
    * the binding rides into foreachBatch sessions; dropping or
    * replacing the view releases the last strong reference and the
    * binding dies with it. */
  private val viewBindings = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String]())

  private[sources] def recordViewBinding(df: DataFrame, dir: String): Unit = {
    viewBindings.put(df.queryExecution.logical,
      new Path(dir).toUri.getPath)
    viewBindings.put(df.queryExecution.analyzed,
      new Path(dir).toUri.getPath)
  }

  /** The directory behind a temp view that register()/registerLive()
    * created — identity-matched against the recorded plans. */
  private def viewDir(spark: SparkSession, name: String): Option[String] = {
    val plan = scala.util.Try(
      spark.sessionState.catalog.getTempView(name)
        .orElse(spark.sessionState.catalog.getTempView(lower(name))))
      .toOption.flatten.getOrElse(return None)
    val hit = (plan +: plan.collect { case p => p })
      .flatMap(p => Option(viewBindings.get(p))).headOption
    if (hit.nonEmpty) return hit
    // DIAGNOSTIC PATH: the view's plan IS a bare graft scan — the
    // shape register()/registerLive() create — yet no recorded
    // binding matched by identity. That means the catalog is serving
    // a transformed/copied plan (the WeakHashMap key contract broke,
    // e.g. a Spark version that re-instantiates stored view plans) or
    // the binding was otherwise lost. Silently returning None here
    // would delegate the DML to Spark's parser, whose error ("DELETE
    // is only supported with v2 tables") points users away from the
    // real cause — fail with the fix instead. DERIVED views (filters
    // / projections / joins a user layered over the table) still
    // return None: they are intentionally never writable addresses.
    def bareGraftScan(p: org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan): Boolean = p match {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location.isInstanceOf[SnapshotFileIndex]
        case _: LiveSnapshotRelation => true
        case _ => false
      }
      case sa: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        bareGraftScan(sa.child)
      case v: org.apache.spark.sql.catalyst.plans.logical.View =>
        bareGraftScan(v.child)
      // the rename-to-logical select of a column-mapped register:
      // attribute-or-alias-of-attribute projections only
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project
          if pr.projectList.forall {
            case _: Attribute => true
            case a: org.apache.spark.sql.catalyst.expressions.Alias =>
              a.child.isInstanceOf[Attribute]
            case _ => false
          } => bareGraftScan(pr.child)
      case _ => false
    }
    if (bareGraftScan(plan)) throw new IllegalStateException(
      s"SnapshotSql: temp view '$name' is graft-backed but its DML " +
        "binding did not resolve (the session catalog returned a plan " +
        "instance the registration did not record) — re-register the " +
        "view (SnapshotSql.register/registerLive), bind the name " +
        "explicitly (SnapshotSql.bind), or address the table as " +
        "graft.`<path>`")
    None
  }

  private def activeSession(op: String): SparkSession =
    SparkSession.getActiveSession.getOrElse(
      throw new IllegalStateException(
        s"SnapshotSql.$op: no active SparkSession — use $op(spark, …)"))

  /** The manifest-pruned parquet relation over a pinned snapshot —
    * [[GraftDataSource]]'s bare `spark.read.format("graft")` relation
    * (a HadoopFsRelation IS a V1 BaseRelation, the public
    * Delta-connector layering), with the scan schema physical and the
    * returned StructType logical. */
  private[sources] def relation(spark: SparkSession, dir: String,
                                version: Option[Long]
                               ): (HadoopFsRelation, StructType, Long) = {
    val (v, st) = SnapshotTable.resolve(spark, dir, version, "SnapshotSql")
    val schema = st.schema
    (SnapshotTable.snapshotRelation(spark, dir, st, st.files,
      SnapshotTable.physSchemaOf(st.colMap, schema), sqlSurface = true),
      schema, v)
  }

  /** Build a DataFrame over a snapshot whose scans prune through the
    * manifest: [[SnapshotTable.readFilesWithDv]] over the whole
    * snapshot, with [[SnapshotFileIndex]] pruning on the query's
    * pushed filters and the table's bucket claim reported to Spark.
    * `version` pins time travel (default: latest). Deletion vectors
    * mask ON TOP of the pruned relation, so filters a query pushes
    * still reach [[SnapshotFileIndex.listFiles]] through the
    * anti-join's left side. */
  def dataFrame(spark: SparkSession, dir: String,
                version: Option[Long] = None): DataFrame = {
    val (_, st) = SnapshotTable.resolve(spark, dir, version, "SnapshotSql")
    SnapshotTable.readFilesWithDv(spark, dir, st, st.files,
      sqlSurface = true)
  }

  /** Register the current (or pinned) snapshot as a temp view, so
    * plain `spark.sql` queries read it with manifest pruning. Returns
    * the pinned version. */
  def register(spark: SparkSession, name: String, dir: String,
               version: Option[Long] = None): Long = {
    val (v, _) = SnapshotTable.resolve(spark, dir, version, "SnapshotSql")
    val df = dataFrame(spark, dir, Some(v))
    df.createOrReplaceTempView(name)
    // no explicit bind: the binding is keyed by THIS view's plan
    // objects, so dropping/replacing the view retires the DML address
    // automatically, and clones (which inherit the view by reference)
    // resolve it too
    recordViewBinding(df, dir)
    v
  }

  /** A LIVE (auto-advancing) frame over the table: every query
    * re-resolves the LATEST committed version at scan-build time — no
    * re-registration after commits. Within one query execution all
    * scans of the table pin the SAME version (memoized per Spark SQL
    * execution id), so even a self-join over a concurrently-committing
    * table reads one consistent snapshot — per-query snapshot
    * isolation, read-committed across queries. The scan itself is the
    * same manifest-pruned parquet relation (+ DV masking) as
    * [[dataFrame]], with pushed columns/filters applied inside.
    *
    * The SCHEMA is captured at registration (the add-column-only
    * evolution contract means later versions can only widen; a live
    * view keeps serving its registration-time columns — re-register
    * to surface new ones). */
  def dataFrameLive(spark: SparkSession, dir: String): DataFrame = {
    val (_, st) = SnapshotTable.resolve(spark, dir, None, "SnapshotSql")
    val rel = new LiveSnapshotRelation(spark, dir,
      st.schema)
    val plan = LogicalRelation(rel,
      DataTypeUtils.toAttributes(rel.schema), None, isStreaming = false, None)
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark, plan)
  }

  /** [[register]]'s live twin: a temp view that always reads the
    * table's head — `spark.sql` over a table that other writers keep
    * committing to, with no REFRESH/re-register step. */
  def registerLive(spark: SparkSession, name: String, dir: String): Unit = {
    val df = dataFrameLive(spark, dir)
    df.createOrReplaceTempView(name)
    recordViewBinding(df, dir) // binding rides the view (see register)
  }
}

/** The relation behind [[SnapshotSql.registerLive]]: version
  * resolution deferred to buildScan, memoized per SQL execution so
  * one query's scans agree ([[LiveSnapshotRelation.pinnedVersion]]).
  * Filter/column pushdown follow [[DvMaskedRelation]]'s discipline:
  * pushable filters re-apply INSIDE the inner frame (reaching
  * [[SnapshotFileIndex]] file pruning and parquet row-group filters),
  * everything is declared unhandled so Spark keeps the full residual,
  * and rows hand over as InternalRows (`needConversion = false`). */
final class LiveSnapshotRelation(spark: SparkSession, dir: String,
                                 override val schema: StructType
                                ) extends org.apache.spark.sql.sources.BaseRelation
    with org.apache.spark.sql.sources.PrunedFilteredScan {
  import org.apache.spark.sql.{sources => sf}

  override def sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
  override def needConversion: Boolean = false
  override def unhandledFilters(filters: Array[sf.Filter]): Array[sf.Filter] =
    filters
  // Re-resolved per call: planners read this for broadcast decisions,
  // and a live view's size is the head's size.
  override def sizeInBytes: Long =
    SnapshotTable.latestVersion(spark, dir)
      .map(v => SnapshotTable.manifestSizes(spark, dir, v).values.sum)
      .getOrElse(0L)

  private def pinnedVersion(): Long = {
    val latest = SnapshotTable.latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(
        s"live view: no committed version under $dir"))
    val execId = spark.sparkContext
      .getLocalProperty("spark.sql.execution.id")
    if (execId == null) latest
    else LiveSnapshotRelation.pins.synchronized {
      val key = (new org.apache.hadoop.fs.Path(dir).toUri.getPath, execId)
      val hit = LiveSnapshotRelation.pins.get(key)
      if (hit != null) hit.longValue
      else { LiveSnapshotRelation.pins.put(key, latest); latest }
    }
  }

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[sf.Filter]
                        ): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    var df = SnapshotSql.dataFrame(spark, dir, Some(pinnedVersion()))
    filters.flatMap(filterColumn).foreach(c => df = df.where(c))
    val projected = df.select(requiredColumns.map(
      org.apache.spark.sql.functions.col).toSeq: _*)
    projected.queryExecution.toRdd
      .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
  }

  private def filterColumn(f: sf.Filter
                          ): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case sf.EqualTo(a, v1) => Some(col(a) === lit(v1))
      case sf.GreaterThan(a, v1) => Some(col(a) > lit(v1))
      case sf.GreaterThanOrEqual(a, v1) => Some(col(a) >= lit(v1))
      case sf.LessThan(a, v1) => Some(col(a) < lit(v1))
      case sf.LessThanOrEqual(a, v1) => Some(col(a) <= lit(v1))
      case sf.In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
      case sf.IsNull(a) => Some(col(a).isNull)
      case sf.IsNotNull(a) => Some(col(a).isNotNull)
      case sf.StringStartsWith(a, p) => Some(col(a).startsWith(p))
      case sf.And(l, r) => for { lc <- filterColumn(l); rc <- filterColumn(r) }
        yield lc && rc
      case _ => None
    }
  }

  override def toString: String = s"LiveSnapshotRelation[$dir]"
}

object LiveSnapshotRelation {
  /** (table path, SQL execution id) → pinned version. Bounded LRU —
    * executions are transient, entries just age out. */
  private val pins =
    new java.util.LinkedHashMap[(String, String), java.lang.Long](
        128, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), java.lang.Long]
         ): Boolean = size() > 96
    }
}

/** The [[FileIndex]] of every snapshot scan: `files` of one pinned
  * snapshot state, with statuses built from the MANIFEST's recorded
  * per-file sizes — zero filesystem RPCs on the planning path (the
  * manifest-only-planning property object stores need; modification
  * time is irrelevant to a pinned-snapshot read and stamps 0).
  * With `prune` (the SQL surfaces) [[listFiles]] intersects `files`
  * with the manifest's min/max and Bloom decisions for the query's
  * pushed filters; without it a scan IS its files.
  * Thread-safety: the pruning inputs are immutable snapshot state;
  * `lastDecision` is advisory observability for specs. */
final class SnapshotFileIndex private[sources] (
    spark: SparkSession, dir: String, st: SnapshotTable.TableState,
    files: Seq[String], prune: Boolean) extends FileIndex {

  private val statuses: Map[String, FileStatus] = files.map { key =>
    val len = st.sizes(key)
    key -> new FileStatus(len, false, 1, len, 0L, SnapshotTable.absPath(dir, key))
  }.toMap

  /** (selected, total) of the most recent listFiles pruning decision —
    * the observability hook PlanSpec pins file-level skipping on. */
  @volatile var lastDecision: (Int, Int) = (-1, -1)

  override def rootPaths: Seq[Path] = Seq(new Path(dir))
  override def partitionSchema: StructType = new StructType()
  override def inputFiles: Array[String] =
    statuses.values.map(_.getPath.toString).toArray
  override def refresh(): Unit = () // pinned snapshot: nothing to refresh
  override def sizeInBytes: Long = statuses.values.map(_.getLen).sum

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]
                        ): Seq[PartitionDirectory] = {
    // Conjunctive bound extraction: each top-level conjunct that is a
    // simple <attr> <op> <literal> comparison prunes independently and
    // the selections intersect; anything else is ignored (kept files,
    // never dropped — pruning stays conservative, Spark applies the
    // full residual).
    val conjuncts = if (prune) dataFilters.flatMap(splitAnd) else Nil
    var selected: Set[String] = statuses.keySet
    // Attribute names here come from the SCAN schema — PHYSICAL under
    // an active column mapping — so the probe must go through the
    // physical (translation-free) pruning variants.
    conjuncts.foreach {
      case Eq(c, v) =>
        selected = selected.intersect(
          SnapshotTable.pruneFilesEqPhys(spark, dir, c, v, st)._1.toSet)
      case Range(c, lo, hi) =>
        selected = selected.intersect(
          SnapshotTable.pruneFilesBoundsPhys(st, c, lo, hi)._1.toSet)
      case _ => () // unrecognized shape: never prunes
    }
    lastDecision = (selected.size, statuses.size)
    Seq(PartitionDirectory(InternalRow.empty,
      selected.toSeq.sorted.map(statuses).toArray[FileStatus]))
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** `<attr> = <literal>` in either order. */
  private object Eq {
    def unapply(e: Expression): Option[(String, Any)] = e match {
      case EqualTo(a: Attribute, Literal(v, _)) if v != null =>
        Some(a.name -> toScala(v))
      case EqualTo(Literal(v, _), a: Attribute) if v != null =>
        Some(a.name -> toScala(v))
      case _ => None
    }
  }

  /** `<attr> <cmp> <literal>` (either order) as an inclusive bound —
    * strict comparisons keep the inclusive bound (conservative: at
    * worst one extra file kept, never one wrongly skipped). */
  private object Range {
    def unapply(e: Expression): Option[(String, Option[Any], Option[Any])] =
      e match {
        case GreaterThanOrEqual(a: Attribute, Literal(v, _)) if v != null =>
          Some((a.name, Some(toScala(v)), None))
        case GreaterThan(a: Attribute, Literal(v, _)) if v != null =>
          Some((a.name, Some(toScala(v)), None))
        case LessThanOrEqual(a: Attribute, Literal(v, _)) if v != null =>
          Some((a.name, None, Some(toScala(v))))
        case LessThan(a: Attribute, Literal(v, _)) if v != null =>
          Some((a.name, None, Some(toScala(v))))
        case GreaterThanOrEqual(Literal(v, _), a: Attribute) if v != null =>
          Some((a.name, None, Some(toScala(v))))
        case GreaterThan(Literal(v, _), a: Attribute) if v != null =>
          Some((a.name, None, Some(toScala(v))))
        case LessThanOrEqual(Literal(v, _), a: Attribute) if v != null =>
          Some((a.name, Some(toScala(v)), None))
        case LessThan(Literal(v, _), a: Attribute) if v != null =>
          Some((a.name, Some(toScala(v)), None))
        case _ => None
      }
  }

  /** Catalyst literal values → the JVM types the pruning canon
    * understands (UTF8String → String; Decimal → BigDecimal; date/ts
    * internal ints/longs pass through canonBound's Number arm). */
  private def toScala(v: Any): Any = v match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
    case other => other
  }
}
