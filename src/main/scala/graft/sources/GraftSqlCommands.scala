package graft.sources

import org.apache.spark.sql.{Column, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.{CatalystSqlParser,
  ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The SQL **write** surface of [[SnapshotTable]] (reference behavior:
  * main.py delegates every mutation to BigQuery DML / Firestore
  * writes; here the table format itself serves them). A session built
  * with `spark.sql.extensions=graft.plans.GraftExtensions` runs each
  * statement below as the [[SnapshotTable]] call it names.
  *
  * **Parsed by Spark**; [[GraftRelationResolution]] rewrites the
  * typed plan into one of the commands here when the target is a
  * graft table:
  *
  *   - `DELETE FROM t [WHERE …]`                     → [[SnapshotTable.deleteWhere]]
  *   - `UPDATE t SET a = …, b = … [WHERE …]`         → [[SnapshotTable.updateWhere]]
  *   - `MERGE INTO t USING src ON t.k = src.k
  *      WHEN MATCHED THEN UPDATE SET *
  *      WHEN NOT MATCHED THEN INSERT *`              → [[SnapshotTable.merge]] (key upsert)
  *   - `MERGE INTO t USING src ON … WHEN [NOT] MATCHED [BY SOURCE]
  *      [AND cond] THEN …` (any other clause set)   → [[SnapshotTable.mergeInto]]
  *   - `INSERT INTO|OVERWRITE [TABLE] t <query>`     → [[SnapshotTable.append]] / [[SnapshotTable.overwrite]] (positional)
  *   - `TRUNCATE TABLE t`                            → delete-all (one commit; time travel keeps history)
  *   - `ALTER TABLE t ADD COLUMN c <type> [DEFAULT lit]` → [[SnapshotTable.addColumn]]
  *   - `ALTER TABLE t RENAME COLUMN a TO b`          → [[SnapshotTable.renameColumn]]
  *   - `ALTER TABLE t DROP COLUMN a`                 → [[SnapshotTable.dropColumn]]
  *   - `ALTER TABLE t ALTER COLUMN c TYPE <wider>`   → [[SnapshotTable.widenColumn]]
  *   - `ALTER TABLE t ADD CONSTRAINT n CHECK (…)`    → [[SnapshotTable.addConstraint]]
  *   - `ALTER TABLE t DROP CONSTRAINT n`             → [[SnapshotTable.dropConstraint]]
  *   - `ALTER TABLE t SET TBLPROPERTIES ('k'='v')`   → [[SnapshotTable.setProperties]]
  *   - `ALTER TABLE t UNSET TBLPROPERTIES ('k')`     → [[SnapshotTable.unsetProperties]]
  *   - `SHOW TBLPROPERTIES t [('k')]`                → the recorded properties
  *   - `CREATE TABLE graft.`p` (cols)`               → [[SnapshotTable.createEmpty]]
  *   - `CREATE [OR REPLACE] TABLE graft.`p` AS <q>`  → CTAS into a fresh/replaced table
  *   - `CREATE TABLE graft.`p` PARTITIONED BY (…) | CLUSTERED BY (…)
  *      [SORTED BY (…)] INTO n BUCKETS AS <q>`       → [[SnapshotTable.appendPartitioned]] / [[SnapshotTable.appendBucketed]]
  *
  * **Pre-parsed here** ([[tryParse]]), because Spark's grammar has no
  * such verb:
  *
  *   - `OPTIMIZE t`                                  → [[SnapshotTable.binPackSmall]]
  *   - `OPTIMIZE t ZORDER BY (c1, c2)`               → [[SnapshotTable.compact]] (Z-order)
  *   - `OPTIMIZE t WHERE c BETWEEN lo AND hi`        → [[SnapshotTable.compactWhere]]
  *   - `VACUUM t [RETAIN n VERSIONS|HOURS] [DRY RUN]` → [[SnapshotTable.vacuum]]/[[SnapshotTable.vacuumPreview]]
  *   - `RESTORE [TABLE] t [TO] VERSION|TIMESTAMP AS OF …` → [[SnapshotTable.restore]]
  *   - `DESCRIBE HISTORY t`                          → [[SnapshotTable.history]]
  *   - `DESCRIBE DETAIL t`                           → metadata-only summary row
  *   - `SHOW CONSTRAINTS [ON] t`                     → the recorded CHECK policy
  *   - `CREATE TABLE graft.`dst` SHALLOW CLONE t
  *      [VERSION AS OF n]`                           → [[SnapshotTable.shallowClone]]
  *
  * With `graft.enableDeletionVectors` = `true` recorded in the
  * table's properties, DELETE and UPDATE route through the
  * merge-on-read deletion-vector paths instead of copy-on-write —
  * write cost proportional to matched rows; `OPTIMIZE` materializes.
  *
  * **Table addressing**: `graft.`/abs/path`` (the Delta path idiom)
  * or a name bound by [[SnapshotSql.register]] /
  * [[SnapshotSql.registerLive]] / [[SnapshotSql.bind]]. A statement
  * whose target resolves to NEITHER reaches Spark untouched, so
  * injecting graft cannot change the behavior of any non-graft SQL. A
  * statement that DOES address a graft table but uses an unsupported
  * shape fails with graft's own message naming the supported forms
  * (Spark's view-is-not-writable errors would point elsewhere).
  *
  * Each statement is a Spark `RunnableCommand`: `spark.sql(…)`
  * executes it eagerly and returns its summary row(s) (committed
  * version, rows deleted, files vacuumed, …) as a regular DataFrame.
  * Expressions (WHERE conditions, SET values) are the parsed
  * Catalyst expressions carried as Columns, and queries the parsed
  * plans; both are resolved by Spark's analyzer against the table's
  * LOGICAL schema at run time — column mapping, deletion vectors and
  * every other manifest feature apply exactly as through the Scala
  * API, because these commands ARE the Scala API. */
object GraftSqlCommands {

  /** Split on top-level commas (`ZORDER BY (a, f(b, c))` must not
    * split inside the call). */
  private def splitTopCommas(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var start = 0; var i = 0; var depth = 0
    var inS = false; var inD = false; var inB = false
    while (i < s.length) {
      val c = s.charAt(i)
      if ((inS || inD) && c == '\\') i += 1
      else if (inS) { if (c == '\'') inS = false }
      else if (inD) { if (c == '"') inD = false }
      else if (inB) { if (c == '`') inB = false }
      else c match {
        case '\'' => inS = true
        case '"' => inD = true
        case '`' => inB = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** A table reference token: `graft.`path``, a backquoted name, or a
    * plain identifier. Returns (directory, matched length) when the
    * reference resolves to a graft table; None otherwise (→ the whole
    * statement delegates to Spark). Bare names resolve against the
    * PARSING session's address book ([[SnapshotSql.boundDir]]) — a
    * session that never bound the name delegates to Spark. */
  private def resolveTableAt(spark: SparkSession,
                             s: String): Option[(String, Int)] = {
    val GraftPath = """(?is)^graft\.`([^`]+)`""".r
    val Quoted = """(?s)^`([^`]+)`""".r
    val Ident = """(?s)^([A-Za-z_][A-Za-z0-9_]*)""".r
    GraftPath.findFirstMatchIn(s)
      .map(m => Some((m.group(1), m.end)))
      .getOrElse {
        val nm = Quoted.findFirstMatchIn(s).map(m => (m.group(1), m.end))
          .orElse(Ident.findFirstMatchIn(s).map(m => (m.group(1), m.end)))
        nm.flatMap { case (name, len) =>
          SnapshotSql.boundDir(spark, name).map(dir => (dir, len)) }
      }
  }

  private[sources] def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"graft SQL: $msg")

  /** INSERT/MERGE's implicit-cast discipline honors
    * `spark.sql.storeAssignmentPolicy` (Spark's default: ANSI): an
    * overflowing or malformed value FAILS the statement loudly —
    * exactly native INSERT INTO behavior — instead of silently
    * landing NULL / truncated via the permissive cast. LEGACY
    * restores the permissive cast; STRICT additionally REFUSES any
    * cast that is not a safe up-cast when the source type is known
    * (`from`). Every caller now knows its source types at command
    * time — INSERT from the query schema, MERGE SET/INSERT exprs from
    * the when-chains resolved against the join schema — so STRICT is
    * a command-time refusal everywhere, never a runtime surprise. */
  private[sources] def storeCast(spark: SparkSession,
                                 c: Column,
                                 dt: DataType,
                                 from: Option[DataType] = None
                                ): Column = {
    val policy = spark.conf.get("spark.sql.storeAssignmentPolicy", "ANSI")
    if (policy.equalsIgnoreCase("STRICT")) from.foreach { f =>
      if (f != dt &&
          !org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(f, dt))
        fail(s"cannot safely cast ${f.simpleString} to ${dt.simpleString} " +
          "under spark.sql.storeAssignmentPolicy=STRICT")
    }
    // EvalMode pinned EXPLICITLY both ways: a plain Column.cast keys
    // off spark.sql.ansi.enabled, not the store-assignment policy.
    val mode =
      if (policy.equalsIgnoreCase("LEGACY"))
        org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY
      else org.apache.spark.sql.catalyst.expressions.EvalMode.ANSI
    GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.Cast(
        GraftSqlBridge.expression(c), dt, None, mode))
  }

  /** The Scala value of a literal expression (a folded `-1` too):
    * OPTIMIZE's BETWEEN bounds, ADD COLUMN's DEFAULT. */
  private[sources] def literalValue(e: Expression): Any =
    if (e.resolved && e.foldable)
      CatalystTypeConverters.convertToScala(e.eval(), e.dataType)
    else fail(s"expected a literal, got: ${e.sql}")

  /** Backquote-stripped identifier. */
  private def unqIdent(c0: String): String = {
    val c = c0.trim
    if (c.startsWith("`") && c.endsWith("`") && c.length > 1)
      c.substring(1, c.length - 1) else c
  }

  // ------------------------------------------------------------------
  // The pre-parser — only the verbs Spark's grammar lacks; None = not
  // ours, delegate to Spark's parser
  // ------------------------------------------------------------------

  def tryParse(spark: SparkSession, sqlText: String): Option[LogicalPlan] = {
    val s0 = sqlText.trim
    val s = if (s0.endsWith(";")) s0.dropRight(1).trim else s0
    val head = s.takeWhile(c => Character.isLetter(c))
      .toUpperCase(java.util.Locale.ROOT)
    head match {
      case "OPTIMIZE" => parseOptimize(spark, s)
      case "VACUUM" => parseVacuum(spark, s)
      case "RESTORE" => parseRestore(spark, s)
      case "DESCRIBE" | "DESC" =>
        parseDescribeHistory(spark, s).orElse(parseDescribeDetail(spark, s))
      case "SHOW" => parseShowConstraints(spark, s)
      case "CREATE" => parseClone(spark, s)
      case _ => None
    }
  }

  private val Ws = """\s+"""

  /** `CREATE TABLE graft.`dst` SHALLOW CLONE <src> [VERSION AS OF n]`.
    * Only a `graft.`path`` destination followed by SHALLOW CLONE is
    * claimed; every other CREATE TABLE (including ones that merely
    * contain the word SHALLOW as a column or table name) goes to
    * Spark's parser. */
  private def parseClone(spark: SparkSession, s: String): Option[LogicalPlan] = {
    val m = (s"""(?is)^CREATE$Ws(?:(OR${Ws}REPLACE)$Ws)?TABLE${Ws}""" +
      s"""graft\\.`([^`]+)`${Ws}SHALLOW${Ws}CLONE$Ws""").r
      .findFirstMatchIn(s).getOrElse(return None)
    if (m.group(1) != null) fail("CREATE OR REPLACE … SHALLOW CLONE is " +
      "not supported — clone into a fresh directory")
    val tail = s.substring(m.end)
    val (src, len) = resolveTableAt(spark, tail).getOrElse(
      fail(s"SHALLOW CLONE: unknown source table: ${tail.trim}"))
    val V = s"""(?is)^VERSION${Ws}AS${Ws}OF$Ws(\\d+)$$""".r
    val version = tail.substring(len).trim match {
      case "" => None
      case V(n) => Some(n.toLong)
      case other => fail(
        s"SHALLOW CLONE: expected [VERSION AS OF n], got: $other")
    }
    Some(GraftCloneCommand(src, m.group(2), version))
  }

  private def parseOptimize(spark: SparkSession, s: String): Option[LogicalPlan] = {
    val m = s"""(?is)^OPTIMIZE$Ws""".r.findFirstMatchIn(s)
      .getOrElse(return None)
    val rest = s.substring(m.end)
    val (dir, len) = resolveTableAt(spark, rest).getOrElse(return None)
    val tail = rest.substring(len).trim
    if (tail.isEmpty) return Some(GraftOptimizeCommand(dir, None, Nil))
    val Z = s"""(?is)^ZORDER${Ws}BY\\s*\\(([^)]*)\\)$$""".r
    val W =
      s"""(?is)^WHERE$Ws(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)${Ws}BETWEEN$Ws(.+?)${Ws}AND$Ws(.+)$$""".r
    tail match {
      case Z(cols) =>
        val cs = splitTopCommas(cols).map(unqIdent)
        if (cs.isEmpty) fail("OPTIMIZE ZORDER BY (…) needs at least one column")
        Some(GraftOptimizeCommand(dir, None, cs))
      case W(c, lo, hi) =>
        Some(GraftOptimizeCommand(dir, Some((unqIdent(c), lo.trim, hi.trim)),
          Nil))
      case _ => fail("OPTIMIZE <t> [ZORDER BY (c1, c2)] | " +
        s"[WHERE <col> BETWEEN <lit> AND <lit>] — got: $tail")
    }
  }

  private def parseVacuum(spark: SparkSession, s: String): Option[LogicalPlan] = {
    val m = s"""(?is)^VACUUM$Ws""".r.findFirstMatchIn(s).getOrElse(return None)
    val rest = s.substring(m.end)
    val (dir, len) = resolveTableAt(spark, rest).getOrElse(return None)
    var tail = rest.substring(len).trim
    var keep = 2
    var hours: Option[Long] = None
    val R = s"""(?is)^RETAIN$Ws(\\d+)$Ws(VERSIONS|HOURS)\\s*""".r
    R.findFirstMatchIn(tail).foreach { rm =>
      if (rm.group(2).equalsIgnoreCase("HOURS"))
        hours = Some(rm.group(1).toLong)
      else keep = rm.group(1).toInt
      tail = tail.substring(rm.end).trim
    }
    val dry = s"""(?is)^DRY${Ws}RUN$$""".r.findFirstIn(tail).isDefined
    if (!dry && tail.nonEmpty)
      fail(s"VACUUM <t> [RETAIN n VERSIONS | RETAIN n HOURS] [DRY RUN]" +
        s" — got: $tail")
    Some(GraftVacuumCommand(dir, keep, dry, hours))
  }

  private def parseRestore(spark: SparkSession, s: String): Option[LogicalPlan] = {
    val M =
      s"""(?is)^RESTORE$Ws(?:TABLE$Ws)?""".r.findFirstMatchIn(s)
        .getOrElse(return None)
    val rest = s.substring(M.end)
    val (dir, len) = resolveTableAt(spark, rest).getOrElse(return None)
    val tail = rest.substring(len).trim
    val V = s"""(?is)^(?:TO$Ws)?VERSION${Ws}AS${Ws}OF$Ws(\\d+)$$""".r
    val T =
      s"""(?is)^(?:TO$Ws)?TIMESTAMP${Ws}AS${Ws}OF$Ws'([^']+)'$$""".r
    tail match {
      case V(v) => Some(GraftRestoreCommand(dir, Some(v.toLong), None))
      case T(ts) => Some(GraftRestoreCommand(dir, None, Some(ts)))
      case _ => fail("RESTORE [TABLE] <t> [TO] VERSION AS OF <n> | " +
        s"TIMESTAMP AS OF '<ts>' — got: $tail")
    }
  }

  private def parseDescribeHistory(spark: SparkSession, s: String): Option[LogicalPlan] = {
    val m = s"""(?is)^DESC(?:RIBE)?${Ws}HISTORY$Ws""".r.findFirstMatchIn(s)
      .getOrElse(return None)
    val rest = s.substring(m.end)
    val (dir, len) = resolveTableAt(spark, rest).getOrElse(return None)
    val tail = rest.substring(len).trim
    if (tail.nonEmpty) fail(
      s"DESCRIBE HISTORY <t> takes no further clauses — got: $tail")
    Some(GraftHistoryCommand(dir))
  }

  private def parseDescribeDetail(spark: SparkSession, s: String): Option[LogicalPlan] = {
    val m = s"""(?is)^DESC(?:RIBE)?${Ws}DETAIL$Ws""".r.findFirstMatchIn(s)
      .getOrElse(return None)
    val rest = s.substring(m.end)
    val (dir, len) = resolveTableAt(spark, rest).getOrElse(return None)
    val tail = rest.substring(len).trim
    if (tail.nonEmpty) fail(
      s"DESCRIBE DETAIL <t> takes no further clauses — got: $tail")
    Some(GraftDetailCommand(dir))
  }

  private def parseShowConstraints(spark: SparkSession, s: String): Option[LogicalPlan] = {
    val m = s"""(?is)^SHOW${Ws}CONSTRAINTS$Ws(?:ON$Ws)?""".r
      .findFirstMatchIn(s).getOrElse(return None)
    val rest = s.substring(m.end)
    val (dir, len) = resolveTableAt(spark, rest).getOrElse(return None)
    val tail = rest.substring(len).trim
    if (tail.nonEmpty) fail(
      s"SHOW CONSTRAINTS [ON] <t> takes no further clauses — got: $tail")
    Some(GraftShowConstraintsCommand(dir))
  }

  // ------------------------------------------------------------------
  // Commands (each is the corresponding SnapshotTable call)
  // ------------------------------------------------------------------

  private def longAttr(n: String, nullable: Boolean = false): Attribute =
    AttributeReference(n, LongType, nullable)()

  /** `DELETE FROM` / `TRUNCATE TABLE` → CoW
    * [[SnapshotTable.deleteWhere]]. `rows_deleted` comes from the
    * metadata-only [[SnapshotTable.countRows]] fold (exact, no scan). */
  case class GraftDeleteCommand(dir: String, cond: Column)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(longAttr("version", nullable = true), longAttr("rows_deleted"))
    override def run(spark: SparkSession): Seq[Row] = {
      val pre = SnapshotTable.countRows(spark, dir)
      // graft.enableDeletionVectors routes through merge-on-read —
      // write cost ∝ matched rows; compact materializes later
      val v = if (morEnabled(spark, dir))
        SnapshotTable.deleteWhereMor(spark, dir, cond)
      else SnapshotTable.deleteWhere(spark, dir, cond)
      val post = SnapshotTable.countRows(spark, dir)
      Seq(Row(v.map(Long.box).orNull, pre - post))
    }
  }

  /** `UPDATE` → CoW [[SnapshotTable.updateWhere]] (SET expressions
    * all see the PRE-update row, SQL semantics). */
  case class GraftUpdateCommand(dir: String, sets: Seq[(String, Column)],
                                cond: Column)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version", nullable = true))
    override def run(spark: SparkSession): Seq[Row] = {
      val v = if (morEnabled(spark, dir))
        SnapshotTable.updateWhereMor(spark, dir, cond, sets)
      else SnapshotTable.updateWhere(spark, dir, cond, sets)
      Seq(Row(v.map(Long.box).orNull))
    }
  }

  /** `MERGE INTO … WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
    * THEN INSERT *` → the whole-row key upsert, [[SnapshotTable.merge]].
    * The source is the parsed plan (a view name or an inline
    * subquery), analyzed at run time. */
  case class GraftMergeCommand(dir: String, source: LogicalPlan,
                               keys: Seq[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"))
    override def run(spark: SparkSession): Seq[Row] = {
      val src0 = GraftSqlBridge.ofRows(spark, source)
      // SQL MERGE's implicit-cast contract: source columns that the
      // table also has cast to the table's types BY NAME (an INT
      // subquery literal merges into a BIGINT column), under the
      // session's storeAssignmentPolicy (ANSI default: overflow /
      // malformed values fail loudly); source-only columns pass
      // through for add-column evolution.
      val src = SnapshotTable.latestVersion(spark, dir)
        .map(v => SnapshotTable.snapshot(spark, dir, v).schema) match {
        case Some(schema) =>
          val types = schema.fields.map(f => f.name -> f.dataType).toMap
          src0.select(src0.columns.map(c =>
            types.get(c).map(t => storeCast(spark, col(c), t,
                from = Some(src0.schema(c).dataType)).as(c))
              .getOrElse(col(c))).toSeq: _*)
        case None => src0
      }
      Seq(Row(SnapshotTable.merge(spark, dir, src, keys)))
    }
  }

  /** The generalized MERGE — conditional multi-clause form routed to
    * [[SnapshotTable.mergeInto]] (the whole-row `UPDATE SET * /
    * INSERT *` pair keeps [[GraftMergeCommand]]'s kernel). */
  case class GraftMergeIntoCommand(dir: String,
                                   source: LogicalPlan,
                                   keys: Seq[String],
                                   tAlias: String, sAlias: String,
                                   matched: Seq[SnapshotTable.MergeClause],
                                   notMatched: Seq[SnapshotTable.MergeClause],
                                   bySource: Seq[SnapshotTable.MergeClause],
                                   srcKeys: Seq[String] = Nil)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(longAttr("version", nullable = true))
    override def run(spark: SparkSession): Seq[Row] = {
      val src = GraftSqlBridge.ofRows(spark, source)
      Seq(Row(SnapshotTable.mergeInto(spark, dir, src, keys,
        matched, notMatched, bySource, tAlias, sAlias,
        sourceKeys = srcKeys)
        .map(Long.box).orNull))
    }
  }

  /** `INSERT INTO|OVERWRITE t <query>` → [[SnapshotTable.append]] /
    * the atomic [[SnapshotTable.overwrite]] REPLACE. SQL INSERT is
    * POSITIONAL: when the table has a recorded schema the query's
    * columns are renamed (and cast, INSERT's implicit-cast contract)
    * to it by position, arity-checked. A first write into an empty
    * directory lands the query's own shape. */
  case class GraftInsertCommand(dir: String, query: LogicalPlan,
                                overwrite: Boolean = false)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"))
    override def run(spark: SparkSession): Seq[Row] = {
      val q = GraftSqlBridge.ofRows(spark, query)
      val aligned = SnapshotTable.latestVersion(spark, dir)
        .map(v => SnapshotTable.snapshot(spark, dir, v).schema) match {
        case Some(schema) =>
          if (q.schema.length != schema.length)
            fail(s"INSERT: query has ${q.schema.length} columns, " +
              s"table has ${schema.length}")
          // strictly positional (toDF renames by position — selecting
          // by the query's own names would break on duplicate aliases);
          // casts follow storeAssignmentPolicy (ANSI default — a
          // mis-ordered or mistyped INSERT fails loudly, like Spark's
          // own INSERT INTO, instead of silently nulling a column)
          q.toDF(schema.fieldNames.toIndexedSeq: _*)
            .select(schema.fields.zipWithIndex.map { case (f, i) =>
              storeCast(spark, col(f.name), f.dataType,
                from = Some(q.schema(i).dataType)).as(f.name)
            }.toSeq: _*)
        case None => q
      }
      Seq(Row(
        if (overwrite) SnapshotTable.overwrite(aligned, dir)
        else SnapshotTable.append(aligned, dir)))
    }
  }

  /** `CREATE [OR REPLACE] TABLE graft.`path` [layout] AS <query>` —
    * CTAS, optionally routed through the partitioned / bucketed
    * writers so the SQL-created table plans with the same pruning /
    * zero-Exchange properties as the API path. Layouts need a FRESH
    * directory. */
  case class GraftCtasCommand(dir: String, query: LogicalPlan,
                              replace: Boolean,
                              partitionBy: Seq[String] = Nil,
                              bucket: Option[(Seq[String], Seq[String], Int)]
                                = None)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"))
    override def run(spark: SparkSession): Seq[Row] = {
      val exists = SnapshotTable.latestVersion(spark, dir).nonEmpty
      if (exists && !replace) fail(
        s"CREATE TABLE: a snapshot table already exists under $dir — " +
          "use CREATE OR REPLACE TABLE")
      if (exists && (partitionBy.nonEmpty || bucket.nonEmpty)) fail(
        "CREATE TABLE with a layout clause requires a fresh directory")
      val q = GraftSqlBridge.ofRows(spark, query)
      val v =
        if (partitionBy.nonEmpty)
          SnapshotTable.appendPartitioned(q, dir, partitionBy)
        else bucket match {
          case Some((bCols, sCols, n)) =>
            SnapshotTable.appendBucketed(q, dir, bCols, n, sCols)
          case None =>
            if (exists) SnapshotTable.overwrite(q, dir)
            else SnapshotTable.append(q, dir)
        }
      Seq(Row(v))
    }
  }

  /** `CREATE TABLE graft.`p` (cols)` → [[SnapshotTable.createEmpty]]:
    * a v0 manifest recording the declared schema, zero data files. */
  case class GraftCreateEmptyCommand(dir: String, columns: StructType)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"))
    override def run(spark: SparkSession): Seq[Row] =
      Seq(Row(SnapshotTable.createEmpty(spark, dir, columns)))
  }

  /** The metadata-only `ALTER TABLE` forms: `change` is the one
    * [[SnapshotTable]] call (schema, constraint or property commit)
    * and returns the committed version. */
  case class GraftAlterCommand(dir: String,
                               change: (SparkSession, String) => Long)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"))
    override def run(spark: SparkSession): Seq[Row] =
      Seq(Row(change(spark, dir)))
  }

  /** `OPTIMIZE` → bin-pack small files (Delta's default), Z-order
    * rewrite, or the stats-pruned scoped form. */
  case class GraftOptimizeCommand(dir: String,
                                  between: Option[(String, String, String)],
                                  zorder: Seq[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version", nullable = true))
    override def run(spark: SparkSession): Seq[Row] = {
      val v = between match {
        case Some((c, lo, hi)) =>
          SnapshotTable.compactWhere(spark, dir, c,
            literalValue(CatalystSqlParser.parseExpression(lo)),
            literalValue(CatalystSqlParser.parseExpression(hi)))
        case None if zorder.nonEmpty =>
          SnapshotTable.compact(spark, dir, zOrderBy = zorder)
        case None =>
          SnapshotTable.binPackSmall(spark, dir,
            smallerThanBytes = 128L * 1024 * 1024)
      }
      Seq(Row(v.map(Long.box).orNull))
    }
  }

  /** `VACUUM [DRY RUN]` → retention GC / its read-only preview.
    * minAgeMs=0: the SQL surface assumes no in-flight writer (the
    * programmatic API keeps the safe default). */
  case class GraftVacuumCommand(dir: String, keepVersions: Int,
                                dryRun: Boolean,
                                retainHours: Option[Long] = None)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      if (dryRun) Seq(longAttr("files_eligible"), longAttr("manifests_below"))
      else Seq(longAttr("files_deleted"))
    override def run(spark: SparkSession): Seq[Row] = {
      // RETAIN n HOURS translates through the adjusted commit
      // timeline: every version inside the window survives
      val keep = retainHours match {
        case Some(h) => SnapshotTable.keepVersionsForRetention(
          spark, dir, h * 3600L * 1000L)
        case None => keepVersions
      }
      if (dryRun) {
        val (files, manifests) =
          SnapshotTable.vacuumPreview(spark, dir, keep, minAgeMs = 0L)
        Seq(Row(files.toLong, manifests.toLong))
      } else Seq(Row(
        SnapshotTable.vacuum(spark, dir, keep, minAgeMs = 0L).toLong))
    }
  }

  /** `RESTORE … VERSION AS OF n | TIMESTAMP AS OF 'ts'` →
    * [[SnapshotTable.restore]], timestamps resolved through the same
    * adjusted commit timeline as read-side time travel. */
  case class GraftRestoreCommand(dir: String, toVersion: Option[Long],
                                 toTimestamp: Option[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version", nullable = true))
    override def run(spark: SparkSession): Seq[Row] = {
      val v = toVersion.getOrElse {
        val t = toTimestamp.get
        val millis = scala.util.Try(t.toLong).getOrElse(
          java.sql.Timestamp.valueOf(t).getTime)
        SnapshotTable.versionAtTimestamp(spark, dir, millis)
      }
      Seq(Row(SnapshotTable.restore(spark, dir, v).map(Long.box).orNull))
    }
  }

  /** `SHOW TBLPROPERTIES [(key)]` → the recorded key/value pairs. */
  case class GraftShowPropsCommand(dir: String, key: Option[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("key", StringType, nullable = false)(),
      AttributeReference("value", StringType, nullable = false)())
    override def run(spark: SparkSession): Seq[Row] = {
      val v = SnapshotTable.latestVersion(spark, dir).getOrElse(
        fail(s"SHOW TBLPROPERTIES: no committed version under $dir"))
      SnapshotTable.snapshot(spark, dir, v).props
        .filter(kv => key.forall(_ == kv._1))
        .toSeq.sortBy(_._1).map { case (k, value) => Row(k, value) }
    }
  }

  /** True when the table's recorded properties route row-level DML
    * through merge-on-read deletion vectors. */
  private def morEnabled(spark: SparkSession, dir: String): Boolean =
    SnapshotTable.latestVersion(spark, dir).exists(v =>
      SnapshotTable.snapshot(spark, dir, v).props
        .get(SnapshotTable.EnableDeletionVectorsKey).exists(_.toBoolean))

  /** `DESCRIBE DETAIL` → one metadata-only summary row (`n_rows` is
    * the manifest fold of [[SnapshotTable.countRows]] — no scan). */
  case class GraftDetailCommand(dir: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      longAttr("version"), longAttr("n_files"), longAttr("total_bytes"),
      longAttr("n_rows"),
      AttributeReference("schema", StringType, nullable = false)(),
      AttributeReference("features", StringType, nullable = false)())
    override def run(spark: SparkSession): Seq[Row] = {
      val v = SnapshotTable.latestVersion(spark, dir).getOrElse(
        fail(s"DESCRIBE DETAIL: no committed version under $dir"))
      val snap = SnapshotTable.snapshot(spark, dir, v)
      val rows = SnapshotTable.countRows(spark, dir, Some(v))
      val schema = snap.schema
        .map(f => s"${f.name} ${f.dataType.simpleString}").mkString(", ")
      val feats = Seq(
        if (snap.colMap.nonEmpty || snap.retired.nonEmpty) Some("colmap")
        else None,
        if (snap.dvRefs.nonEmpty) Some("dv") else None,
        if (snap.constraints.nonEmpty) Some("constraints") else None,
        snap.bucket.map(b =>
          s"bucket(${b.cols.mkString(",")};${b.numBuckets})")
      ).flatten.mkString(" ")
      Seq(Row(v, snap.files.size.toLong, snap.sizes.values.sum, rows, schema,
        feats))
    }
  }

  /** `SHOW CONSTRAINTS` → the table's recorded CHECK policy. */
  case class GraftShowConstraintsCommand(dir: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("name", StringType, nullable = false)(),
      AttributeReference("expr", StringType, nullable = false)())
    override def run(spark: SparkSession): Seq[Row] = {
      val v = SnapshotTable.latestVersion(spark, dir).getOrElse(
        fail(s"SHOW CONSTRAINTS: no committed version under $dir"))
      SnapshotTable.snapshot(spark, dir, v).constraints
        .toSeq.sortBy(_._1).map { case (n, e) => Row(n, e) }
    }
  }

  /** `CREATE TABLE graft.`dst` SHALLOW CLONE src [VERSION AS OF n]` →
    * [[SnapshotTable.shallowClone]] — branch in one manifest write. */
  case class GraftCloneCommand(srcDir: String, dstDir: String,
                               version: Option[Long])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"))
    override def run(spark: SparkSession): Seq[Row] =
      Seq(Row(SnapshotTable.shallowClone(spark, srcDir, dstDir, version)))
  }

  /** `DESCRIBE HISTORY` → the commit log (version, op, commit_ts,
    * add/remove/file/byte counts). Control-plane sized: one row per
    * surviving version. */
  case class GraftHistoryCommand(dir: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      longAttr("version"),
      AttributeReference("op", StringType, nullable = false)(),
      longAttr("commit_ts"),
      longAttr("n_added"), longAttr("n_removed"),
      longAttr("n_files"), longAttr("total_bytes"))
    override def run(spark: SparkSession): Seq[Row] =
      SnapshotTable.history(spark, dir).collect().toSeq
  }
}

/** The injected parser: graft's own verbs (OPTIMIZE, VACUUM,
  * RESTORE, DESCRIBE HISTORY/DETAIL, SHOW CONSTRAINTS, SHALLOW CLONE)
  * first, Spark's parser for everything else — including graft DML
  * and DDL, which [[GraftRelationResolution]] rewrites after parsing
  * (see [[GraftSqlCommands]]). Carries ITS session so bare table names
  * resolve against that session's address book, never another's. */
class GraftSqlParser(session: SparkSession,
                     delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlCommands.tryParse(session, sqlText)
      .getOrElse(delegate.parsePlan(sqlText))
  override def parseExpression(sqlText: String) =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String) =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String) =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String) =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String) = delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String) =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String) =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String) = delegate.parseDataType(sqlText)
}
