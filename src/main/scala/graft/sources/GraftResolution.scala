package graft.sources

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel,
  UnresolvedAttribute, UnresolvedFieldName, UnresolvedIdentifier,
  UnresolvedRelation, UnresolvedTable, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression,
  Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint,
  AddColumns, AlterColumnSpec, AlterColumns, Assignment, CreateTable,
  CreateTableAsSelect, DeleteAction, DeleteFromTable, DropColumns,
  DropConstraint, Filter, InsertAction, InsertIntoStatement,
  InsertStarAction, LogicalPlan, MergeIntoTable, OptionList,
  QualifiedColType, RenameColumn, ReplaceTable, ReplaceTableAsSelect,
  SetTableProperties, ShowTableProperties, SubqueryAlias, TruncateTable,
  UnresolvedTableSpec, UnsetTableProperties, UpdateAction,
  UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{StringType, StructType, TimestampType}
import GraftSqlCommands._
import SnapshotTable.{MergeAction, MergeClause}

/** Analyzer rule (injected via `SparkSessionExtensions
  * .injectHintResolutionRule`, the public Delta path-table idiom) that
  * serves graft tables from plain SQL in two ways.
  *
  * **Writes.** Spark's own parser reads DML and DDL into typed plans
  * (`DeleteFromTable`, `MergeIntoTable`, `AddColumns`, `CreateTable`,
  * …). When such a statement's target is a graft table, the rule
  * replaces the whole plan with the [[GraftSqlCommands]] command that
  * makes the same [[SnapshotTable]] call. A target is graft's when it
  * is `graft.`/path`` (a path, even before the directory has a
  * manifest, so CTAS, CREATE TABLE and a first INSERT work) or a bare
  * name bound in THIS session ([[SnapshotSql.boundDir]]); CREATE TABLE claims only
  * the path form. A graft-addressed statement whose shape the commands
  * do not serve fails with graft's message; every other statement is
  * left to Spark untouched. The write match runs before the read
  * resolution below, which would otherwise turn the target into a
  * read-only relation.
  *
  * **Reads.** A `graft.`/path`` reference inside ANY plain SQL query
  * resolves directly to the manifest-pruned snapshot relation — no
  * registration step:
  *
  *   SELECT … FROM graft.`/data/events` WHERE …
  *   SELECT … FROM graft.`/data/events` VERSION AS OF 7
  *   SELECT … FROM graft.`/data/events` TIMESTAMP AS OF '2026-08-15'
  *
  * The relation is the same [[SnapshotSql.dataFrame]] every other SQL
  * surface uses (manifest stats/Bloom file pruning, deletion-vector
  * masking, column mapping — pushed filters reach file pruning).
  * Time travel resolves VERSION AS OF directly and TIMESTAMP AS OF
  * through the monotonicity-adjusted commit timeline
  * ([[SnapshotTable.versionAtTimestamp]]). It fires ONLY for two-part
  * identifiers whose first part is `graft` and whose second names a
  * directory with a committed manifest; a `graft` reference to a
  * nonexistent table falls through to Spark's TABLE_OR_VIEW_NOT_FOUND. */
class GraftRelationResolution(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  private def hasManifest(path: String): Boolean =
    scala.util.Try(SnapshotTable.latestVersion(spark, path).nonEmpty)
      .getOrElse(false)

  /** ``graft.`path` ``: a path (it holds a `/`) or a directory with a
    * manifest, so `graft.events`, a table in a database named graft,
    * stays Spark's. */
  private def graftPath(parts: Seq[String]): Option[String] = parts match {
    case Seq(cat, path) if cat.equalsIgnoreCase("graft") &&
        (path.contains('/') || hasManifest(path)) => Some(path)
    case _ => None
  }

  /** The directory a DML / ALTER target names, when it is graft's. */
  private object Target {
    def unapply(p: LogicalPlan): Option[String] = p match {
      case a: SubqueryAlias => unapply(a.child)
      case u: UnresolvedRelation => dirOf(u.multipartIdentifier)
      case u: UnresolvedTable => dirOf(u.multipartIdentifier)
      case u: UnresolvedTableOrView => dirOf(u.multipartIdentifier)
      case _ => None
    }
    private def dirOf(parts: Seq[String]): Option[String] = parts match {
      case Seq(name) => SnapshotSql.boundDir(spark, name)
      case _ => graftPath(parts)
    }
  }

  /** The `graft.`path`` destination of a CREATE TABLE. */
  private object GraftPath {
    def unapply(p: LogicalPlan): Option[String] = p match {
      case u: UnresolvedIdentifier => graftPath(u.nameParts)
      case _ => None
    }
  }

  /** A top-level column name (`a`, never `t.a` or `s.f`). */
  private object Col {
    def unapply(e: Any): Option[String] = e match {
      case UnresolvedAttribute(Seq(c)) => Some(c)
      case UnresolvedFieldName(Seq(c)) => Some(c)
      case _ => None
    }
  }

  /** CREATE TABLE with none of USING / OPTIONS / LOCATION / COMMENT /
    * TBLPROPERTIES / constraints. */
  private val NoClauses = UnresolvedTableSpec(Map.empty, None,
    OptionList(Nil), None, None, None, None, false, Nil)

  private def column(e: Expression) = GraftSqlBridge.column(e)

  private def assign(a: Assignment): (String, org.apache.spark.sql.Column) =
    a.key match {
      case Col(c) => c -> column(a.value)
      case k => fail(s"SET expects a top-level column, got: ${k.sql}")
    }

  private val AlterForms = "ADD COLUMN c <type> [DEFAULT lit] | " +
    "RENAME COLUMN a TO b | DROP COLUMN a | ALTER COLUMN c TYPE <wider> | " +
    "ADD CONSTRAINT n CHECK (…) | DROP CONSTRAINT n | " +
    "SET TBLPROPERTIES ('k'='v', …) | UNSET TBLPROPERTIES ('k', …)"

  private val CreateForms = "CREATE TABLE graft.`path` (cols) | " +
    "CREATE [OR REPLACE] TABLE graft.`path` AS <query> | " +
    "CREATE TABLE graft.`path` PARTITIONED BY (…) AS <query> | " +
    "CREATE TABLE graft.`path` CLUSTERED BY (…) [SORTED BY (…)] " +
    "INTO n BUCKETS AS <query> | CREATE TABLE graft.`path` SHALLOW CLONE <src>"

  /** The graft command for a graft-targeted statement; None when the
    * statement is not graft's. */
  private def command(plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case DeleteFromTable(Target(dir), cond) =>
      Some(GraftDeleteCommand(dir, column(cond)))
    case TruncateTable(Target(dir)) => Some(GraftDeleteCommand(dir, lit(true)))
    case UpdateTable(Target(dir), sets, cond) =>
      Some(GraftUpdateCommand(dir, sets.map(assign),
        cond.map(column).getOrElse(lit(true))))
    case m @ MergeIntoTable(Target(dir), _, _, _, _, _, _) =>
      Some(merge(dir, m))
    case i @ InsertIntoStatement(Target(dir), _, _, query, overwrite, _, _) =>
      if (i.partitionSpec.nonEmpty || i.userSpecifiedCols.nonEmpty ||
          i.ifPartitionNotExists || i.byName) fail(
        "INSERT INTO|OVERWRITE <t> <query> takes no PARTITION, column " +
          "list or BY NAME")
      Some(GraftInsertCommand(dir, query, overwrite))
    case AddColumns(Target(dir),
        Seq(QualifiedColType(None, c, dt, true, None, None, default))) =>
      // the DEFAULT literal is served for pre-ADD files
      val dv = default.map(d => literalValue(d.child))
      if (dv.contains(null)) fail("ADD COLUMN ... " +
        "DEFAULT NULL is the plain nullable ADD — drop the DEFAULT clause")
      Some(GraftAlterCommand(dir, (s, d) =>
        SnapshotTable.addColumn(s, d, c, dt, default = dv.map(_.toString))))
    case RenameColumn(Target(dir), Col(c), to) =>
      Some(GraftAlterCommand(dir, SnapshotTable.renameColumn(_, _, c, to)))
    case DropColumns(Target(dir), Seq(Col(c)), false) =>
      Some(GraftAlterCommand(dir, SnapshotTable.dropColumn(_, _, c)))
    case AlterColumns(Target(dir),
        Seq(AlterColumnSpec(Col(c), Some(dt), None, None, None, None, false))) =>
      Some(GraftAlterCommand(dir, SnapshotTable.widenColumn(_, _, c, dt)))
    case AddCheckConstraint(Filter(_, Target(dir)), cc) =>
      Some(GraftAlterCommand(dir,
        SnapshotTable.addConstraint(_, _, cc.name, cc.condition)))
    case DropConstraint(Target(dir), name, false, false) =>
      Some(GraftAlterCommand(dir, SnapshotTable.dropConstraint(_, _, name)))
    case SetTableProperties(Target(dir), props) =>
      Some(GraftAlterCommand(dir, SnapshotTable.setProperties(_, _, props)))
    case UnsetTableProperties(Target(dir), keys, _) =>
      Some(GraftAlterCommand(dir, SnapshotTable.unsetProperties(_, _, keys)))
    case ShowTableProperties(Target(dir), key, _) =>
      Some(GraftShowPropsCommand(dir, key))
    case CreateTable(GraftPath(dir), cols, Nil, NoClauses, false)
        if cols.forall(c => c.defaultValue.isEmpty &&
          c.generationExpression.isEmpty && c.identityColumnSpec.isEmpty) =>
      Some(GraftCreateEmptyCommand(dir, StructType(cols.map(_.toV1Column))))
    case CreateTableAsSelect(GraftPath(dir), layout, query, NoClauses, _,
        false, _) =>
      val (partitionBy, bucket) = GraftSqlBridge.tableLayout(layout)
        .getOrElse(refuse("CREATE TABLE", CreateForms))
      Some(GraftCtasCommand(dir, query, replace = false, partitionBy, bucket))
    case ReplaceTableAsSelect(GraftPath(dir), Nil, query, NoClauses, _,
        true, _) =>
      Some(GraftCtasCommand(dir, query, replace = true))
    case _: CreateTable | _: ReplaceTable | _: CreateTableAsSelect |
         _: ReplaceTableAsSelect
        if GraftPath.unapply(plan.children.head).nonEmpty =>
      refuse("CREATE TABLE", CreateForms)
    case _ => plan.children.headOption.collect {
      case u @ UnresolvedTable(_, verb, _) if claimed(verb) => (u, verb)
      case u @ UnresolvedTableOrView(_, verb, _) if claimed(verb) => (u, verb)
    }.flatMap { case (u, verb) =>
      Target.unapply(u).flatMap(_ => refuse(verb, AlterForms))
    }
  }

  private def claimed(verb: String): Boolean =
    verb.startsWith("ALTER TABLE") || verb.startsWith("TRUNCATE TABLE")

  private def refuse(verb: String, forms: String): Nothing =
    fail(s"$verb is not supported on graft tables — supported: $forms")

  /** `MERGE INTO` → the whole-row upsert kernel for `UPDATE SET * /
    * INSERT *` on same-name keys, the generalized kernel otherwise. */
  private def merge(dir: String, m: MergeIntoTable): LogicalPlan = {
    if (m.withSchemaEvolution)
      fail("MERGE WITH SCHEMA EVOLUTION is not supported")
    def aliasOf(p: LogicalPlan) = p match {
      case a: SubqueryAlias => Some(a.alias)
      case _ => None
    }
    val tAlias = aliasOf(m.targetTable)
    val sAlias = aliasOf(m.sourceTable)
    val source = m.sourceTable match {
      case a: SubqueryAlias => a.child
      case p => p
    }
    // ON must be a conjunction of key EQUALITIES (the equi-key
    // contract both merge kernels share — general join conditions
    // would defeat the touched-file semi-join that makes a small
    // MERGE cheap at 100 TB). Differing column names are allowed when
    // the sides are disambiguated by the aliases (t.id = s.src_id).
    val keyPairs = splitConjunctivePredicates(m.mergeCondition).map {
      case eq @ EqualTo(UnresolvedAttribute(l), UnresolvedAttribute(r)) =>
        val (ql, nl) = (l.init.mkString("."), l.last)
        val (qr, nr) = (r.init.mkString("."), r.last)
        // SQL identifiers are case-insensitive — so is the alias match
        def isT(q: String) = tAlias.exists(_.equalsIgnoreCase(q))
        def isS(q: String) = sAlias.exists(_.equalsIgnoreCase(q))
        // both sides on ONE alias is a typo (ON t.id = t.sid would
        // otherwise silently pair the wrong columns), not a pairing
        if ((isT(ql) && isT(qr)) || (isS(ql) && isS(qr))) fail(
          s"MERGE ON: both sides reference the same alias: ${eq.sql}")
        if (isT(ql) || isS(qr)) (nl, nr)
        else if (isT(qr) || isS(ql)) (nr, nl)
        else if (nl == nr) (nl, nr)
        else fail("MERGE ON: qualify differing key names with the " +
          s"target/source aliases so the sides are unambiguous: ${eq.sql}")
      case e => fail(s"MERGE ON expects <t.k> = <s.k> equalities, got: ${e.sql}")
    }
    val keys = keyPairs.map(_._1)
    val srcKeys = keyPairs.map(_._2)
    def clause(a: org.apache.spark.sql.catalyst.plans.logical.MergeAction) =
      MergeClause(a.condition.map(column), a match {
        case u: UpdateAction => MergeAction.Update(u.assignments.map(assign))
        case _: UpdateStarAction => MergeAction.UpdateAll
        case _: DeleteAction => MergeAction.Delete
        case i: InsertAction => MergeAction.Insert(i.assignments.map(assign))
        case _: InsertStarAction => MergeAction.InsertAll
        case other => fail(s"MERGE: unsupported clause action: $other")
      })
    val matched = m.matchedActions.map(clause)
    val notMatched = m.notMatchedActions.map(clause)
    val bySource = m.notMatchedBySourceActions.map(clause)
    // The classic whole-row upsert with SAME-NAME keys keeps its
    // dedicated (evolution-capable) kernel; differing key names route
    // through the generalized kernel's key-pairing.
    val wholeRow = bySource.isEmpty && keys == srcKeys &&
      matched == Seq(MergeClause(None, MergeAction.UpdateAll)) &&
      notMatched == Seq(MergeClause(None, MergeAction.InsertAll))
    if (wholeRow) GraftMergeCommand(dir, source, keys)
    else GraftMergeIntoCommand(dir, source, keys,
      tAlias.getOrElse("__t"), sAlias.getOrElse("__s"),
      matched, notMatched, bySource, srcKeys = srcKeys)
  }

  private def readDir(u: UnresolvedRelation): Option[String] =
    graftPath(u.multipartIdentifier).filter(hasManifest)

  private def snapshot(dir: String, v: Option[Long]): LogicalPlan =
    SnapshotSql.dataFrame(spark, dir, v).queryExecution.analyzed

  private def tsMillis(e: Expression): Long = e match {
    case Literal(v, TimestampType) => v.asInstanceOf[Long] / 1000L
    case Literal(s, StringType) =>
      val t = s.toString
      scala.util.Try(java.sql.Timestamp.valueOf(t).getTime).getOrElse(
        java.sql.Date.valueOf(t).getTime)
    case other if other.foldable =>
      other.dataType match {
        case TimestampType => other.eval().asInstanceOf[Long] / 1000L
        case _ => tsMillis(Literal(other.eval(), other.dataType))
      }
    case other => throw new IllegalArgumentException(
      s"graft TIMESTAMP AS OF expects a literal timestamp, got: $other")
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    command(plan).getOrElse(plan.resolveOperatorsUp {
      case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, version) =>
        readDir(u) match {
          case None => tt
          case Some(dir) => version match {
            case Some(v) => snapshot(dir, Some(v.toLong))
            case None =>
              val millis = tsMillis(ts.getOrElse(
                throw new IllegalArgumentException(
                  "graft time travel needs VERSION AS OF or TIMESTAMP AS OF")))
              snapshot(dir, Some(
                SnapshotTable.versionAtTimestamp(spark, dir, millis)))
          }
        }
      case u: UnresolvedRelation =>
        readDir(u).map(snapshot(_, None)).getOrElse(u)
    })
}
