package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Access shim: Column ↔ Expression conversion lives in
  * `private[sql]` scope in Spark 4 (classic.ExpressionUtils); custom
  * Catalyst expressions need it to expose a Column API. This is the
  * standard extension-library pattern — no Spark internals are
  * modified, just re-exported for graft.plans. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over an arbitrary logical plan (Dataset.ofRows is
    * `private[sql]` in Spark 4) — what graft.sources.SnapshotSql
    * needs to surface its manifest-pruned HadoopFsRelation as a
    * queryable view. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
            ): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** DataFrame over already-computed InternalRows
    * (`internalCreateDataFrame` is `private[sql]`) — what a V1
    * streaming Sink needs to RE-ANCHOR the micro-batch DataFrame it
    * receives: calling write actions directly on the passed-in frame
    * would re-trigger its (streaming-incremental) query execution;
    * wrapping its executed RDD gives a plain batch frame computed
    * exactly once. */
  def dataFrameOfInternalRows(spark: SparkSession,
                              rows: org.apache.spark.rdd.RDD[
                                org.apache.spark.sql.catalyst.InternalRow],
                              schema: org.apache.spark.sql.types.StructType
                             ): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming = false)

  /** The STREAMING-marked twin — what a V1 streaming Source needs to
    * return a micro-batch whose rows come from an arbitrary batch
    * plan (e.g. a change-feed computation with joins and set ops):
    * the batch plan is planned to its RDD lineage at getBatch time
    * (no job runs yet) and re-anchored as a streaming LogicalRDD the
    * incremental planner accepts. */
  def streamingDataFrameOfInternalRows(spark: SparkSession,
                                       rows: org.apache.spark.rdd.RDD[
                                         org.apache.spark.sql.catalyst.InternalRow],
                                       schema: org.apache.spark.sql.types.StructType
                                      ): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming = true)

  /** A CREATE TABLE's `PARTITIONED BY (cols)` or `CLUSTERED BY (cols)
    * [SORTED BY (cols)] INTO n BUCKETS` as (partition columns,
    * Some((bucket columns, sort columns, n))); None for any other
    * layout. The transform extractors are `private[sql]`. */
  def tableLayout(ts: Seq[connector.expressions.Transform]
                 ): Option[(Seq[String], Option[(Seq[String], Seq[String], Int)])] = {
    import connector.expressions.{BucketTransform, IdentityTransform,
      NamedReference}
    def names(rs: Seq[NamedReference]) = rs.map(_.fieldNames.mkString("."))
    ts match {
      case Seq(BucketTransform(n, cols, sorted)) =>
        Some((Nil, Some((names(cols), names(sorted), n))))
      case _ =>
        val ids = ts.collect { case IdentityTransform(r) => r }
        if (ids.size == ts.size) Some((names(ids), None)) else None
    }
  }

  /** Spark's own parquet schema merge — the `StructType.merge`
    * (`private[sql]`) that `mergeSchema` inference folds file schemas
    * with — failing with the same CANNOT_MERGE_SCHEMAS error when a
    * column's types conflict. */
  def mergeFileSchemas(left: types.StructType, right: types.StructType,
                       caseSensitive: Boolean): types.StructType =
    try left.merge(right, caseSensitive)
    catch { case e: org.apache.spark.SparkException =>
      throw errors.QueryExecutionErrors.failedMergingSchemaError(left, right, e)
    }

  /** Whether Spark's file index skips a file or directory of this name
    * (`_SUCCESS`, `.crc` sidecars, `_temporary` and `.spark-staging`
    * dirs; `k=v` partition dirs are kept). */
  def hiddenFromFileIndex(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
