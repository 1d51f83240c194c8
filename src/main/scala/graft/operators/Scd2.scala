package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** TYPE-2 SLOWLY-CHANGING-DIMENSION maintenance over the table
  * format: keep a full-history dimension table in sync with a source
  * [[SnapshotTable]] by consuming its row-level change feed — every
  * key's value history as intervals `(attrs, _valid_from, _valid_to)`
  * stamped with SOURCE VERSIONS, `_valid_to` NULL = the current row.
  * The classic warehouse dimension discipline (close-old + open-new),
  * rebuilt on the CDC machinery this format already has:
  *
  *   - [[maintain]] reads ONLY the source files changed since the
  *     dimension's cursor ([[SnapshotTable.changeFeed]]) and rewrites
  *     ONLY the dimension files holding affected keys' open rows
  *     ([[SnapshotTable.applyChanges]] on the composite key
  *     `keys :+ _valid_from` — closing an interval is an upsert of
  *     its row, opening one is an insert; no interval is ever
  *     REWRITTEN again once closed). The open-interval lookup and
  *     applyChanges' touched-file probe are FILE-PRUNED when the
  *     affected key set is bounded (≤ [[PruneKeyLimit]], the
  *     incremental norm — keys come from a change feed): the set is
  *     collected and routed through the manifest's stats/Bloom
  *     summaries ([[SnapshotTable.readWhereKeySet]] /
  *     [[SnapshotTable.pruneFilesForKeys]]), so per-maintain cost is
  *     O(changed source files) + O(dimension files holding affected
  *     keys) — never a dimension scan. Keep the dimension key-clustered
  *     ([[SnapshotTable.compact]] sorted by key) so those summaries
  *     stay sharp; past the cap the lookup degrades to the full
  *     filter-pushed, column-pruned scan (the right plan for a bulk
  *     rewrite anyway).
  *   - EXACTLY-ONCE: the applied source version lands as the
  *     dimension's transaction-ledger cursor in the SAME commit as
  *     the rows (the [[SnapshotTable.replicate]] discipline) — a
  *     crashed or replayed maintain() is a manifest no-op.
  *   - RANGE-COLLAPSED semantics: one maintain() stamps all NET
  *     changes since the cursor at the source head version (a key
  *     that changed twice in the range gets one new interval). Run
  *     per-commit — e.g. from a readChangeFeed notification stream —
  *     for per-commit interval fidelity.
  *
  * Invariant (inductive): at most ONE open interval per key. The
  * source must be key-unique — enforced loudly by applyChanges'
  * cardinality probe. Point-in-time reconstruction: rows valid at
  * source version v are `_valid_from <= v AND (_valid_to IS NULL OR
  * _valid_to > v)` — [[asOf]]. */
object Scd2 {
  val ValidFrom = "_valid_from"
  val ValidTo = "_valid_to"

  /** Advance the dimension under `dimDir` to the source's head.
    * First call bootstraps (current snapshot as open intervals at the
    * head version). Returns the committed dimension version; None
    * when already current. */
  def maintain(spark: SparkSession, srcDir: String, dimDir: String,
               keys: Seq[String], appId: String,
               maxRetries: Int = 20,
               pruneKeyLimit: Int = PruneKeyLimit): Option[Long] = {
    require(keys.nonEmpty, "Scd2.maintain: at least one key column")
    require(appId.nonEmpty, "Scd2.maintain: appId must be non-empty")
    val srcV = SnapshotTable.latestVersion(spark, srcDir).getOrElse(
      throw new java.io.IOException(
        s"Scd2: no committed version under $srcDir"))
    val cursor = SnapshotTable.latestVersion(spark, dimDir)
      .map(SnapshotTable.snapshot(spark, dimDir, _).txns)
      .getOrElse(Map.empty).get(appId)
    if (cursor.exists(_ >= srcV)) return None
    cursor match {
      case None =>
        // bootstrap: the current snapshot as open intervals
        val init = SnapshotTable.read(spark, srcDir, Some(srcV))
          .withColumn(ValidFrom, lit(srcV))
          .withColumn(ValidTo, lit(null).cast("long"))
        SnapshotTable.transactionalAppend(init, dimDir, appId, srcV,
          statsCols = keys, maxRetries = maxRetries)
      case Some(c) =>
        // PERSISTED: the feed feeds the affected-key collect, the
        // open-interval lookup, and the opened half below — uncached,
        // each would re-run the change-feed diff.
        val feed =
          (try SnapshotTable.changeFeed(spark, srcDir, c, srcV)
          catch { case e: java.io.FileNotFoundException =>
            throw new java.io.IOException(
              s"Scd2: cursor version $c of $srcDir is beyond the " +
                "source's vacuum horizon — re-bootstrap a fresh " +
                "dimension", e)
          }).persist()
        try maintainIncremental(spark, dimDir, keys, appId, srcV, feed,
          maxRetries, pruneKeyLimit)
        finally feed.unpersist(false)
    }
  }

  /** How many affected keys an incremental [[maintain]] collects for
    * file-pruned dimension lookups before falling back to the full
    * dimension scan (past this, the key set is no longer control-plane
    * data and the scan is the right plan). 64k keys is a few MB
    * collected and re-broadcast — comfortably driver-bounded at any
    * table size, and the broadcast-semi-join probe it buys stays far
    * cheaper than a shuffle join of the dimension. */
  val PruneKeyLimit = 65536

  private def maintainIncremental(spark: SparkSession, dimDir: String,
      keys: Seq[String], appId: String, srcV: Long, feed: DataFrame,
      maxRetries: Int, pruneKeyLimit: Int = PruneKeyLimit
     ): Option[Long] = {
    val affected = feed.select(keys.map(col): _*).distinct()
    // FILE-PRUNED open-interval lookup: the affected key set is
    // bounded by the change feed — collect it (capped) and route the
    // dimension probe through stats/Bloom file pruning
    // ([[SnapshotTable.readWhereKeySet]]). On a key-clustered
    // dimension a maintain reads O(affected key clusters) dimension
    // files, never the dimension — the 100 TB cost model.
    val affectedRows = SnapshotTable.probe(affected.limit(pruneKeyLimit + 1),
      "scd2:key-collect")(_.collect())
    val openLookup =
      if (affectedRows.length > pruneKeyLimit) {
        // ABOVE the cap the key set is no longer collectable, but its
        // per-column [min, max] envelope (one bounded aggregate over
        // the persisted feed) still prunes the dimension lookup
        // through manifest stats — file pruning with no driver
        // round-trip of the keys. On a key-clustered dimension a bulk
        // maintain reads the affected key RANGE's files, not the
        // dimension ([[SnapshotTable.readWhereKeyEnvelope]]); the
        // exact key match stays the broadcast-free semi-join below.
        val envAggs = keys.flatMap(k => Seq(min(col(k)), max(col(k))))
        val env = SnapshotTable.probe(affected.agg(envAggs.head, envAggs.tail: _*),
            "scd2:key-envelope") { d =>
          val r = d.collect()(0)
          keys.zipWithIndex.map { case (k, i) =>
            (k, r.get(2 * i), r.get(2 * i + 1)) }
        }
        SnapshotTable.readWhereKeyEnvelope(spark, dimDir, env)
          .join(affected, keys, "left_semi")
      }
      else SnapshotTable.readWhereKeySet(spark, dimDir, keys,
        affectedRows.toSeq)
    // every affected key's OPEN interval closes at srcV (an
    // update's net feed is delete+insert; a pure delete closes
    // with no successor; identical rewrites net to nothing and
    // never reach here)
    val closed = openLookup
      .filter(col(ValidTo).isNull)
      .withColumn(ValidTo, lit(srcV))
    // the new current values open at srcV
    val opened = feed.filter(col("_change") === "insert")
      .drop("_change")
      .withColumn(ValidFrom, lit(srcV))
      .withColumn(ValidTo, lit(null).cast("long"))
    // one copy-on-write commit: closes are upserts of their
    // (keys, _valid_from) row, opens are inserts of (keys, srcV)
    // — composite keys can't collide (an open row's _valid_from
    // is always < srcV). PERSISTED: applyChanges probes, touches,
    // and lands this frame in separate jobs; uncached, each would
    // re-run the change-feed scan AND the dimension lookup.
    // allowMissingColumns: after a source schema evolution (ADD
    // COLUMN / append-evolution) `opened` carries columns the
    // dimension's older intervals lack — they NULL-backfill, and
    // applyChanges evolves the dimension schema with the batch
    val changes = closed.withColumn("_change", lit("insert"))
      .unionByName(opened.withColumn("_change", lit("insert")),
        allowMissingColumns = true)
      .persist()
    try SnapshotTable.applyChanges(spark, dimDir, changes,
      keys :+ ValidFrom, txn = Some(appId -> srcV),
      maxRetries = maxRetries, pruneKeyLimit = pruneKeyLimit)
    finally changes.unpersist(false)
  }

  /** CONTINUOUS maintenance: a Structured Streaming query that
    * watches the source table's commits and [[maintain]]s the
    * dimension once per micro-batch — the always-fresh SCD2, with
    * zero new consistency machinery (the MaterializedAgg
    * startContinuous design). The readChangeFeed stream is a pure
    * commit-NOTIFICATION channel (the batch frame is never executed);
    * all exactly-once comes from the dimension's ledger, so replays,
    * overlapping triggers, and concurrent manual maintains are
    * no-ops. Run at trigger cadence for per-commit interval
    * fidelity. The dimension must already be bootstrapped
    * ([[maintain]] once). */
  def startContinuous(spark: SparkSession, srcDir: String, dimDir: String,
                      keys: Seq[String], appId: String,
                      checkpointDir: String,
                      trigger: org.apache.spark.sql.streaming.Trigger =
                        org.apache.spark.sql.streaming.Trigger
                          .ProcessingTime(0L)
                     ): org.apache.spark.sql.streaming.StreamingQuery = {
    val srcV = SnapshotTable.latestVersion(spark, srcDir).getOrElse(0L)
    spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", (srcV + 1).toString)
      .load(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: DataFrame, _: Long) =>
        maintain(spark, srcDir, dimDir, keys, appId); ()
      }
      .trigger(trigger)
      .queryName(s"graft-scd2[$appId]")
      .start()
  }

  /** The dimension's rows as of source version `v` — point-in-time
    * reconstruction from intervals. */
  def asOf(spark: SparkSession, dimDir: String, v: Long): DataFrame =
    SnapshotTable.read(spark, dimDir)
      .filter(col(ValidFrom) <= v &&
        (col(ValidTo).isNull || col(ValidTo) > v))
      .drop(ValidFrom, ValidTo)

  /** The current rows (open intervals). */
  def current(spark: SparkSession, dimDir: String): DataFrame =
    SnapshotTable.read(spark, dimDir).filter(col(ValidTo).isNull)
      .drop(ValidFrom, ValidTo)
}
