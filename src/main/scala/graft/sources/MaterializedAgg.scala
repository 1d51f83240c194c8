package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Incrementally-maintained materialized aggregate views over
  * [[SnapshotTable]]s — the warehouse answer to "this GROUP BY runs
  * every hour over 100 TB and 99.9% of the input didn't change".
  *
  * A view is `SELECT keys, aggs FROM source GROUP BY keys`,
  * materialized as its own SnapshotTable and maintained by DELTA
  * PROPAGATION: [[refresh]] consumes the source's row-level
  * [[SnapshotTable.changeFeed]] between the view's cursor and the
  * source's head — reading ONLY the source files those commits
  * touched — reduces it to per-key aggregate deltas (+row for
  * inserts, −row for deletes; an update's delete+insert pair
  * contributes its net change), joins the deltas against the view's
  * CURRENT rows, and lands absolute replacement rows through
  * [[SnapshotTable.applyChanges]] — one copy-on-write commit that
  * rewrites only the view files holding a changed key, deletes
  * groups whose live-row count reached zero, and advances the
  * source-version CURSOR in the view's transaction ledger
  * atomically. A crashed or replayed refresh is therefore a manifest
  * no-op: the view can never double-apply a delta (the
  * [[SnapshotTable.replicate]] exactly-once discipline, applied to
  * aggregation instead of replication).
  *
  * Fully-decomposable aggregates — `count`, `sum_long` (exact
  * integer ring), `sum_decimal` (exact DECIMAL(38,6) ring, the
  * cross-engine-reproducible way to sum money/doubles) and
  * `sum_sq_long` (exact sum of squares of an integer column, in the
  * DECIMAL(38,0) ring so a 100-TB-table's squares can't overflow) —
  * maintain by pure delta arithmetic; avg derives as sum/count at
  * read time, and population variance/stddev derive from the
  * (count, sum_long, sum_sq_long) triple as `sq/n − (s/n)²` — the
  * classic maintainable-moments trick, so a stddev view needs no
  * recompute path at all.
  * `min`/`max` are SEMI-decomposable: inserts fold in place
  * (`least`/`greatest` with the stored extremum), but a delete that
  * reaches the stored extremum retracts it, and the new extremum is
  * not in the delta — those groups (and ONLY those groups: a delete
  * strictly inside the stored range can never change min/max) are
  * recomputed from the source's current snapshot, restricted by a
  * broadcast semi-join on the affected keys. That is a deliberately
  * different cost contract — O(source scan ∩ affected keys) instead
  * of O(delta) — and it is paid only on extremum-retracting deletes.
  *
  * Scale shape per refresh: O(changed source files) read + O(view)
  * join + O(touched view files) rewritten (+ the recompute term above
  * when a min/max extremum is retracted). The view itself is
  * group-cardinality-sized — the join against current rows is the
  * small side of the refresh by construction. */
object MaterializedAgg {

  /** One maintained aggregate: `outCol` in the view, computed from
    * source column `srcCol` (ignored for count) by `kind` ∈
    * count | sum_long | sum_decimal | min | max. */
  final case class AggSpec(outCol: String, srcCol: String, kind: String) {
    require(Seq("count", "sum_long", "sum_decimal", "sum_sq_long",
      "min", "max").contains(kind),
      s"AggSpec $outCol: unknown kind $kind " +
        "(count|sum_long|sum_decimal|sum_sq_long|min|max)")
  }

  /** Hidden live-row count per group — how [[refresh]] knows a group
    * died (count reached zero ⇒ the group's row is DELETED from the
    * view, exactly as a recomputation would omit it). */
  private val CountCol = "_mv_n"
  private val MetaFile = "_graft_matview.json"
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private val Dec = DecimalType(38, 6)
  // sum_sq_long's ring: squares computed exactly in DECIMAL(18,0) ×
  // DECIMAL(18,0) → DECIMAL(37,0) (stays under Spark's 38-digit cap —
  // NO precision-loss adjustment fires), summed as DECIMAL(38,0).
  private val Dec0 = DecimalType(38, 0)
  private val D18 = DecimalType(18, 0)
  private def sq(c: Column): Column = (c.cast(D18) * c.cast(D18)).cast(Dec0)

  /** Full-build aggregation — also the refresh's oracle twin in
    * specs: after any refresh, the view must equal this over the
    * source's current snapshot. */
  private def aggregate(src: DataFrame, keys: Seq[String],
                        aggs: Seq[AggSpec]): DataFrame = {
    val cols = aggs.map {
      case AggSpec(out, _, "count") => count(lit(1)).as(out)
      case AggSpec(out, c, "sum_long") =>
        coalesce(sum(col(c)), lit(0L)).cast("long").as(out)
      case AggSpec(out, c, "sum_decimal") =>
        coalesce(sum(col(c).cast(Dec)), lit(0).cast(Dec)).cast(Dec).as(out)
      case AggSpec(out, c, "sum_sq_long") =>
        coalesce(sum(sq(col(c))), lit(0).cast(Dec0)).cast(Dec0).as(out)
      case AggSpec(out, c, "min") => min(col(c)).as(out)
      case AggSpec(out, c, "max") => max(col(c)).as(out)
    } :+ count(lit(1)).as(CountCol)
    src.groupBy(keys.map(col): _*).agg(cols.head, cols.tail: _*)
  }

  /** Create the view: one full aggregation of the source's CURRENT
    * snapshot, committed with the source version as the ledger
    * cursor, plus the view-definition sidecar (keys/aggs/source —
    * what makes [[refresh]] self-contained). Returns the source
    * version the view now reflects. */
  def create(spark: SparkSession, srcDir: String, dstDir: String,
             keys: Seq[String], aggs: Seq[AggSpec], viewId: String): Long = {
    require(keys.nonEmpty, "MaterializedAgg.create: keys required")
    require(aggs.nonEmpty, "MaterializedAgg.create: at least one aggregate")
    require(viewId.nonEmpty, "MaterializedAgg.create: viewId required")
    val srcV = SnapshotTable.latestVersion(spark, srcDir).getOrElse(
      throw new java.io.IOException(
        s"MaterializedAgg: no committed version under $srcDir"))
    val full = aggregate(SnapshotTable.read(spark, srcDir, Some(srcV)),
      keys, aggs)
    writeMeta(spark, dstDir, keys, aggs, viewId, srcDir)
    SnapshotTable.transactionalAppend(full, dstDir, viewId, srcV,
      statsCols = keys).getOrElse(throw new IllegalStateException(
      s"MaterializedAgg.create: ledger already holds $viewId — " +
        s"the view under $dstDir was already created"))
    srcV
  }

  /** Advance the view to the source's head by delta propagation.
    * Returns the new source cursor, or None when already current.
    * Safe to call from any scheduler at any cadence — including a
    * Structured Streaming foreachBatch over the source — because the
    * ledger makes replays no-ops. */
  def refresh(spark: SparkSession, dstDir: String): Option[Long] = {
    val meta = readMeta(spark, dstDir)
    val dstV = SnapshotTable.latestVersion(spark, dstDir).getOrElse(
      throw new java.io.IOException(
        s"MaterializedAgg: view under $dstDir not created"))
    val cursor = SnapshotTable.snapshot(spark, dstDir, dstV).txns
      .getOrElse(meta.viewId, throw new IllegalStateException(
        s"MaterializedAgg: no ${meta.viewId} cursor in the view ledger " +
          s"under $dstDir — not a MaterializedAgg view?"))
    val srcV = SnapshotTable.latestVersion(spark, meta.srcDir).getOrElse(
      throw new java.io.IOException(
        s"MaterializedAgg: source ${meta.srcDir} has no committed version"))
    if (srcV <= cursor) return None
    val feed = SnapshotTable.changeFeed(spark, meta.srcDir, cursor, srcV)
    // Per-key aggregate deltas: +row / −row nets out updates. Sums
    // delta in the SAME exact ring as the stored aggregate (long /
    // DECIMAL(38,6)) — incremental must be bit-equal to recompute.
    val sign = when(col("_change") === "insert", lit(1L)).otherwise(lit(-1L))
    val isIns = col("_change") === "insert"
    val deltaCols = meta.aggs.flatMap {
      case AggSpec(out, _, "count") => Seq(sum(sign).as(s"_d_$out"))
      case AggSpec(out, c, "sum_long") => Seq(
        coalesce(sum(col(c) * sign), lit(0L)).cast("long").as(s"_d_$out"))
      case AggSpec(out, c, "sum_decimal") => Seq(
        coalesce(sum(col(c).cast(Dec) * sign), lit(0).cast(Dec)).cast(Dec)
          .as(s"_d_$out"))
      // Squares are sign-flipped AFTER squaring (the square of a
      // deleted value subtracts), keeping the whole delta in Dec0.
      case AggSpec(out, c, "sum_sq_long") => Seq(
        coalesce(sum(when(isIns, sq(col(c))).otherwise(-sq(col(c)))),
          lit(0).cast(Dec0)).cast(Dec0).as(s"_d_$out"))
      // min/max split the delta by side: the inserted-side extremum
      // folds into the stored value; the deleted-side extremum decides
      // (post-join, against the stored value) whether the group's
      // extremum was retracted and a recompute is owed.
      case AggSpec(out, c, "min") => Seq(
        min(when(isIns, col(c))).as(s"_i_$out"),
        min(when(!isIns, col(c))).as(s"_x_$out"))
      case AggSpec(out, c, "max") => Seq(
        max(when(isIns, col(c))).as(s"_i_$out"),
        max(when(!isIns, col(c))).as(s"_x_$out"))
    } :+ sum(sign).as(s"_d_$CountCol")
    val touched = meta.aggs.map {
      case AggSpec(out, _, "min" | "max") =>
        col(s"_i_$out").isNotNull || col(s"_x_$out").isNotNull
      case AggSpec(out, _, _) => col(s"_d_$out") =!= 0
    }
    val delta = feed.groupBy(meta.keys.map(col): _*)
      .agg(deltaCols.head, deltaCols.tail: _*)
      // All-zero delta rows (a rewrite that re-landed identical rows)
      // would still CoW-touch their view files — drop them.
      .filter(touched.foldLeft(col(s"_d_$CountCol") =!= 0)(_ || _))
    val cur = SnapshotTable.read(spark, dstDir, Some(dstV))
    // delta ⟕ current: absent current row = a brand-new group.
    // PERSISTED: the refresh probes this frame and then lands it (and
    // applyChanges scans it several more times internally); without a
    // cache each pass would re-run the change-feed scan, its set-op
    // shuffles AND the view join. Group-cardinality-bounded — tiny.
    val joined = delta.join(cur, meta.keys, "left").persist()
    val newN = coalesce(col(CountCol), lit(0L)) + col(s"_d_$CountCol")
    // A deleted value at-or-beyond the stored extremum (or a delete
    // against a NULL-extremum group) may have retracted it — the new
    // extremum is NOT derivable from the delta, so the group owes a
    // recompute. Strictly-inside deletes provably cannot change
    // min/max and stay on the pure-delta path.
    val retracted = meta.aggs.collect {
      case AggSpec(out, _, "min") => col(s"_x_$out").isNotNull &&
        (col(out).isNull || col(s"_x_$out") <= col(out))
      case AggSpec(out, _, "max") => col(s"_x_$out").isNotNull &&
        (col(out).isNull || col(s"_x_$out") >= col(out))
    }.reduceOption(_ || _).getOrElse(lit(false))
    val newAggs = meta.aggs.map {
      case AggSpec(out, _, "count") =>
        (coalesce(col(out), lit(0L)) + col(s"_d_$out")).as(out)
      case AggSpec(out, _, "sum_long") =>
        (coalesce(col(out), lit(0L)) + col(s"_d_$out")).cast("long").as(out)
      case AggSpec(out, _, "sum_decimal") =>
        (coalesce(col(out), lit(0).cast(Dec)) + col(s"_d_$out")).cast(Dec)
          .as(out)
      case AggSpec(out, _, "sum_sq_long") =>
        (coalesce(col(out), lit(0).cast(Dec0)) + col(s"_d_$out")).cast(Dec0)
          .as(out)
      // least/greatest skip NULLs: a brand-new group takes the
      // inserted extremum; an insert-free delta keeps the stored one.
      case AggSpec(out, _, "min") => least(col(out), col(s"_i_$out")).as(out)
      case AggSpec(out, _, "max") =>
        greatest(col(out), col(s"_i_$out")).as(out)
    }
    def toBatch(df: DataFrame): DataFrame = df.select(
      (meta.keys.map(col) ++ newAggs :+ newN.cast("long").as(CountCol) :+
        when(newN > 0, lit("insert")).otherwise(lit("delete"))
          .as("_change")): _*)
    val hasMinMax = meta.aggs.exists(a => Seq("min", "max").contains(a.kind))
    try {
      // ONE probe job over the cached join decides everything the
      // refresh needs to know — emptiness (cursor-only advance),
      // retraction count (does a recompute leg exist at all), and the
      // sanity check (negative live counts = feed/view divergence).
      // These were three separate actions, each re-running the join.
      val retAlive = retracted && newN > 0
      val p = SnapshotTable.probe(joined.agg(
        count(lit(1)).as("_n"),
        coalesce(sum(when(retAlive, 1L).otherwise(0L)), lit(0L)).as("_aff"),
        coalesce(sum(when(newN < 0, 1L).otherwise(0L)), lit(0L)).as("_bad")
        ), "matview:refresh-probe")(_.collect()(0))
      val (nRows, nAff, nBad) = (p.getLong(0), p.getLong(1), p.getLong(2))
      if (nBad > 0) {
        // A negative live count means the feed and the view disagree —
        // fail loudly, never "repair" silently. (Example fetch only on
        // this rare path.)
        val bad = toBatch(joined).filter(col(CountCol) < 0).limit(1)
          .collect()
        require(bad.isEmpty,
          s"MaterializedAgg.refresh: negative group count (e.g. " +
            s"${bad.headOption.orNull}) — view out of sync with source feed")
      }
      if (nRows == 0L) {
        // Source commits with no net row changes (compaction, identical
        // rewrites): still ADVANCE the cursor — otherwise every later
        // refresh re-diffs across the same compaction boundary, reading
        // its dropped+added files again and again. Manifest-only: zero
        // data movement, zero Spark jobs.
        SnapshotTable.advanceTxn(spark, dstDir, meta.viewId, srcV)
      } else {
        // Dead groups need no recompute — they become delete rows
        // regardless of what the retracted extremum was.
        val needRecompute = hasMinMax && nAff > 0L
        val batch =
          if (!needRecompute) toBatch(joined)
          else {
            val affKeys = joined.filter(retAlive)
              .select(meta.keys.map(col): _*).distinct()
            val rec = aggregate(
              SnapshotTable.read(spark, meta.srcDir, Some(srcV))
                .join(broadcast(affKeys), meta.keys, "left_semi"),
              meta.keys, meta.aggs)
            toBatch(joined.filter(!retAlive))
              .unionByName(rec.withColumn("_change", lit("insert"))
                .select(meta.keys.map(col) ++
                  meta.aggs.map(a => col(a.outCol)) :+ col(CountCol) :+
                  col("_change"): _*))
          }
        // The recompute leg re-scans affected source files per pass —
        // cache it; the pure-delta leg is a projection over the cached
        // join and needs no second cache.
        // preValidated: tags are when/otherwise-constructed, keys are
        // groupBy-unique (the recompute leg replaces whole groups),
        // emptiness was decided by the fused probe above — skipping
        // applyChanges' own probe saves one job per refresh.
        if (needRecompute) batch.persist()
        try SnapshotTable.applyChanges(spark, dstDir, batch, meta.keys,
          txn = Some(meta.viewId -> srcV), preValidated = true)
        finally if (needRecompute) batch.unpersist(false)
      }
      Some(srcV)
    } finally joined.unpersist(false)
  }

  /** The view as users read it (the hidden live-count column
    * dropped). */
  def read(spark: SparkSession, dstDir: String): DataFrame =
    SnapshotTable.read(spark, dstDir).drop(CountCol)

  /** CONTINUOUS maintenance: a Structured Streaming query that
    * watches the source table's commits and [[refresh]]es the view
    * once per micro-batch — the always-fresh materialized view, with
    * zero new consistency machinery.
    *
    * The stream (the source's `readChangeFeed` mode, which tolerates
    * every commit shape — deletes, updates, compactions) is used as a
    * commit NOTIFICATION channel: the batch function never touches
    * the micro-batch frame, so its change rows are planned but never
    * executed; the refresh re-derives the row-level delta between the
    * view's ledger cursor and the source head itself. All
    * exactly-once guarantees therefore come from the view's
    * transaction ledger, NOT the stream checkpoint — overlapping
    * triggers, checkpoint-recovery replays, and a concurrent manual
    * [[refresh]] are all manifest no-ops, and the stream can run with
    * a throwaway checkpoint. Stop the query to stop maintenance;
    * the view stays valid at whatever cursor it reached. */
  def startContinuous(spark: SparkSession, dstDir: String,
                      checkpointDir: String,
                      trigger: org.apache.spark.sql.streaming.Trigger =
                        org.apache.spark.sql.streaming.Trigger
                          .ProcessingTime(0L)
                     ): org.apache.spark.sql.streaming.StreamingQuery = {
    val meta = readMeta(spark, dstDir)
    val srcV = SnapshotTable.latestVersion(spark, meta.srcDir).getOrElse(0L)
    spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      // Start AT the head: the notification channel needs no history
      // (refresh's cursor, not the stream offset, decides what to
      // apply) — and this skips planning the initial-snapshot batch.
      .option("startingVersion", (srcV + 1).toString)
      .load(meta.srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: DataFrame, _: Long) =>
        refresh(spark, dstDir); ()
      }
      .trigger(trigger)
      .queryName(s"graft-matview[${meta.viewId}]")
      .start()
  }

  // ---- view-definition sidecar --------------------------------------

  private final case class Meta(keys: Seq[String], aggs: Seq[AggSpec],
                                viewId: String, srcDir: String)

  private def writeMeta(spark: SparkSession, dstDir: String,
                        keys: Seq[String], aggs: Seq[AggSpec],
                        viewId: String, srcDir: String): Unit = {
    val root = mapper.createObjectNode()
    root.put("viewId", viewId)
    root.put("srcDir", new Path(srcDir).toUri.getPath)
    val kj = root.putArray("keys"); keys.foreach(kj.add)
    val aj = root.putArray("aggs")
    aggs.foreach { a =>
      val o = aj.addObject()
      o.put("out", a.outCol); o.put("col", a.srcCol); o.put("kind", a.kind)
    }
    TableStore(spark, dstDir).overwrite(new Path(dstDir, MetaFile),
      mapper.writeValueAsString(root))
  }

  private def readMeta(spark: SparkSession, dstDir: String): Meta = {
    val txt = TableStore(spark, dstDir).readText(new Path(dstDir, MetaFile))
      .getOrElse(throw new java.io.IOException(
        s"MaterializedAgg: no $MetaFile under $dstDir"))
    val n = mapper.readTree(txt)
    val keys = (0 until n.get("keys").size).map(n.get("keys").get(_).asText)
    val aggs = (0 until n.get("aggs").size).map { i =>
      val a = n.get("aggs").get(i)
      AggSpec(a.get("out").asText, a.get("col").asText, a.get("kind").asText)
    }
    Meta(keys, aggs, n.get("viewId").asText, n.get("srcDir").asText)
  }
}
