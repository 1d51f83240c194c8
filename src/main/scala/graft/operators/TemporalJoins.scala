package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Temporal join operators Spark lacks natively, built scalably from
  * relational primitives (SURVEY.md custom-op preference (a): compose
  * existing ops — no custom SparkPlan needed).
  *
  * == As-of join ==
  * For each left row, the single right row with the greatest
  * right-time ≤ left-time within the same key. The naive form is an
  * inequality join (quadratic blow-up per key); [[asofJoin]] instead
  * uses the union-and-carry technique: tag both inputs, union, and a
  * single (key, time)-ordered window carries the last-seen right row
  * forward onto each left row. Cost: ONE shuffle on the key, zero
  * pair explosion — at 100 TB this behaves exactly like a sort-merge
  * join stage. (DuckDB's native ASOF JOIN is the oracle.)
  *
  * == Range join ==
  * Pairs (l, r) with the same key and r.time ∈ [l.start, l.end]. A
  * raw inequality join degenerates to per-key nested loops;
  * [[rangeJoin]] buckets time at the interval granularity and
  * equi-joins on (key, bucket) — each left interval lands in
  * ceil(len/bucket)+1 buckets, each right point in exactly one, and
  * the exact predicate filters inside the join stage. Bucket width
  * trades replication against candidate fan-in (Flink/interval-join
  * style bucketing).
  */
object TemporalJoins {

  /** As-of join: latest `right` row at-or-before each left row's time,
    * per key. Left columns keep their names; right value columns come
    * back `asof_`-prefixed (NULL when no prior right row exists).
    *
    * `valueCols` are the right columns to carry (must not collide with
    * key/time names). Ties on time: the right row sorts BEFORE the
    * left row with equal time (inclusive ≤), matching ASOF JOIN.
    *
    * TWO RIGHT ROWS at the same (key, time) are ambiguous in any as-of
    * (SQL ASOF JOIN picks one arbitrarily). By default this operator
    * inherits that: which row's values are carried depends on sort-tie
    * order, which can vary across runs/partitionings. Pass
    * `rightTieBreak` (a subset of `valueCols`) to pin the choice: ties
    * order by those columns ascending, so the row with the LARGEST
    * tie-break values wins the carry deterministically. Note a
    * coarse-grained time column can manufacture such ties (e.g.
    * nanosecond sources truncated to microseconds).
    *
    * Skew limit: the union shuffles on the KEY only, so one hot key
    * (a single user with 10⁹ events) lands its entire timeline on one
    * window partition — per-key volume is bounded by what one task can
    * sort. When a key is genuinely that hot, use [[asofJoinBucketed]]:
    * identical semantics, window partitioned by (key, time-bucket),
    * carry stitched across buckets in a bucket-count-sized second
    * pass. TemporalJoinsSpec pins both the equivalence and the
    * hot-key behavior at probe scale. */
  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
               leftTime: String, rightTime: String,
               valueCols: Seq[String],
               rightTieBreak: Seq[String] = Nil): DataFrame = {
    require(rightTieBreak.forall(valueCols.contains),
      s"rightTieBreak must be carried valueCols, got $rightTieBreak")
    val leftCols = left.columns.toSeq
    // Tag and align the two inputs on a common shape.
    val l = left
      .withColumn("_t", col(leftTime))
      .withColumn("_side", lit(1))
      .select(keyCols.map(col) ++ Seq(col("_t"), col("_side")) ++
        leftCols.filterNot(keyCols.contains).map(col) ++
        valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"_v_$c")): _*)
    val r = right
      .withColumn("_t", col(rightTime))
      .withColumn("_side", lit(0))
      .select(keyCols.map(col) ++ Seq(col("_t"), col("_side")) ++
        leftCols.filterNot(keyCols.contains)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        valueCols.map(c => col(c).as(s"_v_$c")): _*)
    // One shuffle: window ordered so a right row at time T precedes a
    // left row at the same T (side 0 < side 1) — inclusive as-of.
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_t").asc +: col("_side").asc +:
        rightTieBreak.map(c => col(s"_v_$c").asc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(r)
      .select((keyCols.map(col) :+ col("_t") :+ col("_side")) ++
        leftCols.filterNot(keyCols.contains).map(col) ++
        valueCols.map(c =>
          last(when(col("_side") === 0, col(s"_v_$c")), ignoreNulls = true)
            .over(w).as(s"asof_$c")): _*)
    carried.filter(col("_side") === 1)
      .select(leftCols.map(col) ++ valueCols.map(c => col(s"asof_$c")): _*)
  }

  /** Hot-key-safe as-of join: identical semantics to [[asofJoin]]
    * (ties on right time are arbitrary in both, as in any as-of with
    * duplicate timestamps), but the carry window is partitioned by
    * (key, time-bucket) instead of key alone, so a single hot key
    * spreads over #buckets tasks instead of one. Two passes:
    *
    *  1. in-bucket union-and-carry, exactly [[asofJoin]]'s window but
    *     over (key, bucket) — each left row picks up the latest right
    *     row at-or-before it WITHIN its bucket;
    *  2. bucket summaries (ONE row per (key, bucket) with right rows:
    *     the bucket's last right values) get a per-key running carry
    *     ordered by bucket — this window is per-key sequential but
    *     O(#buckets), not O(#events) — and left rows whose in-bucket
    *     carry is NULL take the carry-in of their bucket.
    *
    * Choose `bucketSpanSeconds` so a hot key's densest bucket fits a
    * task (e.g. hourly for ~10⁶ events/key/hour); normal keys pay one
    * extra narrow shuffle + a broadcast-sized summary join.
    *
    * Measured crossover (BASELINE.md "Scaling probe", 32 cores): at
    * 22M rows on one key the plain form takes 20.3 s (single-task
    * sort) vs 7.5 s bucketed; below ~10⁶ rows/key the plain form wins because
    * bucketing pays two extra shuffles. Past one task's memory the
    * plain form spills then fails where bucketed stays bounded. */
  def asofJoinBucketed(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                       leftTime: String, rightTime: String,
                       valueCols: Seq[String],
                       bucketSpanSeconds: Long = 86400L): DataFrame = {
    require(bucketSpanSeconds > 0, "bucketSpanSeconds must be positive")
    val leftCols = left.columns.toSeq
    def bucketOf(c: Column) =
      floor(unix_timestamp(c) / bucketSpanSeconds).cast("long")
    val l = left
      .withColumn("_t", col(leftTime)).withColumn("_side", lit(1))
      .withColumn("_bucket", bucketOf(col(leftTime)))
      .select(keyCols.map(col) ++ Seq(col("_t"), col("_side"), col("_bucket")) ++
        leftCols.filterNot(keyCols.contains).map(col) ++
        valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"_v_$c")): _*)
    val r = right
      .withColumn("_t", col(rightTime)).withColumn("_side", lit(0))
      .withColumn("_bucket", bucketOf(col(rightTime)))
      .select(keyCols.map(col) ++ Seq(col("_t"), col("_side"), col("_bucket")) ++
        leftCols.filterNot(keyCols.contains)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        valueCols.map(c => col(c).as(s"_v_$c")): _*)
    // Pass 1: carry within (key, bucket) — the hot-key-safe window.
    val wInBucket = Window.partitionBy((keyCols :+ "_bucket").map(col): _*)
      .orderBy(col("_t").asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(r)
      .select((keyCols.map(col) :+ col("_t") :+ col("_side") :+ col("_bucket")) ++
        leftCols.filterNot(keyCols.contains).map(col) ++
        valueCols.map(c =>
          last(when(col("_side") === 0, col(s"_v_$c")), ignoreNulls = true)
            .over(wInBucket).as(s"_in_$c")): _*)
      .filter(col("_side") === 1)
    // Pass 2: per-(key, bucket) last NON-NULL right value PER COLUMN →
    // per-key running carry-in over the PRECEDING buckets. Per column,
    // not per row, to match [[asofJoin]]'s last(..., ignoreNulls)
    // exactly: a null in one value column must not mask an earlier
    // non-null (max_by's ordering expression is null for null-valued
    // rows, so those rows are skipped). The spine is the distinct
    // (key, bucket) set of BOTH sides, so a left bucket with no right
    // rows still receives the carry from the nearest earlier bucket.
    // One row per key-bucket: the sequential per-key window is
    // bucket-count-sized, never event-count-sized.
    val lastInBucket = r.groupBy((keyCols :+ "_bucket").map(col): _*)
      .agg(
        max_by(col(s"_v_${valueCols.head}"),
          when(col(s"_v_${valueCols.head}").isNotNull, col("_t")))
          .as(s"_lb_${valueCols.head}"),
        valueCols.tail.map(c =>
          max_by(col(s"_v_$c"), when(col(s"_v_$c").isNotNull, col("_t")))
            .as(s"_lb_$c")): _*)
    val spine = l.select((keyCols :+ "_bucket").map(col): _*)
      .unionByName(r.select((keyCols :+ "_bucket").map(col): _*))
      .distinct()
    val wCarryIn = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_bucket").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carryIn = spine.join(lastInBucket, keyCols :+ "_bucket", "left")
      .select((keyCols.map(col) :+ col("_bucket")) ++
        valueCols.map(c =>
          last(col(s"_lb_$c"), ignoreNulls = true).over(wCarryIn)
            .as(s"_ci_$c")): _*)
    val joined = carried.join(carryIn, keyCols :+ "_bucket", "left")
    joined.select(leftCols.map(col) ++ valueCols.map(c =>
      coalesce(col(s"_in_$c"), col(s"_ci_$c")).as(s"asof_$c")): _*)
  }

  /** Range join: right rows whose `rightTime` falls inside the left
    * row's [startCol, endCol], same key. `bucket` is the bucketing
    * granularity as a Column-level integer divisor over epoch seconds
    * (e.g. 86400 for day buckets); choose it near the typical interval
    * length.
    *
    * Replication bound: each left interval is replicated into
    * ceil(len/bucketSeconds)+1 bucket rows. A mis-chosen divisor (1 s
    * buckets under year-long intervals) silently multiplies the left
    * side by ~10⁷ — so the fan-out is GUARDED: any interval spanning
    * more than `maxBucketsPerInterval` buckets fails the job with an
    * explicit error naming the interval, instead of quietly exploding
    * the shuffle. Pick bucketSeconds near the typical interval length
    * (fan-out ≈ 2) and raise the guard only deliberately. */
  def rangeJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                startCol: String, endCol: String, rightTime: String,
                bucketSeconds: Long,
                maxBucketsPerInterval: Int = 4096): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    require(maxBucketsPerInterval > 0, "maxBucketsPerInterval must be positive")
    val lb = unix_timestamp(col(startCol)) / bucketSeconds
    val ub = unix_timestamp(col(endCol)) / bucketSeconds
    // Replicate each interval into every bucket it overlaps — unless
    // the fan-out breaches the guard, which is a data/config error
    // surfaced eagerly (raise_error evaluates inside the scan stage).
    val span = floor(ub).cast("long") - floor(lb).cast("long") + 1L
    // A null start/end drops the row (no buckets) — the pre-guard
    // behavior; the guard only fires on genuinely oversized intervals.
    val buckets = when(span.isNull, lit(null).cast("array<long>"))
      .when(span <= maxBucketsPerInterval,
        sequence(floor(lb).cast("long"), floor(ub).cast("long")))
      .otherwise(raise_error(concat(
        lit(s"rangeJoin: interval ["), col(startCol).cast("string"),
        lit(", "), col(endCol).cast("string"),
        lit(s"] spans "), span.cast("string"),
        lit(s" buckets of ${bucketSeconds}s > maxBucketsPerInterval=" +
          s"$maxBucketsPerInterval; choose a coarser bucketSeconds"))))
    val lBucketed = left.withColumn("_bucket", explode(buckets))
    val rBucketed = right.withColumn("_bucket",
      floor(unix_timestamp(col(rightTime)) / bucketSeconds).cast("long"))
    val keyCond = keyCols.map(k => lBucketed(k) === rBucketed(k))
      .reduceOption(_ && _).getOrElse(lit(true))
    val joined = lBucketed.join(rBucketed,
      keyCond && (lBucketed("_bucket") === rBucketed("_bucket"))
        && rBucketed(rightTime) >= lBucketed(startCol)
        && rBucketed(rightTime) <= lBucketed(endCol))
    (keyCols.map(rBucketed(_)) ++ Seq(lBucketed("_bucket"), rBucketed("_bucket")))
      .foldLeft(joined)(_ drop _)
  }

  /** Interval-OVERLAP join: pairs of left/right rows whose time
    * intervals intersect (lStart ≤ rEnd ∧ rStart ≤ lEnd), per key.
    * Same time-bucket equi-join scheme as [[rangeJoin]] — BOTH sides
    * replicate into the buckets their interval spans (each guarded by
    * `maxBucketsPerInterval`), candidates meet on (key, bucket), and
    * the exact predicate refines in-join. A pair overlapping across
    * several shared buckets would surface once per bucket; instead of
    * a distinct-shuffle afterwards, the join keeps ONLY the first
    * shared bucket (`bucket = max(floor(lStart), floor(rStart))` —
    * the earliest bucket where both intervals exist), so each
    * qualifying pair is emitted exactly once with no dedup stage.
    * At scale the shuffle key is (key, bucket): only rows whose
    * intervals touch the same bucket ever meet, and bucketSeconds
    * trades replication (long intervals) against bucket occupancy
    * (hot buckets) exactly as in rangeJoin. */
  def overlapJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                  lStart: String, lEnd: String,
                  rStart: String, rEnd: String,
                  bucketSeconds: Long,
                  maxBucketsPerInterval: Int = 4096): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    require(maxBucketsPerInterval > 0, "maxBucketsPerInterval must be positive")
    def buckets(s: String, e: String): Column = {
      val lb = floor(unix_timestamp(col(s)) / bucketSeconds).cast("long")
      val ub = floor(unix_timestamp(col(e)) / bucketSeconds).cast("long")
      val span = ub - lb + 1L
      when(span.isNull, lit(null).cast("array<long>"))
        .when(span <= maxBucketsPerInterval, sequence(lb, ub))
        .otherwise(raise_error(concat(
          lit("overlapJoin: interval ["), col(s).cast("string"),
          lit(", "), col(e).cast("string"),
          lit(s"] spans more than $maxBucketsPerInterval buckets of " +
            s"${bucketSeconds}s; choose a coarser bucketSeconds"))))
    }
    val lB = left.withColumn("_bucket", explode(buckets(lStart, lEnd)))
    val rB = right.withColumn("_bucket", explode(buckets(rStart, rEnd)))
    val keyCond = keyCols.map(k => lB(k) === rB(k))
      .reduceOption(_ && _).getOrElse(lit(true))
    val firstShared = greatest(
      floor(unix_timestamp(lB(lStart)) / bucketSeconds).cast("long"),
      floor(unix_timestamp(rB(rStart)) / bucketSeconds).cast("long"))
    val joined = lB.join(rB,
      keyCond && (lB("_bucket") === rB("_bucket"))
        && lB("_bucket") === firstShared
        && lB(lStart) <= rB(rEnd) && rB(rStart) <= lB(lEnd))
    (keyCols.map(rB(_)) ++ Seq(lB("_bucket"), rB("_bucket")))
      .foldLeft(joined)(_ drop _)
  }
}
