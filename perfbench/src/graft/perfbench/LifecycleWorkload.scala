package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{MaterializedAgg, SnapshotTable}

/** `lifecycle`: one SnapshotTable grows through a seeded mix of small
  * writes (API and SQL DML, CoW and MoR deletes, periodic compaction,
  * vacuum and a materialized-view refresh) and reads (point lookups,
  * top-k scans, change feed since the last read, time travel). Each
  * op moves little data, so driver planning and the commit control
  * plane dominate. A plain-Scala model of the table checks every read,
  * change-feed delta, time-travel snapshot and view row. */
final class LifecycleWorkload(spark: SparkSession, rec: Recorder, seed: Long,
                              root: String) extends Workload {
  import LifecycleWorkload._

  private val dir = s"$root/table"
  private val viewDir = s"$root/view"
  private val rnd = new scala.util.Random(seed)
  /** The model: id -> row at the head, and every committed version. */
  private var cur = Map.empty[Long, R]
  private val versions = scala.collection.mutable.Map.empty[Long, Map[Long, R]]
  private val allIds = scala.collection.mutable.ArrayBuffer.empty[Long]
  private var nextId = 0L
  private var lastFeed = 0L
  private var sqlSrc = 0

  def dataDirs: Seq[String] = Seq(dir, viewDir)
  def userBytes: Long = cur.valuesIterator.map(_.bytes).sum

  private def tag(): String = rnd.alphanumeric.take(6 + rnd.nextInt(7)).mkString.toLowerCase
  private def fresh(n: Int): Seq[R] = (0 until n).map { _ =>
    val id = nextId; nextId += 1; allIds += id
    R(id, rnd.nextInt(Groups).toLong, rnd.nextInt(1000).toLong, tag())
  }
  private def df(rows: Seq[R]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(_.row): _*), Schema)
  /** Live ids, drawn uniformly from the model's head. */
  private def liveIds(n: Int): Seq[Long] = {
    val live = cur.keysIterator.toIndexedSeq.sorted
    Seq.fill(n)(live(rnd.nextInt(live.size))).distinct
  }
  private def latest(): Long = SnapshotTable.latestVersion(spark, dir).get

  // ---- traced-run counters --------------------------------------------
  private def listing(sub: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(dir, sub)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
      finally s.close()
    }
  }
  /** Run a committing write; on success the model moves to `next` and
    * is recorded at the new head version. */
  private def write(kind: String, next: => Map[Long, R])(body: => Any): Unit = {
    val before = if (rec.trace) rec.offOp((listing("_manifests"), listing("data"))) else null
    val (_, ok) = rec.op(kind, write = true)(body)
    if (ok.isDefined) rec.offOp { cur = next; versions(latest()) = cur }
    if (rec.trace && rec.timed) rec.offOp {
      val (m0, d0) = before
      val m1 = listing("_manifests"); val d1 = listing("data")
      rec.count("sources.manifest_bytes_per_commit",
        (m1 -- m0.keySet).values.sum.toDouble, kind)
      rec.count("sources.files_written_per_commit",
        (d1.keySet -- d0.keySet).count(_.endsWith(".parquet")).toDouble, kind)
      rec.count("sources.live_files",
        SnapshotTable.manifestFiles(spark, dir, latest()).size.toDouble, kind)
    }
  }

  // ---- writes ------------------------------------------------------------
  private def opAppend(): Unit = {
    val rows = fresh(40)
    write("append", cur ++ rows.map(r => r.id -> r)) {
      SnapshotTable.append(df(rows), dir, statsCols = Seq("id"))
    }
  }
  private def upsertSource(): Seq[R] =
    liveIds(10).map(id => cur(id).copy(v = rnd.nextInt(1000).toLong, tag = tag())) ++ fresh(10)
  private def opMerge(): Unit = {
    val rows = upsertSource()
    write("merge", cur ++ rows.map(r => r.id -> r)) {
      SnapshotTable.merge(spark, dir, df(rows), Seq("id"))
    }
  }
  private def opMergeSql(): Unit = {
    val rows = upsertSource()
    val view = s"perfbench_src_$sqlSrc"; sqlSrc += 1
    df(rows).createOrReplaceTempView(view)
    write("merge_sql", cur ++ rows.map(r => r.id -> r)) {
      spark.sql(s"MERGE INTO graft.`$dir` t USING $view s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    spark.catalog.dropTempView(view)
  }
  /** An id window holding about ten live rows. */
  private def window(): (Long, Long) = {
    val lo = liveIds(1).head
    (lo, lo + 12)
  }
  private def opUpdateSql(): Unit = {
    val (lo, hi) = window()
    write("update_sql", cur.map { case (id, r) =>
        id -> (if (id >= lo && id <= hi) r.copy(v = r.v + 7) else r) }) {
      spark.sql(s"UPDATE graft.`$dir` SET v = v + 7 WHERE id BETWEEN $lo AND $hi")
    }
  }
  private def opUpdate(): Unit = {
    val (lo, hi) = window()
    write("update", cur.map { case (id, r) =>
        id -> (if (id >= lo && id <= hi) r.copy(v = (r.v * 3 + 1) % 1000) else r) }) {
      SnapshotTable.updateWhere(spark, dir, col("id").between(lo, hi),
        Seq("v" -> (col("v") * 3 + 1) % 1000))
    }
  }
  private def opDeleteCow(): Unit = {
    val ids = liveIds(5)
    write("delete_cow", cur -- ids) { SnapshotTable.deleteWhere(spark, dir, col("id").isin(ids: _*)) }
  }
  private def opDeleteSql(): Unit = {
    val ids = liveIds(5)
    write("delete_sql", cur -- ids) {
      spark.sql(s"DELETE FROM graft.`$dir` WHERE id IN (${ids.mkString(", ")})")
    }
  }
  private def opDeleteMor(): Unit = {
    val ids = liveIds(5)
    write("delete_mor", cur -- ids) { SnapshotTable.deleteWhereMor(spark, dir, col("id").isin(ids: _*)) }
  }
  /** Full compaction to half the live file count, so every compaction
    * rewrites the table whatever the seed left it with. */
  private def opCompact(): Unit = write("compact", cur) {
    val sizes = SnapshotTable.manifestSizes(spark, dir, latest())
    SnapshotTable.compact(spark, dir,
      targetBytes = sizes.values.sum / math.max(1, sizes.size / 2) + 1)
  }
  private def opVacuum(): Unit = {
    rec.op("vacuum", write = true) {
      SnapshotTable.vacuum(spark, dir, keepVersions = KeepVersions, minAgeMs = 0L)
    }
    ()
  }
  private def opRefresh(): Unit = {
    val (r, ok) = rec.op("matview_refresh", write = true) { MaterializedAgg.refresh(spark, viewDir) }
    if (ok.isDefined) rec.offOp(checkView(r))
  }

  private def checkView(r: Option[OpRecord]): Unit = {
    val got = MaterializedAgg.read(spark, viewDir).collect().map { row =>
      row.getAs[Long]("grp") -> (row.getAs[Long]("n"), row.getAs[Any]("sv").toString.toDouble.toLong,
        row.getAs[Long]("mn"), row.getAs[Long]("mx"))
    }.toMap
    val want = cur.values.groupBy(_.grp).map { case (g, rs) =>
      g -> (rs.size.toLong, rs.map(_.v).sum, rs.map(_.v).min, rs.map(_.v).max)
    }
    if (got != want) rec.fail(r, "matview_refresh",
      s"view rows differ from the model (${(got.toSet diff want.toSet).take(3)})")
  }

  // ---- reads -------------------------------------------------------------
  private def opPointRead(): Unit = {
    val id = allIds(rnd.nextInt(allIds.size))
    val (r, res) = rec.op("point_read", write = false) {
      SnapshotTable.readWhereEq(spark, dir, "id", id).collect()
    }
    res.foreach(rows => rec.offOp {
      val got = rows.map(R.of).toSeq
      if (got != cur.get(id).toSeq) rec.fail(r, "point_read", s"id $id: got $got want ${cur.get(id)}")
    })
  }
  private def opTopK(): Unit = {
    val (r, res) = rec.op("topk_read", write = false) {
      SnapshotTable.read(spark, dir).orderBy(col("v").desc, col("id").asc).limit(TopK).collect()
    }
    res.foreach(rows => rec.offOp {
      val want = cur.values.toSeq.sortBy(x => (-x.v, x.id)).take(TopK)
      if (rows.map(R.of).toSeq != want) rec.fail(r, "topk_read", "top-k differs from the model")
    })
  }
  private def opChangeFeed(): Unit = {
    val from = lastFeed
    val to = latest()
    val (r, res) = rec.op("change_feed", write = false) {
      SnapshotTable.changeFeed(spark, dir, from, to).collect()
    }
    res.foreach(rows => rec.offOp {
      val got = rows.map(x => (x.getAs[String]("_change"), R.of(x))).toSeq
        .groupBy(identity).map { case (k, v) => k -> v.size }
      val (a, b) = (versions(from), versions(to))
      val ins = b.valuesIterator.filter(x => !a.get(x.id).contains(x)).map(("insert", _))
      val del = a.valuesIterator.filter(x => !b.get(x.id).contains(x)).map(("delete", _))
      val want = (ins ++ del).toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
      if (got != want) rec.fail(r, "change_feed",
        s"feed $from..$to: ${got.size} distinct rows, model ${want.size}")
    })
    lastFeed = to
  }
  private def opTimeTravel(): Unit = {
    val head = latest()
    val candidates = versions.keys.filter(v => v < head && v >= head - TravelBack).toSeq.sorted
    if (candidates.nonEmpty) {
      val v = candidates(rnd.nextInt(candidates.size))
      val (r, res) = rec.op("time_travel", write = false) {
        SnapshotTable.read(spark, dir, Some(v)).collect()
      }
      res.foreach(rows => rec.offOp {
        val got = rows.map(R.of).map(x => x.id -> x).toMap
        if (rows.length != got.size || got != versions(v))
          rec.fail(r, "time_travel", s"version $v differs from the model")
      })
    }
  }

  private val writes: IndexedSeq[() => Unit] = IndexedSeq(
    () => opAppend(), () => opMerge(), () => opMergeSql(), () => opUpdateSql(),
    () => opDeleteCow(), () => opDeleteSql(), () => opDeleteMor(), () => opUpdate())

  private def scans(): Unit = { opTopK(); opChangeFeed(); opTimeTravel() }

  def load(): Unit = {
    val rows = fresh(InitialRows)
    SnapshotTable.append(df(rows).repartitionByRange(InitialFiles, col("id")), dir,
      statsCols = Seq("id"))
    cur = rows.map(r => r.id -> r).toMap
    versions(latest()) = cur
    lastFeed = latest()
    MaterializedAgg.create(spark, dir, viewDir, Seq("grp"), Seq(
      MaterializedAgg.AggSpec("n", "id", "count"),
      MaterializedAgg.AggSpec("sv", "v", "sum_long"),
      MaterializedAgg.AggSpec("mn", "v", "min"),
      MaterializedAgg.AggSpec("mx", "v", "max")), "perfbench-view")
  }

  def warmUp(): Unit = {
    writes.foreach(_())
    opCompact(); opVacuum(); opRefresh()
    opPointRead(); scans()
  }

  /** A round takes 9-16 s; two rounds at least, so a slow machine
    * never reports the first, slowest round alone. */
  override def minRounds: Int = 2

  /** Every DML kind once, each followed by point reads; scans after
    * each half; compaction, vacuum and the view refresh once. */
  def round(): Unit = {
    writes.zipWithIndex.foreach { case (w, i) =>
      w()
      (0 until PointReadsPerWrite).foreach(_ => opPointRead())
      if (i == writes.size / 2 - 1) scans()
    }
    opCompact(); opVacuum(); opRefresh()
    scans()
  }

  def finalCheck(): Unit = {
    val got = SnapshotTable.read(spark, dir).collect().map(R.of)
    if (got.length != cur.size || got.map(x => x.id -> x).toMap != cur)
      rec.unattributedFailures += "lifecycle: final table differs from the model"
  }

  def layerMetrics(): Map[String, Double] =
    Seq("sources.manifest_bytes_per_commit", "sources.files_written_per_commit",
      "sources.live_files").map(n => n -> rec.counterMedian(n)).toMap
}

object LifecycleWorkload {
  val Groups = 16
  val InitialRows = 2000
  val InitialFiles = 40
  val KeepVersions = 16
  val TravelBack = 8
  val TopK = 10
  val PointReadsPerWrite = 6

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("grp", LongType),
    StructField("v", LongType), StructField("tag", StringType)))

  final case class R(id: Long, grp: Long, v: Long, tag: String) {
    def row: Row = Row(id, grp, v, tag)
    /** User bytes: 8 per number, UTF-8 length per string. */
    def bytes: Long = 24L + tag.getBytes("UTF-8").length
  }
  object R {
    def of(r: Row): R = R(r.getAs[Long]("id"), r.getAs[Long]("grp"),
      r.getAs[Long]("v"), r.getAs[String]("tag"))
  }
}
