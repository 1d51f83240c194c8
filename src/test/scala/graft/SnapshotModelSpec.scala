package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** MODEL-BASED differential stress of the table format: a seeded
  * random sequence of the full row-level op surface (append, CoW and
  * MoR delete/update, merge, compaction in all three scopes, restore)
  * runs against an in-memory reference model, with the table read
  * back and compared after EVERY committed op — the cross-op
  * interaction net (an op pair that corrupts state shows up within a
  * few dozen steps; the dvremoves gap restore exposed is exactly the
  * class this hunts). Time travel is checked against the model's own
  * per-version history, which restore also draws targets from. */
class SnapshotModelSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(scheme: String = "file"): String =
    tempRoot("graft-model", scheme) + "/t"

  private def snap(dir: String, v: Option[Long] = None): Map[Long, Long] =
    SnapshotTable.read(spark, dir, v).select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("40 random ops: table == model after every commit, history == model history") {
    val dir = tmp()
    val rng = new scala.util.Random(20260815L)
    var model = Map.empty[Long, Long]
    var history = Map.empty[Long, Map[Long, Long]] // version -> model
    var nextId = 0L

    def freshBatch(n: Int): Seq[(Long, Long)] = {
      val b = (0 until n).map(i => (nextId + i, rng.nextInt(1000).toLong))
      nextId += n
      b
    }
    def record(v: Long): Unit = history += v -> model

    // v0 seed
    val seed = freshBatch(40)
    SnapshotTable.append(seed.toDF("id", "v"), dir, statsCols = Seq("id"))
    model = seed.toMap
    record(0L)

    for (step <- 1 to 40) {
      val opPick = rng.nextInt(10)
      val committed: Option[Long] = opPick match {
        case 0 | 1 => // plain append of fresh rows
          val b = freshBatch(5 + rng.nextInt(10))
          SnapshotTable.append(b.toDF("id", "v"), dir)
          model ++= b
          SnapshotTable.latestVersion(spark, dir)
        case 2 => // CoW delete by value band
          val cut = rng.nextInt(1000).toLong
          val r = SnapshotTable.deleteWhere(spark, dir, $"v" < cut)
          if (r.nonEmpty) model = model.filter(_._2 >= cut)
          r
        case 3 => // MoR delete by id stripe
          val m = 2 + rng.nextInt(5)
          val r = SnapshotTable.deleteWhereMor(spark, dir,
            pmod($"id", lit(m.toLong)) === 0L)
          if (r.nonEmpty) model = model.filter(_._1 % m != 0)
          r
        case 4 => // CoW update
          val cut = rng.nextInt(1000).toLong
          val r = SnapshotTable.updateWhere(spark, dir, $"v" >= cut,
            Seq("v" -> ($"v" + 10000L)))
          if (r.nonEmpty) model = model.map { case (k, v) =>
            k -> (if (v >= cut) v + 10000L else v) }
          r
        case 5 => // MoR update
          val m = 2 + rng.nextInt(4)
          val r = SnapshotTable.updateWhereMor(spark, dir,
            pmod($"id", lit(m.toLong)) === 1L, Seq("v" -> lit(777L)))
          if (r.nonEmpty) model = model.map { case (k, v) =>
            k -> (if (k % m == 1) 777L else v) }
          r
        case 6 => // merge: updates to existing ids + fresh inserts
          val existing = rng.shuffle(model.keys.toSeq)
            .take(math.min(4, model.size)).map(k => (k, 5555L))
          val fresh = freshBatch(3)
          val src = (existing ++ fresh).distinct
          if (src.isEmpty) None
          else {
            val v = SnapshotTable.merge(spark, dir,
              src.toDF("id", "v"), Seq("id"))
            model = model ++ src
            Some(v)
          }
        case 7 => // compaction in one of three scopes (model no-op)
          rng.nextInt(3) match {
            case 0 => SnapshotTable.compact(spark, dir)
            case 1 => SnapshotTable.compactWhere(spark, dir, "id",
              0L, nextId / 2)
            case 2 => SnapshotTable.binPackSmall(spark, dir,
              smallerThanBytes = 1L << 20)
          }
        case 8 => // restore to a random recorded version
          val targets = history.keys.toSeq.sorted.takeRight(8)
          val target = targets(rng.nextInt(targets.length))
          val r = SnapshotTable.restore(spark, dir, target)
          if (r.nonEmpty) model = history(target)
          r
        case 9 => // no-op probes: reads must not change anything
          val (sel, tot) = SnapshotTable.pruneFiles(spark, dir, "id",
            0L, nextId)
          assert(sel.length <= tot)
          None
      }
      committed.foreach(record)
      val got = snap(dir)
      assert(got == model,
        s"step $step (op $opPick, v $committed): table/model diverged\n" +
          s"only-table: ${(got.toSet -- model.toSet).take(5)}\n" +
          s"only-model: ${(model.toSet -- got.toSet).take(5)}")
    }

    // time travel: every 7th recorded version reads as its model did
    history.keys.toSeq.sorted.zipWithIndex.filter(_._2 % 7 == 0)
      .foreach { case (v, _) =>
        assert(snap(dir, Some(v)) == history(v), s"time travel to v$v")
      }
    // history() walks the full chain without error
    assert(SnapshotTable.history(spark, dir).count() ==
      SnapshotTable.latestVersion(spark, dir).get + 1)
  }

  test("25 random ops with vacuum and clone: horizons respected, branches diverge correctly") {
    val dir = tmp()
    val rng = new scala.util.Random(8150815L)
    var model = Map.empty[Long, Long]
    var history = Map.empty[Long, Map[Long, Long]]
    var nextId = 0L
    def freshBatch(n: Int): Seq[(Long, Long)] = {
      val b = (0 until n).map(i => (nextId + i, rng.nextInt(1000).toLong))
      nextId += n
      b
    }
    val seed = freshBatch(30)
    SnapshotTable.append(seed.toDF("id", "v"), dir, statsCols = Seq("id"))
    model = seed.toMap
    history += 0L -> model

    for (step <- 1 to 25) {
      val opPick = rng.nextInt(9)
      val committed: Option[Long] = opPick match {
        case 0 | 1 | 2 =>
          val b = freshBatch(4 + rng.nextInt(6))
          SnapshotTable.append(b.toDF("id", "v"), dir)
          model ++= b
          SnapshotTable.latestVersion(spark, dir)
        case 3 =>
          val m = 2 + rng.nextInt(5)
          val r = SnapshotTable.deleteWhereMor(spark, dir,
            pmod($"id", lit(m.toLong)) === 0L)
          if (r.nonEmpty) model = model.filter(_._1 % m != 0)
          r
        case 4 =>
          val cut = rng.nextInt(1000).toLong
          val r = SnapshotTable.updateWhere(spark, dir, $"v" < cut,
            Seq("v" -> ($"v" + 20000L)))
          if (r.nonEmpty) model = model.map { case (k, v) =>
            k -> (if (v < cut) v + 20000L else v) }
          r
        case 5 => // restore within the surviving horizon only
          val targets = history.keys.toSeq.sorted
          val target = targets(rng.nextInt(targets.length))
          val r = SnapshotTable.restore(spark, dir, target)
          if (r.nonEmpty) model = history(target)
          r
        case 6 => // vacuum: history shrinks to the keep window
          val latest = SnapshotTable.latestVersion(spark, dir).get
          SnapshotTable.vacuum(spark, dir, keepVersions = 6, minAgeMs = 0L)
          val keepFrom = math.max(0L, latest - 5)
          history = history.filter(_._1 >= keepFrom)
          None
        case 7 =>
          SnapshotTable.compact(spark, dir)
        case 8 => // branch: clone a random surviving version, diverge,
          // and prove the source never notices
          val targets = history.keys.toSeq.sorted
          val target = targets(rng.nextInt(targets.length))
          val branch = tmp()
          SnapshotTable.shallowClone(spark, dir, branch,
            versionAsOf = Some(target))
          assert(snap(branch) == history(target),
            s"step $step: clone of v$target diverged from its model")
          SnapshotTable.deleteWhere(spark, branch, lit(true))
          assert(snap(branch).isEmpty)
          None
      }
      committed.foreach(v => history += v -> model)
      assert(snap(dir) == model, s"step $step (op $opPick) diverged")
    }
    // every surviving recorded version still time-travels correctly
    history.toSeq.sortBy(_._1).takeRight(4).foreach { case (v, m) =>
      assert(snap(dir, Some(v)) == m, s"time travel to v$v")
    }
  }

  test("35 random ops with column mapping: rename/drop/re-add interleave " +
      "with row ops; every version serves ITS schema") {
    val dir = tmp()
    val rng = new scala.util.Random(77260815L)
    // model: id -> (value of the (renameable) v-column, value of the
    // droppable x-column — None = this row reads NULL x right now)
    var model = Map.empty[Long, (Long, Option[Long])]
    var vName = "v"          // the v-column's CURRENT logical name
    var hasX = true          // is x in the current schema?
    // version -> (model, vName, hasX): restore targets + time travel
    var history = Map.empty[Long, (Map[Long, (Long, Option[Long])], String, Boolean)]
    var nextId = 0L

    def freshBatch(n: Int): Seq[(Long, Long, Long)] = {
      val b = (0 until n).map(i =>
        (nextId + i, rng.nextInt(1000).toLong, rng.nextInt(100).toLong))
      nextId += n
      b
    }
    def append(n: Int): Unit = {
      val b = freshBatch(n)
      if (hasX) {
        SnapshotTable.append(b.toDF("id", vName, "x"), dir)
        model ++= b.map { case (i, v, x) => i -> (v, Some(x)) }
      } else {
        SnapshotTable.append(b.map(t => (t._1, t._2)).toDF("id", vName), dir)
        model ++= b.map { case (i, v, _) => i -> (v, None) }
      }
    }
    def read(v: Option[Long], nm: String, withX: Boolean
            ): Map[Long, (Long, Option[Long])] = {
      val df = SnapshotTable.read(spark, dir, v)
      assert(df.columns.toSet ==
        (Set("id", nm) ++ (if (withX) Set("x") else Set.empty)),
        s"schema at $v: got ${df.columns.toSeq}, vName=$nm hasX=$withX")
      if (withX)
        df.select(col("id"), col(nm), col("x")).collect().map(r =>
          r.getLong(0) -> (r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      else
        df.select(col("id"), col(nm)).collect().map(r =>
          r.getLong(0) -> (r.getLong(1), None: Option[Long])).toMap
    }

    val seed = freshBatch(30)
    SnapshotTable.append(seed.toDF("id", "v", "x"), dir,
      statsCols = Seq("id"))
    model = seed.map { case (i, v, x) => i -> (v, Some(x)) }.toMap
    history += 0L -> ((model, vName, hasX))

    for (step <- 1 to 35) {
      val opPick = rng.nextInt(10)
      val committed: Option[Long] = opPick match {
        case 0 | 1 => // append under the CURRENT schema shape
          append(4 + rng.nextInt(6))
          SnapshotTable.latestVersion(spark, dir)
        case 2 => // metadata-only rename of the v-column
          val to = if (vName == "v") "val" else "v"
          val r = SnapshotTable.renameColumn(spark, dir, vName, to)
          vName = to
          Some(r)
        case 3 if hasX => // metadata-only drop of x
          val r = SnapshotTable.dropColumn(spark, dir, "x")
          hasX = false
          model = model.map { case (k, (v, _)) => k -> (v, None) }
          Some(r)
        case 3 => // re-ADD x (schema evolution + fresh physical name):
          // pre-drop rows must read NULL, never the retired bytes
          hasX = true
          append(3 + rng.nextInt(4))
          SnapshotTable.latestVersion(spark, dir)
        case 4 => // CoW delete by value band under the current name
          val cut = rng.nextInt(1000).toLong
          val r = SnapshotTable.deleteWhere(spark, dir, col(vName) < cut)
          if (r.nonEmpty) model = model.filter(_._2._1 >= cut)
          r
        case 5 => // MoR delete by id stripe
          val m = 2 + rng.nextInt(5)
          val r = SnapshotTable.deleteWhereMor(spark, dir,
            pmod($"id", lit(m.toLong)) === 0L)
          if (r.nonEmpty) model = model.filter(_._1 % m != 0)
          r
        case 6 => // CoW update of the v-column under its current name
          val cut = rng.nextInt(1000).toLong
          val r = SnapshotTable.updateWhere(spark, dir, col(vName) >= cut,
            Seq(vName -> (col(vName) + 10000L)))
          if (r.nonEmpty) model = model.map { case (k, (v, x)) =>
            k -> (if (v >= cut) (v + 10000L, x) else (v, x)) }
          r
        case 7 => // merge upsert on id, current schema shape
          val existing = rng.shuffle(model.keys.toSeq)
            .take(math.min(4, model.size))
          val fresh = freshBatch(2)
          if (existing.isEmpty && fresh.isEmpty) None
          else if (hasX) {
            val src = existing.map(k => (k, 5555L, 9L)) ++ fresh
            val v = SnapshotTable.merge(spark, dir,
              src.toDF("id", vName, "x"), Seq("id"))
            model ++= src.map { case (i, vv, x) => i -> (vv, Some(x)) }
            Some(v)
          } else {
            val src = existing.map(k => (k, 5555L)) ++
              fresh.map(t => (t._1, t._2))
            val v = SnapshotTable.merge(spark, dir,
              src.toDF("id", vName), Seq("id"))
            model ++= src.map { case (i, vv) => i -> (vv, None: Option[Long]) }
            Some(v)
          }
        case 8 => // compaction scopes (model no-op; materializes DVs,
          // rewrites under the mapping)
          rng.nextInt(2) match {
            case 0 => SnapshotTable.compact(spark, dir)
            case 1 => SnapshotTable.binPackSmall(spark, dir,
              smallerThanBytes = 1L << 20)
          }
        case 9 => // restore: model AND schema state roll back together
          val targets = history.keys.toSeq.sorted.takeRight(8)
          val target = targets(rng.nextInt(targets.length))
          val r = SnapshotTable.restore(spark, dir, target)
          if (r.nonEmpty) {
            val (m, nm, hx) = history(target)
            model = m; vName = nm; hasX = hx
          }
          r
      }
      committed.foreach(v => history += v -> ((model, vName, hasX)))
      val got = read(None, vName, hasX)
      assert(got == model,
        s"step $step (op $opPick, v $committed): table/model diverged\n" +
          s"only-table: ${(got.toSet -- model.toSet).take(5)}\n" +
          s"only-model: ${(model.toSet -- got.toSet).take(5)}")
    }
    // time travel: sampled versions serve THEIR schema and THEIR rows
    history.keys.toSeq.sorted.zipWithIndex.filter(_._2 % 5 == 0)
      .foreach { case (v, _) =>
        val (m, nm, hx) = history(v)
        assert(read(Some(v), nm, hx) == m, s"time travel to v$v")
      }
  }

  for ((scheme, tag) <- SparkTestBase.Schemes)
  test("CONCURRENT writers: 4 threads of mixed row ops + a compaction " +
      "chaos thread against ONE table; per-thread linearized models" + tag) {
    // Each thread owns a disjoint id range, so its semantic effects
    // commute with every other thread's — the final table must equal
    // the union of the per-thread models, where each model folds
    // exactly the ops that COMMITTED (a ConcurrentModificationException
    // is the protocol's documented answer to a write-write race and
    // must be perfectly atomic: no manifest, no effect). The chaos
    // thread compacts concurrently, deliberately mixing threads' rows
    // into shared files so row ops and rewrites really do collide.
    val dir = tmp(scheme)
    SnapshotTable.append(Seq((-1L, -1L)).toDF("id", "v"), dir,
      statsCols = Seq("id"))
    val T = 4; val OPS = 10
    val models = new Array[Map[Long, Long]](T)
    val cmes = new java.util.concurrent.atomic.AtomicInteger()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val workers = (0 until T).map { t =>
      new Thread(() => {
        try {
          val rng = new scala.util.Random(9000L + t)
          val lo = (t + 1) * 1000000L
          val hi = lo + 1000000L
          var nextId = lo
          var model = Map.empty[Long, Long]
          def own = $"id" >= lo && $"id" < hi
          def fresh(n: Int): Seq[(Long, Long)] = {
            val b = (0 until n).map(i => (nextId + i, rng.nextInt(1000).toLong))
            nextId += n
            b
          }
          for (_ <- 1 to OPS) {
            try {
              rng.nextInt(6) match {
                case 0 | 1 =>
                  val b = fresh(5)
                  SnapshotTable.append(b.toDF("id", "v"), dir)
                  model ++= b
                case 2 =>
                  val cut = rng.nextInt(1000).toLong
                  SnapshotTable.deleteWhere(spark, dir, own && $"v" < cut)
                  model = model.filter(_._2 >= cut)
                case 3 =>
                  val m = 2 + rng.nextInt(4)
                  SnapshotTable.deleteWhereMor(spark, dir,
                    own && pmod($"id", lit(m.toLong)) === 0L)
                  model = model.filter(_._1 % m != 0)
                case 4 =>
                  val cut = rng.nextInt(1000).toLong
                  SnapshotTable.updateWhere(spark, dir, own && $"v" >= cut,
                    Seq("v" -> ($"v" + 10000L)))
                  model = model.map { case (k, v) =>
                    k -> (if (v >= cut) v + 10000L else v) }
                case 5 =>
                  val ex = rng.shuffle(model.keys.toSeq)
                    .take(math.min(3, model.size)).map(k => (k, 5555L))
                  val src = ex ++ fresh(2)
                  SnapshotTable.merge(spark, dir, src.toDF("id", "v"),
                    Seq("id"))
                  model ++= src
              }
            } catch {
              // the documented loser's surface — must be a perfect
              // no-op (the model update above is skipped with it)
              case _: java.util.ConcurrentModificationException =>
                cmes.incrementAndGet()
            }
          }
          models(t) = model
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    val chaos = new Thread(() => {
      try {
        for (i <- 1 to 8) {
          try {
            if (i % 2 == 0) SnapshotTable.compact(spark, dir)
            else SnapshotTable.binPackSmall(spark, dir,
              smallerThanBytes = 1L << 20)
          } catch {
            case _: java.util.ConcurrentModificationException =>
              cmes.incrementAndGet()
          }
          // consistent-snapshot probe UNDER FIRE: a pinned version's
          // scan count must equal its metadata-only count no matter
          // what is committing around it
          val v = SnapshotTable.latestVersion(spark, dir).get
          assert(SnapshotTable.read(spark, dir, Some(v)).count() ==
            SnapshotTable.countRows(spark, dir, Some(v)),
            s"torn snapshot at v$v")
        }
      } catch { case e: Throwable => errs.add(e) }
    })
    (workers :+ chaos).foreach(_.start())
    (workers :+ chaos).foreach(_.join(600000))
    assert(errs.isEmpty, s"worker errors: ${errs.toArray.mkString("; ")}")
    val expected = models.foldLeft(Map(-1L -> -1L))(_ ++ _)
    val got = snap(dir)
    assert(got == expected,
      s"final state diverged (cmes=$cmes)\n" +
        s"only-table: ${(got.toSet -- expected.toSet).take(5)}\n" +
        s"only-model: ${(expected.toSet -- got.toSet).take(5)}")
    // chain integrity: every surviving version parses and history walks
    val head = SnapshotTable.latestVersion(spark, dir).get
    val manifests = new java.io.File(SparkTestBase.localPath(dir),
      "_manifests").list().sorted.toSeq
    assert(SnapshotTable.history(spark, dir).count() == head + 1,
      s"gap in the version chain — manifests: $manifests")
    // metadata-only COUNT(*) == scan count — the invariant this stress
    // originally broke: a shared DV sidecar partially materialized by
    // a sibling file's rewrite kept serving the dead files' positions
    // to countRows (dvRows now filters positions to currently-
    // referencing files)
    assert(SnapshotTable.read(spark, dir, Some(head)).count() ==
      SnapshotTable.countRows(spark, dir, Some(head)),
      "metadata count diverged from the scan")
  }

  for ((scheme, tag) <- SparkTestBase.Schemes)
  test("100 seeded metadata-commit interleavings: the ledger CAS admits " +
      "exactly one winner, policy and data commits converge" + tag) {
    val dir = tmp(scheme)
    SnapshotTable.append((0L until 20L).map(i => (i, i))
      .toDF("id", "v"), dir, statsCols = Seq("id"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    var appended = 0L
    var appendCmes = 0
    for (round <- 1 to 100) {
      val wins = new java.util.concurrent.atomic.AtomicInteger()
      val doAppend = round % 4 == 0
      val ts = Seq(
        // two threads RACE the same exactly-once ledger advance —
        // the CAS must admit exactly one
        new Thread(() => {
          try { if (SnapshotTable.advanceTxn(spark, dir, "race-app",
            round.toLong).nonEmpty) wins.incrementAndGet() }
          catch { case e: Throwable => errs.add(e) }
        }),
        new Thread(() => {
          try { if (SnapshotTable.advanceTxn(spark, dir, "race-app",
            round.toLong).nonEmpty) wins.incrementAndGet() }
          catch { case e: Throwable => errs.add(e) }
        }),
        // a policy commit rebases through the same commit loop
        new Thread(() => {
          try { SnapshotTable.setProperties(spark, dir,
            Map("round" -> round.toString)) }
          catch { case e: Throwable => errs.add(e) }
        })) ++
        // every 4th round a DATA commit races the metadata commits
        (if (doAppend) Seq(new Thread(() => {
          try {
            SnapshotTable.append(
              Seq((100000L + round, round.toLong)).toDF("id", "v"), dir)
            appended += 1
          } catch {
            case _: java.util.ConcurrentModificationException =>
              appendCmes += 1
            case e: Throwable => errs.add(e)
          }
        })) else Nil)
      ts.foreach(_.start()); ts.foreach(_.join(120000))
      assert(errs.isEmpty, s"round $round: ${errs.toArray.mkString("; ")}")
      assert(wins.get() == 1,
        s"round $round: advanceTxn admitted ${wins.get()} winners")
      val head = SnapshotTable.latestVersion(spark, dir).get
      val st = SnapshotTable.snapshot(spark, dir, head).txns
      assert(st.get("race-app").contains(round.toLong),
        s"round $round: ledger cursor lost")
      assert(SnapshotTable.snapshot(spark, dir, head).props
        .get("round").contains(round.toString),
        s"round $round: property commit lost")
    }
    // every successful append is visible exactly once
    assert(SnapshotTable.read(spark, dir)
      .filter($"id" >= 100000L).count() == appended)
    assert(appendCmes == 0, "plain appends never write-write conflict")
    // vacuum after the fact: the 300+-version chain stays healthy
    SnapshotTable.vacuum(spark, dir, keepVersions = 5, minAgeMs = 0L)
    assert(SnapshotTable.read(spark, dir).count() == 20 + appended)
  }
}
