package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. Every instance owns a fresh
  * directory; [[Main]] sets it up, runs whole rounds until the
  * run's time is spent, then checks the final state. */
trait Workload {
  /** Generate inputs and load or train into this instance's directory. */
  def load(): Unit
  /** Run every op type untimed, on the loaded state. */
  def warmUp(): Unit
  /** One round of the workload's timed operations. */
  def round(): Unit
  /** Checks of the state the timed phase left (outside any op). */
  def finalCheck(): Unit
  /** Bytes of live user data, from the benchmark's own model. */
  def userBytes: Long
  /** Directories holding the workload's tables and indexes: what
    * space_amp counts. */
  def dataDirs: Seq[String]
  /** Per-layer figures the workload measures itself (trace file and
    * the JSON line of a traced run). */
  def layerMetrics(): Map[String, Double]
  /** Rounds the timed phase runs even when --seconds are spent sooner. */
  def minRounds: Int = 1
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, cores: Int, root: String, out: String)

  /** Input generation and initial load are repeated this many times
    * per run, each into fresh directories; setup_s counts their median
    * once, plus session start and the warm-up. */
  val SetupReps = 3

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", m.getOrElse("cores", "4").toInt,
      m("root"), m("out"))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"${a.root}/spark-warehouse")
      .config("spark.local.dir", s"${a.root}/spark-local")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ui.explainMode", "simple")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def make(name: String, spark: SparkSession, rec: Recorder, seed: Long,
           dir: String, rep: Int): Workload = name match {
    case "ingest"    => new IngestWorkload(spark, rec, seed, dir)
    case "lifecycle" => new LifecycleWorkload(spark, rec, seed, dir)
    case "corpus"    => new CorpusWorkload(spark, rec, seed, dir, rep)
    case other       => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def du(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def rmrf(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val rec = new Recorder(a.trace)
    val layers = if (a.trace) Some(new Layers(spark)) else None
    layers.foreach { l =>
      l.attach()
      rec.onOpEnd = k => rec.count("spark.storage_mem_bytes", l.storageMemBytes().toDouble, k)
    }

    // Load, repeated into fresh directories; the last one is kept.
    var w: Workload = null
    val setupTimes = (0 until SetupReps).map { rep =>
      if (w != null) rmrf(s"${a.root}/rep${rep - 1}")
      val s0 = System.nanoTime()
      w = make(a.workload, spark, rec, a.seed, s"${a.root}/rep$rep", rep)
      w.load()
      (System.nanoTime() - s0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(setupTimes) + warmS
    // Space is measured at this fixed point of the workload's progress
    // (load plus one pass of every op type), not after a time-bounded
    // number of rounds.
    val spaceAmp = w.dataDirs.map(du).sum.toDouble / w.userBytes

    // Timed phase: whole rounds until the run's seconds are spent.
    rec.timed = true
    val tStart = System.nanoTime()
    val deadline = tStart + a.seconds * 1000000000L
    var rounds = 0
    while (rounds < w.minRounds || System.nanoTime() < deadline) {
      val n0 = rec.ops.size
      val r0 = System.nanoTime()
      val jit0 = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
      val gc0 = gcMs()
      w.round(); rounds += 1
      val rs = rec.ops.drop(n0).filterNot(_.failed).toSeq
      System.err.println(f"[perfbench] round $rounds%d: ${(System.nanoTime() - r0) / 1e9}%.2f s, " +
        f"write p50 ${Stats.median(rs.filter(_.write).map(_.ms))}%.1f ms, " +
        f"read p50 ${Stats.median(rs.filterNot(_.write).map(_.ms))}%.1f ms; " +
        s"jit ${java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime - jit0} ms, gc ${gcMs() - gc0} ms")
    }
    val timedNs = System.nanoTime() - tStart
    rec.timed = false
    // Let queued listener events land before the live set is measured.
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

    rec.offOp(w.finalCheck())
    val afterS = (System.nanoTime() - tStart - timedNs) / 1e9

    val ops = rec.ops.toSeq
    val ok = ops.filterNot(_.failed)
    val opNs = timedNs - rec.offOpNanos
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "ops_per_s" -> (ok.size / (opNs / 1e9), "1/s"),
      "write_p50_ms" -> (Stats.median(ok.filter(_.write).map(_.ms)), "ms"),
      "read_p50_ms" -> (Stats.median(ok.filterNot(_.write).map(_.ms)), "ms"),
      "read_p90_ms" -> (Stats.quantile(ok.filterNot(_.write).map(_.ms), 0.9), "ms"),
      "space_amp" -> (spaceAmp, "ratio"),
      "heap_mb" -> (heapMb, "MB"))
    val nReads = ok.count(!_.write)
    System.err.println(s"[perfbench] ${a.workload} seed=${a.seed}: $rounds rounds, " +
      s"${ops.size} ops (${ops.count(_.write)} writes, $nReads ok reads), " +
      s"${ops.count(_.failed)} failed; load reps ${setupTimes.map(t => f"$t%.2f").mkString(",")} s, " +
      f"warm-up $warmS%.2f s, session $sessionS%.2f s, timed ${timedNs / 1e9}%.2f s, " +
      f"heap and final checks $afterS%.2f s")
    ops.filter(_.failed).groupBy(_.kind).foreach { case (k, fs) =>
      System.err.println(s"[perfbench] failed $k x${fs.size}: ${fs.head.reason}")
    }

    val metrics: Seq[(String, (Double, String))] = layers match {
      case None => e2e
      case Some(l) =>
        l.detach()
        val perOp = l.attribute(ops)
        val names = PerLayer.Names ++
          (if (a.workload == "corpus") PerLayer.OperatorNames else Nil)
        val lm = PerLayer.metrics(names, ops, perOp, w.layerMetrics(), rec)
        PerLayer.writeTrace(a, rounds, ops, perOp, rec, e2e, lm, setupTimes)
        lm.toSeq.sortBy(_._1).map { case (k, v) => k -> (v, PerLayer.unit(k)) }
    }
    val correct = rec.unattributedFailures.isEmpty
    rec.unattributedFailures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
    rmrf(a.root + "/rep" + (SetupReps - 1))
    spark.stop()
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> ops.size.toString,
      "failed" -> ops.count(_.failed).toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
  }
}
