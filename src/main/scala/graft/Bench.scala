package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // The machine's core count beside the requested local[cpus]:
    // tools/check_bench.py warns when either differs from the core
    // count the MIN table was taken at.
    val nproc = Runtime.getRuntime.availableProcessors
    // Min-of-N per query: single-shot timings on a shared container
    // swing 1.3-8x with co-tenant noise; the min over repeats is the
    // stable signal BASELINE.md is recorded against.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
    val spark = session(cpus, sfDir)
    val selected = SparkEntry.selectedQueries("bench")
    val results = selected.map { case (name, fn) =>
      // noop sink, NOT count(): count() lets the optimizer prune every
      // projection, so map-heavy queries would be timed as bare scans.
      // A failed query records NEGATIVE elapsed time — a sentinel so a
      // regression can never masquerade as an implausibly fast success.
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // Release operator-owned caches (Dedup shingle/signature
        // intermediates) so one query's cached blocks don't squeeze the
        // next query's execution memory — and so every repeat pays the
        // full pipeline, not a cache hit.
        graft.operators.CacheRegistry.releaseAll()
        if (ok) dt else -dt
      }
      name -> (if (times.forall(_ > 0)) times.min else -times.map(math.abs).min)
    }
    // Millisecond precision keeps the 80-query line ~5x shorter than
    // raw doubles — the driver captures a bounded tail of stdout and a
    // long line risks losing its head to the cut (r4's artifact had
    // parsed:null for exactly this reason). Failed queries (negative
    // sentinel) clamp AWAY from zero: a sub-millisecond failure would
    // otherwise round to -0.0, which reads as a 0-second success.
    def ms(v: Double): Double =
      if (v < 0) math.min(math.rint(v * 1000) / 1000, -0.001)
      else math.rint(v * 1000) / 1000
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val total = ms(results.values.filter(_ > 0).sum)
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","reps":$reps,"cpus":"$cpus","nproc":$nproc}"""
    println(line)
    // Durable per-query artifacts: the driver's bounded stdout tail
    // only preserved 75/267 timings in r6, so the drift gate
    // (tools/check_bench.py) saw 28% of the suite. The full line also
    // lands as FILES the gate can always read in whole. Two rounds of
    // per-query comparability were lost to artifact clobbering (a solo
    // adjudication run overwrote the full-suite artifact in r10), so:
    // every run writes its own bench_run_<epoch>.json, and
    // bench_queries_latest.json is only ever replaced by a FULL-suite
    // run (no SPARK_GRAFT_ONLY filter). Best-effort: a read-only CWD
    // must not fail the bench.
    val fullSuite = sys.env.get("SPARK_GRAFT_ONLY").forall(_.trim.isEmpty)
    val artifacts =
      Seq(s"bench_run_${System.currentTimeMillis / 1000}.json") ++
        (if (fullSuite) Seq("bench_queries_latest.json") else Seq.empty)
    artifacts.foreach { f =>
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(f), (line + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] artifact write $f failed: ${e.getMessage}")
      }
    }
    spark.stop()
    // The full per-query line above outgrew the driver's bounded tail
    // capture at 243 queries (~5.3 KB — r4 AND r5 artifacts both came
    // back parsed:null because the head holding "metric":"total" was
    // cut). So the absolute last stdout line is a SHORT totals-only
    // object (~120 B) with no `queries` map: whatever tail window the
    // driver keeps, this one always survives and parses. The full
    // per-query map still precedes it for humans / drift tooling.
    val totalsOnly =
      s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"sf":"$sfDir","reps":$reps,"cpus":"$cpus","nproc":$nproc}"""
    println(totalsOnly)
  }

  /** The session [[Bench]], [[BenchProfile]] and [[PlanDump]] run
    * under, with every table of `sfDir` warmed. */
  def session(cpus: String, sfDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet may hold ns timestamps (see Queries.t)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // Throughput-first AQE coalescing: let small post-shuffle
      // partitions merge toward the advisory size instead of padding
      // out to #cpus. The multi-stage candidate pipelines (near-dup
      // family) are stage-overhead-bound at bench SFs without this,
      // and at production scale fewer, advisory-sized partitions is
      // the recommended throughput setting anyway.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      // Every SQL execution eagerly renders its plan into the
      // SQLExecutionStart event (even with the UI off); "formatted"
      // explain strings on multi-action lifecycle queries are pure
      // driver overhead — "simple" keeps the event cheap at any scale.
      .config("spark.sql.ui.explainMode", "simple")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: the first action on each table pays file listing +
    // footer reads + reader init (~0.5-3s per table) — keep that out
    // of whichever query happens to touch the table first.
    // Warm all tables CONCURRENTLY: the cost is listing + footer I/O
    // per table (independent jobs), so overlapping them cuts the fixed
    // preamble ~5x — which matters most for SPARK_GRAFT_ONLY iteration
    // where the warm-up would otherwise dominate a one-query run.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val warm = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings").map { t =>
      Future {
        try spark.read.parquet(s"$sfDir/$t.parquet").count()
        catch { case e: Throwable =>
          // A missing table silently shifts its listing cost into the
          // first query that touches it — say so instead of hiding it.
          System.err.println(s"[bench] warm-up $t failed: ${e.getMessage}")
        }
      }
    }
    warm.foreach(Await.ready(_, Duration.Inf))
    spark
  }
}
