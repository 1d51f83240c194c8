package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Measurement tool for the optimization rounds (guide §1): runs the
  * SPARK_GRAFT_ONLY-selected queries exactly like [[Bench]] (same
  * session config, same noop sink) but with a job-level listener, so
  * the wall-clock of each query decomposes into its Spark jobs
  * (description, duration, executor run time) plus the unaccounted
  * driver gap.
  * Reads the same env contract as Bench; never run by the driver. */
object BenchProfile {
  private case class JobRec(id: Int, desc: String, start: Long,
                            var end: Long = 0L, var stages: Int = 0,
                            var tasks: Int = 0, var runTimeMs: Long = 0L)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt.max(1)
    val spark = Bench.session(cpus, sfDir)

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    // Driver-gap sampler: while no job is live, sample the main
    // thread's stack and histogram the deepest "interesting" frame —
    // attributes the wall time BETWEEN jobs (planning, manifest IO,
    // codegen, commit protocol) that job metrics can't see.
    val mainThread = Thread.currentThread()
    val gapFrames =
      new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var openJobs = 0
    @volatile var sampling = false
    val sampler = new Thread(() => {
      def frameKey(st: Array[StackTraceElement]): Option[String] = {
        val interesting = st.find { f =>
          val c = f.getClassName
          (c.startsWith("org.apache.spark.sql.catalyst") ||
            c.startsWith("org.apache.spark.sql.execution") ||
            c.startsWith("org.apache.parquet") ||
            c.startsWith("org.apache.hadoop") ||
            c.startsWith("org.codehaus.janino") ||
            c.startsWith("graft")) &&
            !c.contains("Lambda")
        }
        val key = interesting.map(f =>
          s"${f.getClassName.split('.').takeRight(2).mkString(".")}." +
            f.getMethodName).orElse(
          st.drop(1).headOption.map(f =>
            s"${f.getClassName}.${f.getMethodName}"))
        // Shell forks are environment plumbing — the CALLER is the
        // actionable frame; append the nearest spark/graft frame above.
        key.map { k =>
          if (!k.contains("Shell")) k
          else st.find { f =>
            val c = f.getClassName
            (c.startsWith("org.apache.spark") || c.startsWith("graft")) &&
              !c.contains("Lambda")
          }.map(f => k + " <- " +
            s"${f.getClassName.split('.').takeRight(2).mkString(".")}." +
            f.getMethodName).getOrElse {
            st.find { f =>
              val c = f.getClassName
              c.startsWith("org.apache.hadoop") && !c.contains("Shell") &&
                !c.contains("Lambda")
            }.map(f => k + " <- " +
              s"${f.getClassName.split('.').takeRight(2).mkString(".")}." +
              f.getMethodName).getOrElse(k)
          }
        }
      }
      while (true) {
        if (sampling && openJobs == 0) {
          // Streaming queries do their planning on the stream execution
          // thread while main blocks in processAllAvailable — when such
          // a thread exists and is busy, its frame is the attribution;
          // otherwise main's.
          val streamFrames = {
            import scala.jdk.CollectionConverters._
            Thread.getAllStackTraces.asScala.collect {
              case (t, st) if t.getName.contains("stream execution") =>
                frameKey(st)
            }.flatten.map("stream:" + _)
          }
          val key =
            if (streamFrames.nonEmpty) streamFrames.head
            else frameKey(mainThread.getStackTrace).getOrElse("idle")
          gapFrames.merge(key, 1, (a, b) => a + b)
        }
        Thread.sleep(5)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    // stageId -> jobId from JobStart.stageIds: AQE submits independent
    // shuffle-stage jobs concurrently even from single-threaded driver
    // code, so "newest open job" mis-credited stages; the explicit map
    // is exact.
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(e.jobId, JobRec(e.jobId, desc, e.time))
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
        order.add(e.jobId)
        openJobs += 1
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
        openJobs -= 1
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        Option(stageToJob.get(info.stageId))
          .flatMap(id => Option(jobs.get(id)))
          .foreach { j =>
            j.stages += 1
            j.tasks += info.numTasks
            j.runTimeMs +=
              Option(info.taskMetrics).map(_.executorRunTime).getOrElse(0L)
          }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val selected = SparkEntry.selectedQueries("profile")
    selected.foreach { case (name, fn) =>
      (1 to reps).foreach { rep =>
        jobs.clear(); order.clear(); gapFrames.clear(); stageToJob.clear()
        val t0 = System.nanoTime()
        sampling = true
        try {
          spark.sparkContext.setJobDescription(s"$name")
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        } catch {
          case e: Throwable =>
            System.err.println(s"[profile] $name FAILED: ${e.getMessage}")
        } finally { sampling = false; spark.sparkContext.setJobDescription(null) }
        val wallMs = (System.nanoTime() - t0) / 1e6
        graft.operators.CacheRegistry.releaseAll()
        Thread.sleep(50) // let listener events drain
        val recs = {
          import scala.jdk.CollectionConverters._
          order.asScala.toSeq.distinct.flatMap(id => Option(jobs.get(id)))
        }
        val jobMs = recs.map(r => (r.end - r.start).max(0L)).sum
        println(f"== $name rep$rep wall=${wallMs}%.0fms jobs=${recs.size} " +
          f"jobTime=${jobMs}ms driverGap=${wallMs - jobMs}%.0fms")
        recs.foreach { r =>
          val d = (r.end - r.start).max(0L)
          if (d >= 20)
            println(f"   job ${r.id}%3d ${d}%6dms stages=${r.stages}%2d " +
              f"tasks=${r.tasks}%4d runTime=${r.runTimeMs}%6dms  ${r.desc.take(90)}")
        }
        import scala.jdk.CollectionConverters._
        val gf = gapFrames.asScala.toSeq.sortBy(-_._2.intValue).take(14)
        gf.foreach { case (k, n) =>
          println(f"   gap ${n.intValue * 5}%6dms  $k")
        }
      }
    }
    spark.stop()
  }
}
