package graft.perfbench

/** Per-layer metrics of a traced run: the names BENCHMARK.json lists,
  * folded from the per-op Spark figures ([[Layers]]), the op records
  * and the workload's own counters; plus the per-run trace file. */
object PerLayer {
  val Names: Seq[String] = Seq(
    "spark.plan_analysis_ms", "spark.plan_optimization_ms",
    "spark.plan_planning_ms", "spark.driver_gap_ms", "spark.jobs_per_op",
    "spark.executor_cpu_ms", "spark.executor_run_ms", "spark.tasks_per_op",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.storage_mem_bytes",
    "streaming.triggers", "streaming.trigger_ms", "streaming.latest_offset_ms",
    "streaming.query_planning_ms", "streaming.add_batch_ms",
    "streaming.wal_commit_ms",
    "extract.calls", "extract.docs", "extract.ms",
    "catalog.train_ms", "catalog.access_check_ms",
    "sources.append_ms", "sources.merge_ms", "sources.merge_sql_ms",
    "sources.update_ms", "sources.delete_cow_ms", "sources.delete_mor_ms",
    "sources.compact_ms", "sources.vacuum_ms", "sources.matview_refresh_ms",
    "sources.point_read_ms", "sources.topk_read_ms",
    "sources.change_feed_ms", "sources.time_travel_ms",
    "sources.files_scanned_per_read", "sources.manifest_bytes_per_commit",
    "sources.files_written_per_commit", "sources.live_files",
    "sources.labeled_job_ms")

  /** Per-layer metrics of the `corpus` workload only. */
  val OperatorNames: Seq[String] = Seq(
    "operators.dedup_delta_ms", "operators.dedup_candidate_pairs",
    "operators.dedup_verified_pairs", "operators.ivfpq_append_ms",
    "operators.bm25_append_ms", "operators.bpe_train_ms",
    "operators.ann_search_ms", "operators.bm25_search_ms",
    "operators.ann_recall_at_10", "operators.dedup_pair_recall")

  /** Op kinds whose median latency is a per-layer metric. */
  val LatencyOf: Map[String, Seq[String]] = Map(
    "sources.append_ms" -> Seq("append"),
    "sources.merge_ms" -> Seq("merge"),
    "sources.merge_sql_ms" -> Seq("merge_sql"),
    "sources.update_ms" -> Seq("update", "update_sql"),
    "sources.delete_cow_ms" -> Seq("delete_cow", "delete_sql"),
    "sources.delete_mor_ms" -> Seq("delete_mor"),
    "sources.compact_ms" -> Seq("compact"),
    "sources.vacuum_ms" -> Seq("vacuum"),
    "sources.matview_refresh_ms" -> Seq("matview_refresh"),
    "sources.point_read_ms" -> Seq("point_read"),
    "sources.topk_read_ms" -> Seq("topk_read"),
    "sources.change_feed_ms" -> Seq("change_feed"),
    "sources.time_travel_ms" -> Seq("time_travel"),
    "catalog.access_check_ms" -> Seq("access_check"),
    "operators.dedup_delta_ms" -> Seq("dedup_delta"),
    "operators.ivfpq_append_ms" -> Seq("ivfpq_append"),
    "operators.bm25_append_ms" -> Seq("bm25_append"),
    "operators.bpe_train_ms" -> Seq("bpe_train"),
    "operators.ann_search_ms" -> Seq("ann_search"),
    "operators.bm25_search_ms" -> Seq("bm25_search"))

  def unit(name: String): String =
    if (name.endsWith("_ms") || name.endsWith(".ms")) "ms"
    else if (name.endsWith("_bytes") || name.endsWith("bytes_per_commit")) "bytes"
    else if (name.contains("recall")) "ratio"
    else "count"

  def metrics(names: Seq[String], ops: Seq[OpRecord],
              perOp: Map[Int, Map[String, Double]],
              own: Map[String, Double], rec: Recorder): Map[String, Double] = {
    val ok = ops.filterNot(_.failed)
    def perOpMean(k: String) = Stats.mean(ops.map(o => perOp(o.id).getOrElse(k, 0.0)))
    val spark = Seq("spark.plan_analysis_ms", "spark.plan_optimization_ms",
      "spark.plan_planning_ms", "spark.driver_gap_ms", "spark.jobs_per_op",
      "spark.executor_cpu_ms", "spark.executor_run_ms", "spark.tasks_per_op",
      "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
      "spark.spill_bytes").map(k => k -> perOpMean(k))
    val triggers = ops.map(o => perOp(o.id)("streaming.triggers"))
    val nTrig = triggers.sum
    val streaming = Seq(
      "streaming.triggers" -> (if (nTrig == 0) 0.0 else nTrig / triggers.count(_ > 0))) ++
      Seq("trigger_ms", "latest_offset_ms", "query_planning_ms", "add_batch_ms",
        "wal_commit_ms").map { s =>
        val k = s"streaming.$s"
        k -> (if (nTrig == 0) 0.0 else ops.map(o => perOp(o.id)(k)).sum / nTrig)
      }
    val latency = LatencyOf.map { case (m, kinds) =>
      m -> Stats.median(ok.filter(o => kinds.contains(o.kind)).map(_.ms)) }
    val reads = ops.filterNot(_.write)
    val derived = Seq(
      "spark.storage_mem_bytes" -> rec.counterMedian("spark.storage_mem_bytes"),
      "sources.files_scanned_per_read" ->
        Stats.mean(reads.map(o => perOp(o.id)("sources.files_scanned"))),
      "sources.labeled_job_ms" -> Stats.mean(ops.map(o =>
        perOp(o.id).collect { case (k, v) if k.startsWith("sources.label_ms.") => v }.sum)))
    val all = (spark ++ streaming ++ latency ++ derived).toMap ++ own
    names.map(n => n -> all.getOrElse(n, 0.0)).toMap
  }

  def writeTrace(a: Main.Args, rounds: Int, ops: Seq[OpRecord],
                 perOp: Map[Int, Map[String, Double]], rec: Recorder,
                 e2e: Seq[(String, (Double, String))], lm: Map[String, Double],
                 setupTimes: Seq[Double]): Unit = {
    import Json._
    val byKind = ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
      val keys = os.flatMap(o => perOp(o.id).keys).distinct.sorted
      k -> obj(Seq(
        "ops" -> num(os.size),
        "failed" -> num(os.count(_.failed)),
        "write" -> os.head.write.toString,
        "latency_p50_ms" -> num(Stats.median(os.filterNot(_.failed).map(_.ms)))) ++
        keys.map(m => m -> num(Stats.median(os.map(o => perOp(o.id).getOrElse(m, 0.0))))) ++
        rec.counters.collect { case ((n, kk), v) if kk == k =>
          s"counter.$n" -> num(Stats.median(v.toSeq)) }.toSeq)
    }
    val labels = ops.flatMap(o => perOp(o.id).filter(_._1.startsWith("sources.label_ms.")))
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (k, vs) => k -> num(vs.map(_._2).sum) }
    val body = obj(Seq(
      "workload" -> str(a.workload), "seed" -> num(a.seed.toDouble),
      "seconds" -> num(a.seconds), "rounds" -> num(rounds),
      "setup_reps_s" -> arr(setupTimes.map(num)),
      "end_to_end_traced" -> obj(e2e.map { case (k, (v, _)) => k -> num(v) }),
      "per_layer" -> obj(lm.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "per_op_type" -> obj(byKind),
      "label_ms_total" -> obj(labels),
      "spans" -> arr(rec.spans.toSeq.map(s => arr(Seq(num(s.id), num(s.parent),
        num(s.opId), str(s.name), num(s.startNs.toDouble), num(s.endNs.toDouble))))),
      "ops" -> arr(ops.map(o => arr(Seq(num(o.id), str(o.kind), o.write.toString,
        num(o.ms), o.failed.toString))))))
    val f = java.nio.file.Paths.get(a.out,
      s"trace_${a.workload}_s${a.seed}_${System.currentTimeMillis()}.json")
    java.nio.file.Files.write(f, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[perfbench] trace written to $f")
  }
}
