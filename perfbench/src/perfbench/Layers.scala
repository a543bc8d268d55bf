package perfbench

/** Per-layer metrics of the traced passes. Counts and times are per pass
  * (traced total / traced passes), so they compare across run lengths;
  * ratios use the traced totals. Every metric is emitted on every workload, zero
  * where the workload does not reach the layer. */
object Layers {
  def of(ctx: Ctx, workload: Workload, t: Tracer, walls: Seq[Double],
      untracedWall: Double, setup: Seq[Double], jvm: Seq[JvmWork]): Seq[(String, Double, String)] = {
    t.drain()
    val per = 1.0 / walls.size
    val spanS = t.spans.groupMapReduce(_.name)(_.seconds)(_ + _).withDefaultValue(0.0)
    val roots = t.spans.filter(_.parent == -1).toSeq
    val jobs = t.allJobs
    def jobSum(f: JobRecord => Double) = jobs.map(f).sum
    val mb = 1.0 / 1048576
    val taskRun = jobSum(_.runS)
    val driverGap = roots.map(r => r.seconds - t.jobCoverage(r.start, r.end)).sum
    val tracedWall = walls.min
    // An operation's self time: its span minus its layer spans (the checks).
    val opSelf = roots.map(r => r.seconds - t.spans.filter(_.parent == r.id).map(_.seconds).sum).sum
    val st = t.streaming
    val ph = t.phases
    val ingest = workload match { case i: Ingest => Some(i); case _ => None }
    def fx(f: Fixtures => Double) = ingest.fold(0.0)(i => f(i.sources))
    def io(f: Ingest => Double) = ingest.fold(0.0)(f)
    val upserted = io(i => (i.rowsUpdated + i.rowsInserted).toDouble)
    Seq(
      ("operators.build_s", spanS("operators.build") * per, "s"),
      ("materialize.persisted_rdds", t.persisted * per, "count"),
      ("plans.analysis_s", ph("analysis") * per, "s"),
      ("plans.optimization_s", ph("optimization") * per, "s"),
      ("plans.planning_s", ph("planning") * per, "s"),
      ("spark.executions", t.executionCount * per, "count"),
      ("spark.jobs", jobs.size * per, "count"),
      ("spark.stages", jobs.map(_.stages).sum * per, "count"),
      ("spark.tasks", jobs.map(_.tasks).sum * per, "count"),
      ("spark.driver_gap_s", driverGap * per, "s"),
      ("spark.materialize_s", spanS("spark.materialize") * per, "s"),
      ("spark.task_run_s", taskRun * per, "s"),
      ("spark.task_cpu_s", jobSum(_.cpuS) * per, "s"),
      ("spark.gc_s", jobSum(_.gcS) * per, "s"),
      ("spark.shuffle_write_mb", jobSum(_.shuffleWriteB.toDouble) * mb * per, "MB"),
      ("spark.shuffle_read_mb", jobSum(_.shuffleReadB.toDouble) * mb * per, "MB"),
      ("spark.spill_mb", jobSum(_.spillB.toDouble) * mb * per, "MB"),
      ("spark.input_mb", jobSum(_.inputB.toDouble) * mb * per, "MB"),
      ("spark.core_busy_ratio", taskRun / (walls.sum * ctx.o.cores), "ratio"),
      ("streaming.batches", st("batches") * per, "count"),
      ("streaming.trigger_s", st("triggerExecution") * per, "s"),
      ("streaming.add_batch_s", st("addBatch") * per, "s"),
      ("streaming.planning_s", st("queryPlanning") * per, "s"),
      ("streaming.wal_commit_s", st("walCommit") * per, "s"),
      ("streaming.offsets_s", (st("latestOffset") + st("commitOffsets")) * per, "s"),
      ("pipeline.embed_s", spanS("pipeline.embed") * per, "s"),
      ("sources.page_requests", fx(_.pageRequests.get) * per, "count"),
      ("sources.pages_ok_ratio",
        fx(f => f.pagesOk.get.toDouble / math.max(1L, f.pageRequests.get)), "ratio"),
      ("sources.http_429", fx(_.http429.get) * per, "count"),
      ("sources.token_mints", fx(_.tokenMints.get) * per, "count"),
      ("sources.meta_probes", fx(_.metaProbes.get) * per, "count"),
      ("sources.feed_span_s", fx(_.feedSpanSeconds) * per, "s"),
      ("sources.weather_requests", fx(_.weatherRequests.get) * per, "count"),
      ("sources.weather_s", spanS("sources.weather") * per, "s"),
      ("sources.embed_requests", fx(_.embedRequests.get) * per, "count"),
      ("sources.embed_texts_per_request",
        fx(f => f.embedTexts.get.toDouble / math.max(1L, f.embedOk.get)), "count"),
      ("sources.embed_span_s", fx(_.embedSpanSeconds) * per, "s"),
      ("sinks.upsert_s", spanS("sinks.upsert") * per, "s"),
      ("sinks.rows_updated", io(_.rowsUpdated) * per, "count"),
      ("sinks.rows_inserted", io(_.rowsInserted) * per, "count"),
      ("sinks.upsert_rows_per_s", upserted / math.max(spanS("sinks.upsert"), 1e-9), "1/s"),
      ("sinks.readback_s", spanS("sinks.readback") * per, "s"),
      ("sinks.readback_rows", io(_.readbackRows) * per, "count"),
      ("jvm.jit_s", jvm.map(_.jitS).sum * per, "s"),
      ("jvm.classes_loaded", jvm.map(_.classes).sum * per, "count"),
      ("setup.jvm_s", setup(0), "s"),
      ("setup.session_s", setup(1), "s"),
      ("setup.fixtures_s", setup(2), "s"),
      ("setup.warm_s", setup(3), "s"),
      ("trace.wall_s", tracedWall, "s"),
      ("trace.overhead_s", tracedWall - untracedWall, "s"),
      ("trace.op_self_s", opSelf * per, "s"),
      ("trace.unattributed_s", (walls.sum - roots.map(_.seconds).sum) * per, "s"))
  }
}
