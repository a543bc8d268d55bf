package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Deep-backlog probe for the streaming-append family (VERDICT r13 #3):
  * q118 (score-on-append), q123 (tokenize-on-append), q124 (IVF-PQ
  * encode-on-append), q134 (stateful card maintenance).
  *
  * The r13 learned-probe headline for this family (q124 3.47× wall at
  * 10×) was dominated by the AvailableNow harness floor (~3 s of
  * stream startup + per-trigger overhead over ~1 s of real work) — the
  * "amortizes on a real backlog" claim was extrapolated from linear
  * shuffle, not measured. This probe measures it:
  *
  *  - Each family drains a 10-FILE backlog (maxFilesPerTrigger=1 → 10
  *    micro-batches) at sf0.1 AND at the 10× corpus, recording every
  *    micro-batch's triggerExecution ms from the streaming progress
  *    events — the marginal cost curve a production catch-up pays.
  *  - The HARNESS FLOOR is measured directly: the same runner drains a
  *    backlog of near-empty files through an identity transform, so
  *    wall − floor isolates the work the operator actually did.
  *  - Reported per family: the registered 2-batch wall at both scales
  *    (the learned probe's headline shape), the floor-adjusted 10×
  *    ratio, the 10-batch marginal curve (first batch carries plan
  *    codegen; the flat law reads batches 2..N), and the 10-batch
  *    floor-adjusted work ratio.
  *
  * Laws asserted (exit 2): marginal flatness — max(batch 2..N) ≤ 4 ×
  * median(batch 2..N) at both scales (a super-linear tail would mean
  * per-batch cost grows with position, i.e. state or target-dir debt
  * accumulates batch over batch — the failure mode a stateless-drain
  * claim forbids). Measurement errors exit 3 — including a FLOOR
  * SANITY guard (VERDICT r14 #7): floor subtraction assumes floor ≪
  * work, so any measured run whose wall is under 2 × the harness
  * floor would print a floor-error-dominated "adjusted" ratio; the
  * probe refuses (exit 3) instead of reporting it.
  *
  * q124 runs cells ∝ corpus at 10× (the r12 deployment-knob
  * convention: scaled cells bound per-cell occupancy, so in-task ADC
  * work scales with the batch). q134's marginal INCLUDES its by-design
  * per-batch versioned write-back of sigstats+card — that is the
  * operator's real per-batch cost, not harness (VERDICT r13 #7).
  *
  * Usage: Test/runMain graft.BacklogProbe [sf01Dir] [outJson]
  *        [clean|adversarial] [nBatches]
  */
object BacklogProbe {

  /** Default backlog depth; arg 4 overrides (VERDICT r14 #4 runs the
    * adversarial tier at 20 to see twice the tail the ramp showed in). */
  val DefaultBatches = 10

  /** Per-micro-batch progress rows captured from the listener. */
  private final case class BatchRow(batchId: Long, ms: Long, rows: Long)

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outFile = args.lift(1).getOrElse("SCALE_r15_backlog.json")
    val adversarial = args.lift(2).contains("adversarial")
    val NBatches = args.lift(3).map(_.toInt).getOrElse(DefaultBatches)
    val spark = GraftSession.local()
    import Json.{f3, jstr}

    val (smallDir, bigDir) =
      if (adversarial) {
        val s = "/tmp/graft_scaleprobe_advbase"
        val b = "/tmp/graft_scaleprobe_advsf1"
        ScaleProbe.synthesize(spark, baseDir, s, 1, adversarial = true)
        ScaleProbe.synthesize(spark, baseDir, b, ScaleProbe.Copies, adversarial = true)
        (s, b)
      } else {
        val b = "/tmp/graft_scaleprobe_sf1"
        ScaleProbe.synthesize(spark, baseDir, b, ScaleProbe.Copies, adversarial = false)
        (baseDir, b)
      }

    // Persisted artifacts ahead of ALL measurement (the production
    // precondition: an append never trains/builds — LearnedProbe's
    // discipline, same memoized /tmp caches).
    val scaledCells = operators.SimilarityQueries.IvfCells * ScaleProbe.Copies
    for (dir <- Seq(smallDir, bigDir)) {
      operators.CurationQueries.qcModelPrepared(spark, dir)
      operators.TextQueries.bpeMergesPrepared(spark, dir)
      pipeline.CardIndex.prepared(spark, dir)
    }
    operators.SimilarityQueries.ivfPqIndexPrepared(spark, smallDir)
    operators.SimilarityQueries.ivfPqIndexPrepared(spark, bigDir, scaledCells)
    println(s"[backlog] artifacts warm (small=$smallDir big=$bigDir)")

    // ---- per-micro-batch capture: progress events are async, so each
    // measured drain clears the buffer, runs, then polls until the
    // event count is stable before reading it.
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[BatchRow]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ms = Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(-1L)
        captured.add(BatchRow(p.batchId, ms, p.numInputRows))
      }
    })
    def drainCaptured(): Seq[BatchRow] = {
      var last = -1; var stable = 0
      while (stable < 3) { // ~300 ms of silence = events flushed
        val n = captured.size
        if (n == last) stable += 1 else { stable = 0; last = n }
        Thread.sleep(100)
      }
      val rows = scala.jdk.CollectionConverters.IteratorHasAsScala(
        captured.iterator).asScala.toSeq.sortBy(_.batchId)
      captured.clear()
      rows
    }

    final case class Run(wall: Double, batches: Seq[BatchRow],
        outRows: Long, error: Option[String])
    def run(body: => DataFrame): Run = {
      captured.clear()
      val t0 = System.nanoTime()
      try {
        val n = body.count()
        Run((System.nanoTime() - t0) / 1e9, drainCaptured(), n, None)
      } catch { case scala.util.control.NonFatal(e) =>
        Run((System.nanoTime() - t0) / 1e9, drainCaptured(), -1L,
          Some(GraftSession.errMsg(e)))
      }
    }

    // ---- the harness floor: identity transform over NBatches files of
    // one row each — same source/trigger/sink machinery, ~zero work.
    def floor(nFiles: Int): Double = {
      import spark.implicits._
      val root = TempDirs.fresh("backlog_floor")
      val src = s"$root/src"; val target = s"$root/t"; val ckpt = s"$root/c"
      val batch = spark.range(nFiles.toLong).toDF("doc_id")
      batch.repartition(nFiles).write.parquet(src)
      val t0 = System.nanoTime()
      streaming.StreamScore.runAvailableNow(
        spark, src, batch.schema, target, ckpt,
        maxFilesPerTrigger = Some(1))(b => b)
      val wall = (System.nanoTime() - t0) / 1e9
      // Quiesce the async listener bus before returning (ADVICE r14):
      // a floor drain's own progress events arriving AFTER the next
      // measured run's clear() would pollute that run's batch_ms rows.
      drainCaptured()
      wall
    }

    // Codegen/session warm at sf0.001, then floors (min of two — the
    // floor is a subtrahend, so an inflated floor flatters the adjusted
    // ratios; min is the conservative side).
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) {
      operators.CurationQueries.qcModelPrepared(spark, warmDir)
      operators.TextQueries.bpeMergesPrepared(spark, warmDir)
      pipeline.CardIndex.prepared(spark, warmDir)
      operators.SimilarityQueries.ivfPqIndexPrepared(spark, warmDir)
      run(operators.CurationQueries.qcStreamDrain(spark, warmDir, 2))
      run(operators.TextQueries.bpeStreamDrain(spark, warmDir, 2))
      run(operators.SimilarityQueries.ivfpqAppendStream(spark, warmDir,
        operators.SimilarityQueries.IvfCells, 2))
      val (_, _) = operators.ReleaseQueries.cardMaintainDrain(spark, warmDir, 2)
      drainCaptured() // quiesce, not just clear: warm-up events are async
    }
    floor(2) // warm the floor path itself once
    val floor2 = math.min(floor(2), floor(2))
    val floor10 = math.min(floor(NBatches), floor(NBatches))
    println(s"[backlog] harness floor: 2-batch ${f3(floor2)}s, " +
      s"$NBatches-batch ${f3(floor10)}s")

    def cellsFor(dir: String): Int =
      if (dir == bigDir) scaledCells else operators.SimilarityQueries.IvfCells
    val families: Seq[(String, (String, Int) => DataFrame)] = Seq(
      ("q118_stream_score",
        (d, n) => operators.CurationQueries.qcStreamDrain(spark, d, n)),
      ("q123_stream_tokenize",
        (d, n) => operators.TextQueries.bpeStreamDrain(spark, d, n)),
      ("q124_stream_ivfpq_append",
        (d, n) => operators.SimilarityQueries.ivfpqAppendStream(
          spark, d, cellsFor(d), n)),
      ("q134_card_maintain",
        (d, n) => {
          val (root, v) = operators.ReleaseQueries.cardMaintainDrain(spark, d, n)
          spark.read.parquet(s"$root/v$v/card")
        }))

    final case class Fam(name: String, small2: Run, big2: Run,
        small10: Run, big10: Run)
    def marginal(r: Run): Seq[Long] = r.batches.filter(_.rows > 0).map(_.ms)
    def median(xs: Seq[Long]): Double =
      if (xs.isEmpty) -1.0
      else { val s = xs.sorted; s(s.size / 2).toDouble }
    def flatOk(r: Run): Boolean = {
      val tail = marginal(r).drop(1) // batch 1 carries plan/codegen
      tail.size < 2 || tail.max <= 4.0 * median(tail)
    }

    val rows = families.map { case (name, f) =>
      val s2 = run(f(smallDir, 2)); val b2 = run(f(bigDir, 2))
      val s10 = run(f(smallDir, NBatches)); val b10 = run(f(bigDir, NBatches))
      def bs(r: Run) = marginal(r).mkString("[", ",", "]")
      println(s"[backlog] $name 2-batch ${f3(s2.wall)}s/${f3(b2.wall)}s " +
        s"10-batch ${f3(s10.wall)}s/${f3(b10.wall)}s " +
        s"batches10 small=${bs(s10)} big=${bs(b10)}")
      Fam(name, s2, b2, s10, b10)
    }

    def runJson(r: Run): String =
      s"""{"wall_sec":${f3(r.wall)},"out_rows":${r.outRows},""" +
        s""""batch_ms":${r.batches.map(b => s"[${b.batchId},${b.ms},${b.rows}]")
          .mkString("[", ",", "]")}""" +
        r.error.fold("")(e => s""","error":"${jstr(e)}"""") + "}"
    val qjson = rows.map { fam =>
      val adj2 = (fam.big2.wall - floor2) / math.max(0.001, fam.small2.wall - floor2)
      val adj10 = (fam.big10.wall - floor10) / math.max(0.001, fam.small10.wall - floor10)
      val mTailB = marginal(fam.big10).drop(1)
      s""""${fam.name}":{"small_2":${runJson(fam.small2)},"big_2":${runJson(fam.big2)},""" +
        s""""small_N":${runJson(fam.small10)},"big_N":${runJson(fam.big10)},""" +
        s""""headline_ratio_2batch":${f3(fam.big2.wall / math.max(0.001, fam.small2.wall))},""" +
        s""""floor_adjusted_ratio_2batch":${f3(adj2)},""" +
        s""""floor_adjusted_ratio_Nbatch":${f3(adj10)},""" +
        s""""bigN_marginal_median_ms":${f3(median(mTailB))},""" +
        s""""bigN_first_batch_ms":${marginal(fam.big10).headOption.getOrElse(-1L)},""" +
        s""""marginal_flat_small":${flatOk(fam.small10)},""" +
        s""""marginal_flat_big":${flatOk(fam.big10)}}"""
    }.mkString("{", ",", "}")
    val out = s"""{"mode":"${if (adversarial) "adversarial" else "clean"}",""" +
      s""""copies":${ScaleProbe.Copies},"n_batches":$NBatches,""" +
      s""""floor_2batch_sec":${f3(floor2)},"floor_Nbatch_sec":${f3(floor10)},""" +
      s""""spark_version":"${spark.version}",""" +
      s""""note":"batch_ms rows are [batchId, triggerExecution ms, input rows] from streaming progress events; floor = identity drain of near-empty files through the same runner; q124 runs cells-proportional-to-corpus at 10x; q134 marginal includes its per-batch versioned sigstats+card write-back (by design)",""" +
      s""""queries":$qjson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      out.getBytes("UTF-8"))
    println(out)
    spark.stop()
    // Floor sanity (VERDICT r14 #7): every wall feeding a floor-adjusted
    // ratio must dominate its subtrahend (wall > 2 × floor), else the
    // "adjusted" number is mostly floor-measurement error.
    val floorViolations = rows.flatMap { f =>
      Seq((s"${f.name}.small_2", f.small2.wall, floor2),
        (s"${f.name}.big_2", f.big2.wall, floor2),
        (s"${f.name}.small_N", f.small10.wall, floor10),
        (s"${f.name}.big_N", f.big10.wall, floor10))
        .filter { case (_, w, fl) => w < 2.0 * fl }
    }
    floorViolations.foreach { case (n, w, fl) =>
      println(s"[backlog] FLOOR-DOMINATED: $n wall ${f3(w)}s < 2x floor ${f3(fl)}s")
    }
    if (rows.exists(f => f.small2.error.isDefined || f.big2.error.isDefined ||
        f.small10.error.isDefined || f.big10.error.isDefined) ||
      floorViolations.nonEmpty) sys.exit(3)
    if (rows.exists(f => !flatOk(f.small10) || !flatOk(f.big10))) sys.exit(2)
  }
}
