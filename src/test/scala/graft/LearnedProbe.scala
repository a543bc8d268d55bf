package graft

import org.apache.spark.sql.DataFrame

/** 10× scale probe for the PERSISTED-MODEL scoring family (round 11):
  * q116 (batch score-on-append), q117 (the learned release manifest),
  * q118 (streaming score-on-append). q115's training loop already has
  * clean + adversarial rows in SCALE_r11; this probe pins the
  * INFERENCE side — with both persisted artifacts (classifier weights,
  * BPE merges) built ahead of time, exactly the production
  * precondition score-on-append claims, the measured cost must scale
  * ~linearly with the data that actually flows: the append batch for
  * q116/q118 (batch ∝ corpus here, so ratios read against copies /
  * chars like every corpus query), the survivor corpus + its
  * vocabulary for q117.
  *
  * Reuses ScaleProbe's corpora (same /tmp caches, same clean /
  * adversarial transforms — see ScaleProbe's scaladoc for what each
  * mode stresses) and ProbeHarness's min-of-two discipline. Artifacts
  * are warmed OUTSIDE the measured passes at both scales: a first call
  * that trains would bill one-time index construction to a query whose
  * claim is that it never retrains.
  *
  * Usage: Test/runMain graft.LearnedProbe [sf01Dir] [outJson] [clean|adversarial]
  */
object LearnedProbe {

  val Probed: Seq[String] =
    Seq("q116_score_persisted", "q117_learned_manifest", "q118_stream_score",
      "q119_ivfpq_append",
      // r12: the streaming column's remaining members (stateless drains
      // of q112/q119 — cost must scale with the drained batch) and the
      // takedown-completion pass (which RETRAINS by design: its cost is
      // the q108+q115 trainer shapes over the survivor corpus plus an
      // anti-join purge, so it too must scale ~linearly).
      "q123_stream_tokenize", "q124_stream_ivfpq_append",
      "q125_takedown_artifacts",
      // r12: the data-card-on-append — sigstats+card persisted, the
      // append pays batch feature compute + one batch-keyed index probe
      // (batch ∝ corpus here, like q116).
      "q133_card_on_append",
      // r13: the CardIndex takedown (one removed-docs feature pass +
      // two broadcast-probed corpus scans — cost ∝ corpus, like q125).
      "q135_takedown_card",
      // r14: the refine-depth curve (one map-only encode + one
      // full-corpus ADC; the (nprobe, rr_short) grid is slices, so
      // cost must scale ~linearly in the corpus like q126/q136).
      "q137_ivfpq_refine_curve")

  /** The ANN append family, cell-count parameterized. VERDICT r12 #6:
    * at 10× these are PRIMARILY measured at cells ∝ corpus — the
    * documented deployment knob that bounds per-cell occupancy, so the
    * triage's in-task ADC pair work scales with the batch instead of
    * batch × corpus — with the FIXED registered cell count demoted to
    * the `fixed_cells_control` field (it shows what the knob saves). */
  val AnnAppend: Map[String, (org.apache.spark.sql.SparkSession, String, Int) => DataFrame] =
    Map(
      "q100_ivf_append" -> ((s, d, c) =>
        operators.SimilarityQueries.ivfAppendAssign(s, d, c)),
      "q119_ivfpq_append" -> ((s, d, c) =>
        operators.SimilarityQueries.ivfpqAppend(s, d, c)),
      "q124_stream_ivfpq_append" -> ((s, d, c) =>
        operators.SimilarityQueries.ivfpqAppendStream(s, d, c)))

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outFile = args.lift(1).getOrElse("SCALE_r11_learned.json")
    val adversarial = args.lift(2).contains("adversarial")
    val spark = GraftSession.local()
    import org.apache.spark.sql.functions.{col, sum}
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

    // Both persisted artifacts, both scales, BEFORE any measurement —
    // the production precondition (the model/rules already exist; a
    // batch never retrains). publishOnce memoizes on the corpus
    // fingerprint, so re-runs are free.
    for (dir <- Seq(smallDir, bigDir)) {
      operators.CurationQueries.qcModelPrepared(spark, dir)
      operators.TextQueries.bpeMergesPrepared(spark, dir)
      // q119's persisted IVF-PQ codes, in BOTH configurations measured
      // below: the registered cell count, and cells ∝ corpus at 10×
      // (the q99_scaled_cells convention) — index construction is the
      // bulk build's cost, never the append's.
      operators.SimilarityQueries.ivfPqIndexPrepared(spark, dir)
      // q125 purges the q100 assignment index row-wise — build it ahead
      // too (one-time bulk cost, never the takedown's).
      pipeline.VectorIndex.prepared(spark, dir,
        operators.SimilarityQueries.IvfCells)
      // q133's persisted card index (sigstats + base card) — the bulk
      // build's cost, never the append's.
      pipeline.CardIndex.prepared(spark, dir)
      println(s"[probe] artifacts warm for $dir")
    }
    // The cells ∝ corpus PRIMARY rows below run in clean mode only —
    // don't pay the 160-cell 10x encodes on adversarial runs that
    // never read them (the adversarial corpus stresses text joins,
    // not the vector grid).
    val scaledCellCount =
      operators.SimilarityQueries.IvfCells * ScaleProbe.Copies
    if (!adversarial) {
      operators.SimilarityQueries.ivfPqIndexPrepared(spark, bigDir,
        scaledCellCount)
      pipeline.VectorIndex.prepared(spark, bigDir, scaledCellCount)
    }

    // q100 joins the probe in clean mode (the third ANN append member;
    // adversarial keeps the r12 list — its corpus stresses text joins).
    val probedNow =
      if (adversarial) Probed else "q100_ivf_append" +: Probed

    // Codegen warm (Bench's rationale): each probed query once at the
    // smallest SF so the measured numbers are data cost, not JIT.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) probedNow.foreach { name =>
      GraftSession.noopRun(spark)(SparkEntry.queries(name)(spark, warmDir))
    }

    def measure(frame: => DataFrame): ProbeHarness.Measured[Double] =
      ProbeHarness.minOfTwo(() => GraftSession.noopRun(spark)(frame))

    // For the ANN append family in clean mode, the 10× PRIMARY
    // measurement runs at cells ∝ corpus (VERDICT r12 #6 — the
    // deployment configuration: occupancy-bounded cells keep the
    // in-task ADC pair work ∝ batch) and the FIXED registered cell
    // count becomes the `fixed_cells_control` field, showing what the
    // knob saves. Base-scale rows keep the registered cell count —
    // 16 cells IS the ∝-corpus setting at sf0.1.
    val rows = probedNow.map { name =>
      val mS = measure(SparkEntry.queries(name)(spark, smallDir))
      System.gc()
      val scaledAnn = !adversarial && AnnAppend.contains(name)
      val mL =
        if (scaledAnn) measure(AnnAppend(name)(spark, bigDir, scaledCellCount))
        else measure(SparkEntry.queries(name)(spark, bigDir))
      System.gc()
      val ctrl = if (scaledAnn) Some {
        val c = measure(SparkEntry.queries(name)(spark, bigDir))
        System.gc()
        c
      } else None
      val err = (mS.error.map("base: " + _) ++ mL.error.map("10x: " + _))
        .reduceOption(_ + "; " + _)
      println(s"[probe] $name base ${f3(mS.sec)}s/${f3(mS.payload)}MB " +
        s"10x ${f3(mL.sec)}s/${f3(mL.payload)}MB" +
        (if (scaledAnn) s" (cells=$scaledCellCount; fixed-cells control " +
          ctrl.map(c => s"${f3(c.sec)}s/${f3(c.payload)}MB").get + ")" else "") +
        err.fold("")(e => s" ERR $e"))
      (name, mS, mL, ctrl)
    }

    val charsRatio = {
      def chars(dir: String): Long = Tables.load(spark, dir, "documents")
        .agg(sum(col("n_chars"))).head().getLong(0)
      chars(bigDir).toDouble / chars(smallDir)
    }
    val qjson = rows.map { case (name, mS, mL, ctrl) =>
      val ratioT = if (mS.sec > 0) mL.sec / mS.sec else -1.0
      val ratioMb = if (mS.payload > 0.005) mL.payload / mS.payload else -1.0
      val err = (mS.error.map("base: " + _) ++ mL.error.map("10x: " + _))
        .reduceOption(_ + "; " + _)
      val rerr = (mS.remeasureError.map("base: " + _) ++
        mL.remeasureError.map("10x: " + _)).reduceOption(_ + "; " + _)
      s""""$name":{"base_sec":${f3(mS.sec)},"base_shuffle_mb":${f3(mS.payload)},""" +
        s""""big_sec":${f3(mL.sec)},"big_shuffle_mb":${f3(mL.payload)},""" +
        s""""wall_ratio":${f3(ratioT)},"shuffle_ratio":${f3(ratioMb)}""" +
        ctrl.fold("") { c =>
          s""","cells_10x":$scaledCellCount""" +
            s""","fixed_cells_control":{"cells":${operators.SimilarityQueries.IvfCells},""" +
            s""""sec":${f3(c.sec)},"shuffle_mb":${f3(c.payload)},""" +
            s""""wall_ratio":${f3(if (mS.sec > 0) c.sec / mS.sec else -1.0)}""" +
            c.error.fold("")(e => s""","error":"${jstr(e)}"""") + "}"
        } +
        err.fold("")(e => s""","error":"${jstr(e)}"""") +
        rerr.fold("")(e => s""","remeasure_error":"${jstr(e)}"""") + "}"
    }.mkString("{", ",", "}")
    val mode = if (adversarial) "adversarial" else "clean"
    val json = s"""{"probe":"persisted-model scoring 10x scale ($mode)",""" +
      s""""copies":${ScaleProbe.Copies},"base":"$smallDir",""" +
      // Mode-dependent: the cells-x-copies indexes are only built (and
      // the scaled-primary rows only measured) in clean mode — saying
      // otherwise overstated what an adversarial run prepared (r11).
      s""""artifacts":"classifier weights + BPE merges + IVF-PQ codes + assignment index + card index persisted at both scales before measurement${
        if (adversarial) "" else " (vector indexes additionally at cells-x-copies for the scaled-primary ANN append rows)"}",""" +
      s""""spark_version":"${spark.version}",""" +
      s""""scala_version":"${scala.util.Properties.versionNumberString}",""" +
      s""""java_version":"${System.getProperty("java.version")}",""" +
      s""""chars_ratio":${f3(charsRatio)},""" +
      s""""law":"shuffle_ratio ~<= chars_ratio (batch/corpus both scale with the corpus here); q118/q124 add fixed per-micro-batch streaming overhead; ANN append rows (q100/q119/q124) are PRIMARILY measured at cells ∝ corpus — the deployment knob bounding per-cell occupancy so triage pair work scales with the batch — with the fixed-cell configuration in fixed_cells_control (clean mode only)",""" +
      s""""queries":$qjson}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    println(json)
    spark.stop()
  }
}
