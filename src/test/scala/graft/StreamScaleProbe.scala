package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× scale probe for the STREAMING tier (T6) — the one family
  * SCALE_r08's batch probe does not cover: do the four streaming
  * restatements (q49 upsert agg, q53 stream-stream interval join, q54
  * dedup-at-ingest, q94 left-outer attribution) scale linearly in the
  * event stream, and does their output grow exactly as construction
  * demands?
  *
  * Corpus: `Copies` replicas of sf0.1 `events` with event_id and
  * user_id stride-shifted per copy and ts/type/value UNTOUCHED. Same
  * time range at 10× density is precisely the stress a streaming
  * backlog replay sees: every watermark window holds 10× the state.
  * Shifted user_ids keep every join within its copy, so output
  * cardinality must scale EXACTLY linearly — q53/q94 pair counts and
  * q54's distinct count come out 10×, q49 keeps its (day, type) key
  * set with 10× the per-key counts. The probe asserts those laws; a
  * superlinear pair count or a dropped row is a correctness bug the
  * wall-clock ratio would hide.
  *
  * Recorded per query: wall seconds (min of two passes; fixtures are
  * pre-warmed so synthesis never pollutes a measurement), output rows
  * at both scales, and the law check. State-partition sizing is part
  * of the story: the registered queries ship the local-scale settings
  * (1-4 stores); the probe re-runs the heaviest query (q53's join)
  * through the same runner with statePartitions scaled ∝ corpus — the
  * knob a cluster backfill turns.
  *
  * Usage: Test/runMain graft.StreamScaleProbe [sf01Dir] [outJson]
  */
object StreamScaleProbe {

  val Copies = 10
  val EventStride = 10000000L
  val UserStride = 1000000L

  /** Synthesize the 10× events corpus into `outDir` (memoized). */
  def synthesize(spark: SparkSession, baseDir: String, outDir: String): Unit = {
    val marker = new java.io.File(s"$outDir/_GRAFT_DONE")
    if (marker.exists()) return
    val ev = Tables.load(spark, baseDir, "events")
    (0 until Copies).map { i =>
      ev.select((col("event_id") + i * EventStride).as("event_id"),
        (col("user_id") + i * UserStride).as("user_id"),
        col("event_type"), col("value"), col("ts"))
    }.reduce(_ unionAll _)
      .repartition(32) // many-file layout, as in prod
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    marker.createNewFile()
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outFile = args.lift(1).getOrElse("SCALE_r08_streaming.json")
    val sf1Dir = "/tmp/graft_scaleprobe_sf1ev"
    val spark = GraftSession.local()

    synthesize(spark, baseDir, sf1Dir)

    val Probed = Seq("q49_streaming_daily", "q53_stream_interval_join",
      "q54_stream_dedup", "q94_stream_outer_join")

    // Pre-warm fixtures at BOTH scales (shared normalized source + the
    // q94 flush fixture are memoized per corpus fingerprint): fixture
    // synthesis is harness, not stream cost, and must not pollute the
    // first measured pass. Then one codegen warm pass at sf0.001.
    Seq(baseDir, sf1Dir).foreach { d =>
      streaming.NormalizedEvents.sourceDir(spark, d)
      streaming.NormalizedEvents.outerJoinFixture(spark, d)
    }
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) {
      streaming.NormalizedEvents.sourceDir(spark, warmDir)
      streaming.NormalizedEvents.outerJoinFixture(spark, warmDir)
      Probed.foreach { name =>
        try SparkEntry.queries(name)(spark, warmDir).count()
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }

    /** Run the full streaming pipeline, returning (wall sec, out rows). */
    def measureOnce(frame: => DataFrame): (Double, Long, Option[String]) = {
      val t0 = System.nanoTime()
      try { val n = frame.count(); ((System.nanoTime() - t0) / 1e9, n, None) }
      catch { case scala.util.control.NonFatal(e) =>
        ((System.nanoTime() - t0) / 1e9, -1L, Some(GraftSession.errMsg(e)))
      }
    }
    // Min-of-two with pass-2 failures/payloads recorded separately —
    // ProbeHarness.minOfTwo. A pass-2 ROW COUNT that differs from
    // pass 1 is a nondeterminism signal in its own right (each pass is
    // a complete fresh drain of the same fixture) and is surfaced as a
    // law violation, not discarded.
    def measure(frame: => DataFrame): ProbeHarness.Measured[Long] =
      ProbeHarness.minOfTwo(() => measureOnce(frame))
    import Json.{f3, jstr}

    final case class Row(name: String, small: ProbeHarness.Measured[Long],
        big: ProbeHarness.Measured[Long], measured: Boolean,
        lawOk: Boolean, stable: Boolean)
    val rows = Probed.map { name =>
      val mS = measure(SparkEntry.queries(name)(spark, baseDir))
      val mL = measure(SparkEntry.queries(name)(spark, sf1Dir))
      val (nS, nL) = (mS.payload, mL.payload)
      // Cardinality law by construction: q49 keeps its (day, type) key
      // set; the joins/dedup must come out exactly Copies ×. Laws are
      // only EVALUATED on clean measurements — the -1 error sentinel
      // must neither satisfy a law (-1 == -1 for q49) nor be reported
      // as a law VIOLATION (an environment failure is its own failure
      // class, recorded under `error` and failing the run separately).
      val measured = mS.error.isEmpty && mL.error.isEmpty
      val lawOk = measured && (name match {
        case "q49_streaming_daily" => nL == nS
        case _ => nL == Copies * nS
      })
      val stable = measured &&
        mS.payload2.forall(_ == nS) && mL.payload2.forall(_ == nL)
      // Record BOTH scales' failures, labeled — eS.orElse(eL) would
      // silently drop an sf1 failure whenever sf0.1 also failed.
      val err = (mS.error.map("sf0.1: " + _) ++ mL.error.map("sf1: " + _))
        .reduceOption(_ + "; " + _)
      println(s"[sprobe] $name sf0.1 ${f3(mS.sec)}s/${nS}r sf1 ${f3(mL.sec)}s/${nL}r " +
        s"law=${if (!measured) "unmeasured" else if (lawOk) "ok" else "VIOLATED"}" +
        (if (!measured || stable) "" else " ROWS-UNSTABLE-ACROSS-PASSES") +
        err.fold("")(e => s" ERR $e"))
      Row(name, mS, mL, measured, lawOk, stable)
    }

    // The state-partition knob at 10×: q53's join through the same
    // runner with stores scaled ∝ corpus (4 → 4 × Copies).
    val knob = {
      import streaming.{NormalizedEvents, StreamIntervalJoin}
      val src = NormalizedEvents.sourceDir(spark, sf1Dir)
      def run(parts: Int): ProbeHarness.Measured[Long] = measure {
        val root = graft.TempDirs.fresh("sprobe53")
        StreamIntervalJoin.runAvailableNow(spark, src, NormalizedEvents.schema,
          s"$root/t", s"$root/c", statePartitions = Some(parts),
          noDataBatches = false)
        spark.read.parquet(s"$root/t")
      }
      val m = run(4 * Copies)
      println(s"[sprobe] q53_scaled_stores sf1 parts=${4 * Copies} " +
        s"${f3(m.sec)}s/${m.payload}r" + m.error.fold("")(e => s" ERR $e"))
      m
    }

    val qjson = rows.map { case Row(name, mS, mL, measured, lawOk, stable) =>
      val err = (mS.error.map("sf0.1: " + _) ++ mL.error.map("sf1: " + _))
        .reduceOption(_ + "; " + _)
      val rerr = (mS.remeasureError.map("sf0.1: " + _) ++
        mL.remeasureError.map("sf1: " + _)).reduceOption(_ + "; " + _)
      // null, not false, when unmeasured: a consumer must not read an
      // environment failure as a violated construction law.
      def flag(b: Boolean) = if (measured) b.toString else "null"
      s""""$name":{"sf01_sec":${f3(mS.sec)},"sf01_rows":${mS.payload},""" +
        s""""sf1_sec":${f3(mL.sec)},"sf1_rows":${mL.payload},""" +
        s""""wall_ratio":${f3(if (mS.sec > 0) mL.sec / mS.sec else -1.0)},""" +
        s""""cardinality_law_ok":${flag(lawOk)},"rows_stable_across_passes":${flag(stable)}""" +
        err.fold("")(e => s""","error":"${jstr(e)}"""") +
        rerr.fold("")(e => s""","remeasure_error":"${jstr(e)}"""") + "}"
    }.mkString("{", ",", "}")
    val knobJson = {
      s""""q53_scaled_stores_sf1":{"state_partitions":${4 * Copies},""" +
        s""""sec":${f3(knob.sec)},"rows":${knob.payload}""" +
        knob.error.fold("")(e => s""","error":"${jstr(e)}"""") + "}"
    }
    val out = s"""{"copies":$Copies,"spark_version":"${spark.version}",""" +
      s""""scala_version":"${scala.util.Properties.versionNumberString}",""" +
      s""""java_version":"${System.getProperty("java.version")}",""" +
      s""""queries":$qjson,$knobJson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      out.getBytes("UTF-8"))
    println(out)
    spark.stop()
    // The probe ASSERTS its construction laws (ADVICE r8 #1): a
    // violated cardinality law or a row count that differs between two
    // complete drains of the same fixture must fail the run, not just
    // print VIOLATED — the JSON above is already on disk for diagnosis.
    // Measurement errors fail too, under their own exit code: an
    // environment failure is not a law violation. A PASS-2 failure
    // (remeasureError) is a measurement error like any other (ADVICE
    // r9 #2): a drain that completes once and fails on the identical
    // re-run is exactly the reproducibility signal the probe exists to
    // surface, so it exits 3 rather than landing only in the JSON.
    if (rows.exists(r => r.measured && (!r.lawOk || !r.stable))) sys.exit(2)
    if (rows.exists(r => !r.measured ||
        r.small.remeasureError.isDefined || r.big.remeasureError.isDefined))
      sys.exit(3)
  }
}
