package graft

import java.io.{File, PrintWriter}
import org.apache.spark.sql.functions.col

/** Plan evidence: `.explain("formatted")` for named queries to individual
  * files — `<outDir>/<query>_<tag>.txt` — so before/after optimization
  * plan diffs are committable verbatim.
  *
  * Pseudo-entries expose sub-frames whose registered queries hide the
  * interesting shape behind a checkpoint/persist boundary:
  *  - `qc_features`: the shared quality-classifier feature frame
  *    (q115/q116/q117/q118/q125 all build on it; q115's persist and the
  *    training loop's local trace otherwise truncate the plan).
  *  - `ensemble_joined`: the q128/q131/q132 shared three-signal join
  *    (the registered queries checkpoint it).
  *  - `curve_base_spread`: q136/q137's base with its fan-out Exchange.
  *  - `sigstats_commit_write`: the write-side frame of
  *    SigstatsStore.commit with its bucket-clustering Exchange.
  *  - `q133_pruned_probe`: q133's bucket-pruned sigstats probe scan.
  *  - `bpe_apply_round`: one bare BPE merge round (the registered BPE
  *    queries checkpoint each round).
  *
  * Usage: Test/runMain graft.PlanDump <tag> <q1,q2,...> <sfDir> [outDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = args(2)
    val outDir = if (args.length > 3) args(3) else "plans"
    val spark = GraftSession.local()
    new File(outDir).mkdirs()
    names.foreach { name =>
      val df = name match {
        case "qc_features" => operators.CurationQueries.qcFeatures(spark, sfDir)
        case "ensemble_joined" => operators.ReleaseQueries.ensembleJoined(spark, sfDir)
        // The registered queries' explains truncate at the checkpoint, so
        // the fan-out Exchange (REPARTITION_BY_NUM on vec_id) is only
        // inspectable here.
        case "curve_base_spread" => operators.SimilarityQueries.embSpread(spark, sfDir)
        // The Exchange(bucket) between the updated rows and the
        // dynamic-partition writer.
        case "sigstats_commit_write" =>
          val idx = pipeline.CardIndex.prepared(spark, sfDir)
          spark.read.parquet(s"$idx/sigstats").drop("bucket")
            .withColumn("bucket", pipeline.SigstatsStore.bucketOf(col("sig")))
            .repartition(pipeline.SigstatsStore.NumBuckets, col("bucket"))
        case "q133_pruned_probe" =>
          // cardUpdate checkpoints every downstream intermediate, so the
          // FileScan whose bucket partition filter is the claim is only
          // inspectable here; `touched` is computed from the real batch
          // exactly as q133 computes it.
          val idx = pipeline.CardIndex.prepared(spark, sfDir)
          import graft.Materialize.CheckpointOps
          val bf = operators.ReleaseQueries
            .cardFeatures(operators.ReleaseQueries.cardBatch(spark, sfDir))
            .checkpointed()
          val touched = pipeline.SigstatsStore.touchedBuckets(bf)
          spark.read.parquet(s"$idx/sigstats")
            .where(col("bucket").isin(touched: _*))
            .drop("bucket")
        case "bpe_apply_round" =>
          operators.TextQueries.bpeApplyMerge(
            operators.TextQueries.bpeWords0(
              Tables.load(spark, sfDir, "documents").select("doc_id", "text")),
            "e", "_")
        case _ => SparkEntry.queries(name)(spark, sfDir)
      }
      val pw = new PrintWriter(new File(outDir, s"${name}_$tag.txt"), "UTF-8")
      try {
        pw.println(s"# $name — explain(formatted) at $sfDir [$tag]")
        pw.println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } finally pw.close()
      println(s"[plandump] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
