package graft

import org.apache.spark.sql.SparkSession

/** Manual stage-level profiler: `Test/runMain graft.StageProf qNN [sfDir]`
  * warms the query on the `sf0.001` directory beside `sfDir`, runs it
  * once at the target SF, and prints the heaviest stages by executor run
  * time with their shuffle writes — the per-stage view Bench's per-query
  * totals can't give. The width is
  * GraftSession's (SPARK_GRAFT_CPUS, else the host's cores), so the same
  * stage attribution can be taken at several widths. */
object StageProf {
  def main(args: Array[String]): Unit = {
    val qname = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.local()
    // "entry" profiles the flagship pipeline (not a registered query —
    // Bench times it separately as entry_pipeline_sec).
    val fn: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      if (qname == "entry") (s, d) => pipeline.DailySummary.run(s, d)
      else SparkEntry.queries(qname)
    val warmDir = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001").getPath
    GraftSession.noopRun(spark)(fn(spark, warmDir))
    // Optional extra measured passes (arg 3): pass N>1 to see the
    // steady-state cost once codegen/broadcast warmup has been paid.
    val passes = if (args.length > 2) args(2).toInt else 1
    (1 to passes).foreach { p =>
      val (total, _, err) = GraftSession.noopRun(spark)(fn(spark, sfDir))
      err.foreach(e => println(s"PASS $p FAILED: $e"))
      val stages = GraftSession.stages(spark)
      val wallSum = stages.map(_.wallMs).sum / 1000.0
      val runSum = stages.map(_.runMs).sum / 1000.0
      println(f"PASS $p TOTAL $total%.2f s over ${stages.size} stages; " +
        f"stage-wall sum $wallSum%.2f s (driver gap ${total - wallSum}%.2f s); " +
        f"taskRun sum $runSum%.2f s")
    }
    GraftSession.stages(spark).sortBy(-_.runMs).take(20).foreach { s =>
      println(f"stage ${s.id}%4d wall=${s.wallMs}%6dms taskRun=${s.runMs}%7dms " +
        f"n=${s.tasks}%4d shW=${s.shuffleWriteBytes / 1024}%8dKB  ${s.name}")
    }
    spark.stop()
  }
}
