package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The one local session shape every engine main and the test suite run
  * under, and the one timed noop materialization the measuring mains
  * share. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, or every core of the host when it is unset. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  /** A `local[cores]` session with shuffle partitions = `cores`, UI off,
    * UTC, capped status-store retention, and the graft extensions
    * installed once through [[Tables.configure]]. */
  def local(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // Suite-order-noise guards: even with the UI off, the app status
      // stores retain per-execution plan metrics and per-stage task data
      // for the WHOLE app (defaults: 1000 SQL executions, 1000 stages,
      // 100k tasks). Across a 97-query suite that retained state grows
      // monotonically and its heap/GC pressure taxes LATER queries —
      // an 8× artifact-vs-isolated gap on late queries with near-zero
      // shuffle. Cap retention at "recent history" sizes; nothing here
      // reads it.
      .config("spark.sql.ui.retainedExecutions", "5")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.ui.retainedDeadExecutors", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.configure(spark)
    spark
  }

  /** One completed stage of the last [[noopRun]]. */
  final case class Stage(id: Int, name: String, wallMs: Long, runMs: Long,
      shuffleWriteBytes: Long, tasks: Int)

  private final class Meter extends SparkListener {
    val shuffleBytes = new AtomicLong(0L)
    val stages = new ConcurrentLinkedQueue[Stage]()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val written = si.taskMetrics.shuffleWriteMetrics.bytesWritten
      shuffleBytes.addAndGet(written)
      stages.add(Stage(si.stageId, si.name.split("\n")(0).take(90),
        si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
        si.taskMetrics.executorRunTime, written, si.numTasks))
    }
  }

  // One listener per SparkContext, registered by the first noopRun.
  private val meters = new java.util.WeakHashMap[SparkContext, Meter]()
  private def meter(sc: SparkContext): Meter = meters.synchronized {
    meters.computeIfAbsent(sc, { c: SparkContext =>
      val m = new Meter; c.addSparkListener(m); m
    })
  }

  def errMsg(e: Throwable): String =
    e.getClass.getSimpleName + ": " +
      String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(160)

  /** Builds `df` and materializes it through the noop sink (every output
    * column produced and row-serialized, so a projection-heavy query
    * cannot be pruned to a count), then releases the persisted blocks
    * it left behind: retained checkpoint storage otherwise inflates
    * LATER runs 2-3x. Returns (seconds, shuffle MB written, error); a
    * NonFatal failure is returned, not thrown. Listener events are
    * async, so the bus is drained on both sides of the run: the
    * previous run's shuffle bytes and stages cannot bleed in. */
  def noopRun(spark: SparkSession)(df: => DataFrame): (Double, Double, Option[String]) = {
    val sc = spark.sparkContext
    val m = meter(sc)
    org.apache.spark.GraftSpark.drainListeners(sc)
    m.stages.clear()
    val shuffle0 = m.shuffleBytes.get()
    val t0 = System.nanoTime()
    val err =
      try { df.write.mode("overwrite").format("noop").save(); None }
      catch { case NonFatal(e) => Some(errMsg(e)) }
    val sec = (System.nanoTime() - t0) / 1e9
    org.apache.spark.GraftSpark.drainListeners(sc)
    val shuffleMb = (m.shuffleBytes.get() - shuffle0) / 1048576.0
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    (sec, shuffleMb, err)
  }

  /** The completed stages of the last [[noopRun]] on this session. */
  def stages(spark: SparkSession): Seq[Stage] =
    meter(spark.sparkContext).stages.asScala.toSeq
}
