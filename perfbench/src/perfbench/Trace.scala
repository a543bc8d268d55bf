package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One span: a benchmark call into a layer, or an operation (parent -1). */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** What Spark reported for one job, from its own listener events. */
final case class JobRecord(start: Long, end: Long, stages: Int, tasks: Int,
    runS: Double, cpuS: Double, gcS: Double, shuffleWriteB: Long,
    shuffleReadB: Long, spillB: Long, inputB: Long)

/** In-memory recorder for the traced run: spans taken around the
  * benchmark's own calls into each layer, plus Spark's public listener
  * interfaces: a SparkListener for scheduling, execution and streaming
  * progress, a QueryExecutionListener for the planning phases. Nothing
  * is written until the run ends. The untraced run never constructs one,
  * so it registers no listener and records no span. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private var stack = List.empty[Int]
  var persisted = 0L

  /** A span named `name`; a span opened with no other open is an
    * operation, and its id is the operation id of every span inside it. */
  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val op = if (parent == -1) id else stack.last
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      stack = stack.tail
      spans += Span(id, parent, op, name, t0, System.nanoTime())
    }
  }

  // Listener state is written from the listener-bus thread and read by the
  // benchmark thread after `drain`, so every access is synchronized.
  private val jobs = mutable.ArrayBuffer[JobRecord]()
  private val openJobs = mutable.Map[Int, (Long, Set[Int])]()
  private val stageTasks = mutable.Map[Int, Array[Double]]()
  private var executions = 0
  val phases = mutable.Map[String, Double]().withDefaultValue(0.0)
  val streaming = mutable.Map[String, Double]().withDefaultValue(0.0)

  // Job starts carry only the submission wall clock; convert to the nanoTime
  // base the spans use.
  private val clockSkew = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      openJobs(e.jobId) = (e.time * 1000000L + clockSkew, e.stageIds.toSet)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = stageTasks.getOrElseUpdate(e.stageId, new Array[Double](8))
        a(0) += 1
        a(1) += m.executorRunTime / 1e3
        a(2) += m.executorCpuTime / 1e9
        a(3) += m.jvmGCTime / 1e3
        a(4) += m.shuffleWriteMetrics.bytesWritten.toDouble
        a(5) += m.shuffleReadMetrics.totalBytesRead.toDouble
        a(6) += m.diskBytesSpilled.toDouble
        a(7) += m.inputMetrics.bytesRead.toDouble
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      openJobs.remove(e.jobId).foreach { case (start, stageIds) =>
        val per = stageIds.toSeq.flatMap(stageTasks.remove)
        def tot(i: Int) = per.map(_(i)).sum
        jobs += JobRecord(start, e.time * 1000000L + clockSkew, per.size, tot(0).toInt,
          tot(1), tot(2), tot(3), tot(4).toLong, tot(5).toLong, tot(6).toLong, tot(7).toLong)
      }
    }
    // Streaming progress reaches the context's bus from every session,
    // including the cloned ones the streaming runners drain on, which a
    // listener on this session's StreamingQueryManager would not see.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart => Tracer.this.synchronized(executions += 1)
      case p: StreamingQueryListener.QueryProgressEvent => Tracer.this.synchronized {
        streaming("batches") += 1
        p.progress.durationMs.forEach((k, v) => streaming(k) += v / 1e3)
      }
      case _ =>
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (phase, summary) =>
        phases(phase) += summary.durationMs / 1e3
      }
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
  }

  /** Block until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.GraftSpark.drainListeners(spark.sparkContext)

  def executionCount: Int = synchronized(executions)
  def allJobs: Seq[JobRecord] = synchronized(jobs.toSeq)

  /** Length of the union of the intervals of the jobs started in [start,
    * end], clipped to it. Job times have millisecond resolution, hence the
    * slack at the start. */
  def jobCoverage(start: Long, end: Long): Double =
    Tracer.unionSeconds(allJobs.filter(j => j.start >= start - 2000000L && j.start <= end)
      .map(j => (math.max(j.start, start), math.min(j.end, end))))

  def writeJson(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    Main.Json.writeValue(path.toFile, spans.sortBy(_.id).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end)))
  }
}

object Tracer {
  /** Seconds covered by at least one of the (start, end) nanosecond intervals. */
  def unionSeconds(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var reach = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) { total += e - from; reach = e }
    }
    total / 1e9
  }
}
