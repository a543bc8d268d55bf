package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Command-line options; `perfbench/run.py` supplies all of them. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    traced: Boolean,
    cores: Int,
    dataDir: String,
    goldens: Path,
    outDir: Path,
    stamp: Map[String, String])

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      traced = need("trace") == "1",
      cores = need("cores").toInt,
      dataDir = need("data"),
      goldens = Paths.get(need("goldens")),
      outDir = Paths.get(need("out")),
      stamp = kv.collect { case (k, v) if k.startsWith("stamp.") => k.stripPrefix("stamp.") -> v })
  }
}

/** One timed operation: `run` returns None when its output checks out,
  * otherwise the reason it does not. */
final case class Op(name: String, run: () => Option[String])

/** JIT seconds, GC seconds and classes loaded by the JVM. */
final case class JvmWork(jitS: Double, gcS: Double, classes: Long) {
  def -(o: JvmWork): JvmWork = JvmWork(jitS - o.jitS, gcS - o.gcS, classes - o.classes)
}

/** One measured operation. */
final case class OpResult(pass: Int, name: String, seconds: Double, error: Option[String])

/** A workload: pass 0 is the unmeasured warm pass, then identical
  * measured passes. `ops(pass)` is called outside the timed pass, before
  * any tracing starts, so a workload may prepare the pass there. */
trait Workload {
  def ops(pass: Int): Seq[Op]
  def close(): Unit = ()
}

/** Shared state of a run. */
final class Ctx(val spark: SparkSession, val o: Opts) {
  var tracer: Option[Tracer] = None
  def span[A](name: String)(body: => A): A = tracer.fold(body)(_.span(name)(body))
  val goldens = new Goldens(o.goldens, Paths.get(o.dataDir).getFileName.toString)
}

object Main {
  val SuiteShort = "suite_short"
  val SuiteLong = "suite_long"
  val IngestLive = "ingest_live"

  /** Nominal length of one pass on a quiet 4-core host. `--seconds` divided
    * by it fixes the pass count (at least [[MinPasses]]), so a run's work,
    * and every count it reports, never depends on how fast the host happens
    * to be. */
  val PassSeconds: Map[String, Double] =
    Map(IngestLive -> 4.2, SuiteShort -> 4.5, SuiteLong -> 7.0)

  /** Measured passes a run holds at least, so that the min-of-passes rule
    * always has two passes to choose from; three on the suites, whose
    * query times spread the most from pass to pass. */
  val MinPasses: Map[String, Int] = Map(IngestLive -> 2, SuiteShort -> 3, SuiteLong -> 3)

  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Seconds since this JVM started. */
  private def uptime(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** What this JVM has done so far outside the benchmark's own code. */
  private def jvmWork(): JvmWork = JvmWork(
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3,
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount)

  def main(args: Array[String]): Unit = {
    val code =
      try run(Opts.parse(args))
      catch {
        case e: Throwable =>
          System.err.println("[perfbench] run failed: " + e)
          e.printStackTrace()
          2
      }
    System.out.flush()
    Runtime.getRuntime.halt(code) // no lingering non-daemon pool can hold the JVM open
  }

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def buildSession(o: Opts): SparkSession = {
    // Same settings as graft.Bench, at this host's width.
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ui.retainedExecutions", "5")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.ui.retainedDeadExecutors", "1")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.configure(spark)
    spark
  }

  /** (steal, total) jiffies of the whole host so far, from /proc/stat. */
  private def hostCpu(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val cols = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
      (if (cols.length > 7) cols(7) else 0L, cols.sum)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  def release(spark: SparkSession, blocking: Boolean): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking))

  def run(o: Opts): Int = {
    require(Set(SuiteShort, SuiteLong, IngestLive)(o.workload), s"unknown workload ${o.workload}")
    // Set-up: everything from JVM start until the workload is ready. The
    // session is built once, so the cold build (Spark's bootstrap and the
    // engine's first configuration) is what set-up measures.
    val jvmS = uptime()
    val (spark, sessionS) = time(buildSession(o))
    val ctx = new Ctx(spark, o)
    val passes = math.max(MinPasses(o.workload), math.round(o.seconds / PassSeconds(o.workload)).toInt)
    // Which measured passes are traced. A traced run alternates untraced
    // and traced passes in ABBA order (at least two of each), so a warm-up
    // trend across passes cancels out of the tracing overhead.
    val schedule: Seq[Boolean] =
      if (!o.traced) Seq.fill(passes)(false)
      else (0 until math.max(2, passes)).flatMap(r => if (r % 2 == 0) Seq(false, true) else Seq(true, false))
    // The workload's own set-up: its fixture servers, then one unmeasured
    // pass through the same public entry points. The warm pass reads the
    // tables the workload reads, builds the persisted artifacts its queries
    // reuse, and compiles their generated code.
    val (workload, fixturesS) = time[Workload](o.workload match {
      case IngestLive => new Ingest(ctx, Ingest.WarmWindows + Ingest.WindowsPerPass * schedule.size)
      case SuiteShort => new Suite(ctx, Suite.Short)
      case SuiteLong => new Suite(ctx, Suite.Long)
    })
    val jvm0 = jvmWork()
    val warmOps = workload.ops(0).map { op =>
      val (err, t) = time(op.run())
      err.foreach(e => System.err.println(s"[perfbench] warm pass: ${op.name}: $e"))
      release(spark, blocking = true)
      op.name -> t
    }
    val warmS = warmOps.map(_._2).sum
    val setupS = uptime()

    def measure(p: Int, ops: Seq[Op]): (Seq[OpResult], Double) = {
      val results = mutable.ArrayBuffer[OpResult]()
      System.gc() // each pass starts from a collected heap
      val t0 = System.nanoTime()
      ops.foreach { op =>
        val t1 = System.nanoTime()
        val err =
          try ctx.span("op:" + op.name)(op.run())
          catch { case scala.util.control.NonFatal(e) => Some(e.toString.take(300)) }
        results += OpResult(p, op.name, (System.nanoTime() - t1) / 1e9, err)
        ctx.tracer.foreach(t => t.persisted += spark.sparkContext.getPersistentRDDs.size)
        release(spark, blocking = false)
      }
      (results.toSeq, (System.nanoTime() - t0) / 1e9)
    }

    val tracer = if (o.traced) Some(new Tracer(spark)) else None
    val cpu0 = hostCpu()
    // JIT, GC and class loading of the warm pass and of each measured pass:
    // they show how far the JVM had warmed up.
    val passJvm = mutable.ArrayBuffer[JvmWork]()
    var jvmMark = jvm0
    def markJvm(): Unit = {
      val now = jvmWork()
      passJvm += now - jvmMark
      jvmMark = now
    }
    markJvm()
    val measured = schedule.zipWithIndex.map { case (traced, i) =>
      val ops = workload.ops(i + 1)
      jvmMark = jvmWork()
      if (traced) { tracer.get.start(); ctx.tracer = tracer }
      val r = measure(i + 1, ops)
      markJvm()
      if (traced) { tracer.get.stop(); ctx.tracer = None }
      (traced, r)
    }
    val cpu1 = hostCpu()
    val results = measured.filterNot(_._1).flatMap(_._2._1)
    val walls = measured.filterNot(_._1).map(_._2._2)
    val tracedResults = measured.filter(_._1).flatMap(_._2._1)
    val tracedWalls = measured.filter(_._1).map(_._2._2)

    // Heap in use after a forced full collection, with the workload done.
    workload.close()
    release(spark, blocking = true)
    // The pauses let Spark's ContextCleaner drop the shuffles and
    // broadcasts whose owners the previous collection freed.
    val liveHeapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val all = results ++ tracedResults
    val failed = all.count(_.error.nonEmpty)
    all.filter(_.error.nonEmpty).foreach(r =>
      System.err.println(s"[perfbench] FAILED ${r.name} (pass ${r.pass}): ${r.error.get}"))
    // An operation's latency, and a pass's wall time, is the best over the
    // run's passes (the repo's min-of-passes rule): a pass that a stall or
    // an unfinished JIT warm-up slowed does not move it.
    val secs = results.groupMapReduce(_.name)(_.seconds)(math.min).values.toSeq
    val endToEnd = Seq[(String, Double, String)](
      ("setup_s", setupS, "s"),
      ("wall_s", walls.min, "s"),
      ("op_p50_s", median(secs), "s"),
      ("op_p90_s", quantile(secs, 0.9), "s"),
      ("op_geomean_s", math.exp(secs.map(s => math.log(math.max(s, 1e-9))).sum / secs.size), "s"),
      ("ops_ok_ratio", 1.0 - results.count(_.error.nonEmpty).toDouble / results.size, "ratio"),
      ("live_heap_mb", liveHeapMb, "MB"))
    val layers: Seq[(String, Double, String)] = tracer.fold(Seq.empty[(String, Double, String)])(t =>
      Layers.of(ctx, workload, t, tracedWalls, walls.min, Seq(jvmS, sessionS, fixturesS, warmS),
        schedule.zip(passJvm.tail).collect { case (true, w) => w }))

    val metrics = if (o.traced) layers else endToEnd
    val config = ListMap(
      "workload" -> o.workload, "seed" -> o.seed, "traced" -> o.traced,
      "seconds" -> o.seconds, "passes" -> passes, "nproc" -> o.cores,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version, "data" -> o.dataDir,
      // share of the host's CPU time stolen by other guests while measuring
      "host_steal_ratio" -> (cpu1._1 - cpu0._1).toDouble / math.max(1L, cpu1._2 - cpu0._2)
    ) ++ o.stamp.toSeq.sorted
    val record = Json.writeValueAsString(ListMap(
      "config" -> config,
      "end_to_end" -> ListMap(endToEnd.map(m => m._1 -> m._2): _*),
      "per_layer" -> ListMap(layers.map(m => m._1 -> m._2): _*),
      "setup" -> ListMap("jvm_s" -> jvmS, "session_s" -> sessionS, "fixtures_s" -> fixturesS,
        "warm_ops_s" -> ListMap(warmOps: _*)),
      "pass_walls_s" -> walls,
      "traced_pass_walls_s" -> tracedWalls,
      // warm pass first, then every measured pass
      "pass_jit_s" -> passJvm.map(_.jitS),
      "pass_gc_s" -> passJvm.map(_.gcS),
      "pass_classes_loaded" -> passJvm.map(_.classes),
      "traced_passes" -> schedule.zipWithIndex.collect { case (true, i) => i + 1 },
      "ops" -> all.map(r => ListMap("pass" -> r.pass, "name" -> r.name, "s" -> r.seconds,
        "error" -> r.error)),
      "op_outputs" -> ListMap(ctx.goldens.seen.toSeq.map { case (k, (rows, hash)) =>
        k -> ListMap("rows" -> rows, "hash" -> hash) }: _*)))
    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.traced) 1 else 0}"
    Files.createDirectories(o.outDir)
    Files.writeString(o.outDir.resolve(s"$tag.json"), record + "\n")
    tracer.foreach(_.writeJson(o.outDir.resolve(s"$tag.spans.json")))
    spark.stop()

    println(record)
    println(Json.writeValueAsString(ListMap(
      "correct" -> (failed == 0),
      "attempted" -> all.size,
      "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u) }: _*))))
    0
  }
}
