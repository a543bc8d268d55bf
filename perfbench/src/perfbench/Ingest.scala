package perfbench

import graft.functions.Exact
import graft.pipeline.VectorStore
import graft.sinks.JdbcSink
import graft.sources.{EmbeddingConf, EmbeddingHttp, MeteostatConf, MeteostatHttpClient, RetryConf}
import java.time.LocalDate
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The reference's E1 backfill (main.py:341-350) over localhost wires: 2-day
  * windows sliding by one day. Each window is one operation: the paged,
  * token-guarded SCED feed (page size 100, queries.py:42) through the
  * `ercot-pages` source, an 8-city Meteostat fan-out per day, the daily
  * aggregate and sentence, one batched `/v1/embeddings` POST per text
  * batch at dimension 1536, and `VectorStore.store` into in-memory Derby.
  * The last window of each pass also reads the whole store back through
  * `VectorStore.load`. A measured pass is [[WindowsPerPass]] windows; the
  * warm pass is [[WarmWindows]] windows. Every pass writes a store of its
  * own, and a measured pass's store is first seeded, untimed, with the
  * window before its first, so that every measured pass does the same
  * work: each window upserts one update and one insert, and the read-back
  * reads the same number of rows. */
final class Ingest(ctx: Ctx, totalWindows: Int) extends Workload {
  import Ingest._

  private val spark = ctx.spark
  private val fx = new Fixtures(ctx.o.seed, ctx.o.cores, FirstDay, totalWindows + 1)
  private val retry = RetryConf(maxAttempts = 3, baseDelayMs = 0, failEveryN = 0, failAttempts = 0)
  private val embedConf = EmbeddingConf(endpoint = s"${fx.base}/v1/embeddings",
    apiKey = Fixtures.ApiKey, dimensions = Dim, retry = retry)
  private val weatherConf = MeteostatConf(s"${fx.base}/meteostat")

  /** What each store must hold: vector_id -> sentence. */
  private val stores = mutable.Map[String, mutable.Map[String, String]]()
  private var nextWindow = 0

  // Upsert and read-back counts of the traced passes.
  var rowsUpdated = 0L
  var rowsInserted = 0L
  var readbackRows = 0L

  override def ops(pass: Int): Seq[Op] = {
    val store = s"pass$pass"
    val n = if (pass == 0) WarmWindows else WindowsPerPass
    val first = nextWindow
    nextWindow += n
    val seeded =
      if (pass == 0) None
      else window(store, first - 1, readBack = false).map("seeding the pass's store: " + _)
    (0 until n).map { k =>
      Op(s"window${k + 1}", () => seeded.orElse(window(store, first + k, readBack = k == n - 1)))
    }
  }

  def sources: Fixtures = fx

  /** The sentence the pipeline must render for `day`, from the fixtures'
    * own values, with the same arithmetic the engine uses: an exact
    * decimal sum cast to double, divided by the count. */
  private def expectedSentence(day: LocalDate, avgTemp: Double): String = {
    val cells = for (k <- 0 until 96; h <- 0 until 5) yield (k, h)
    val sum = cells.map { case (k, h) => BigDecimal(fx.price(day, k, h)) }.sum
    val peak = cells.map { case (k, h) => fx.mw(day, k, h) }.max
    sentence(day.toString, sum.toDouble / cells.size, peak, avgTemp)
  }

  private def window(store: String, w: Int, readBack: Boolean): Option[String] = {
    val traced = ctx.tracer.nonEmpty
    fx.counting = traced
    val url = JdbcSink.memoryUrl(s"perfbench_$store")
    val want = stores.getOrElseUpdate(store, mutable.Map())
    val days = Seq(FirstDay.plusDays(w.toLong), FirstDay.plusDays(w + 1L))
    val temps = ctx.span("sources.weather")(days.map(d =>
      d.toString -> MeteostatHttpClient.avgTemperature(spark, weatherConf, d.toString,
        Fixtures.Stations, retry)))
    val exactTemp = days.map(d => Fixtures.Stations.indices.map(fx.tavg(d, _)).sum / Fixtures.Stations.size)
    val badTemp = temps.zip(exactTemp).collectFirst {
      case ((d, t), e) if !t.exists(v => math.abs(v - e) <= 0.005 + 1e-9) => s"$d: temperature $t, expected ~$e"
    }
    if (badTemp.nonEmpty) return badTemp

    val feed = spark.read.format("ercot-pages")
      .option("endpoint", s"${fx.base}/reports/sced/${days.head}")
      .option("tokenUrl", s"${fx.base}/token")
      .option("username", "ops@example.com").option("password", "pw")
      .option("clientId", "perfbench").option("subscriptionKey", "sub")
      .option("pageSize", PageSize).option("maxRetries", 3)
      .option("retryDelayMs", 0).option("retryJitterMs", 0)
      .load()
    val daily = feed.groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
      .agg(Exact.davg(col("price")).as("avg_price"), max(col("mw")).as("peak_mw"))
    val weather = spark.createDataFrame(temps.map { case (d, t) => (d, t.get) })
      .toDF("day", "avg_temp_c")
    val sentences = daily.join(broadcast(weather), "day").select(
      concat(lit("daily_summary_"), col("day")).as("vector_id"),
      format_string(SentenceFormat, col("day"), col("avg_price"), col("peak_mw"), col("avg_temp_c"))
        .as("semantic_sentence"),
      to_date(col("day")).as("updated_at"))
    val embedded = ctx.span("pipeline.embed") {
      EmbeddingHttp.withEmbedding(sentences, "semantic_sentence", embedConf)
        .select("vector_id", "embedding", "semantic_sentence", "updated_at", "embedding_ok")
        .localCheckpoint()
    }
    val rows = embedded.collect()
    val expect = days.zip(temps).map { case (d, (_, t)) =>
      s"daily_summary_$d" -> expectedSentence(d, t.get) }.toMap
    val got = rows.map(r => r.getString(0) -> r.getString(2)).toMap
    if (got != expect) return Some(s"sentences $got, expected $expect")
    val badVec = rows.collectFirst {
      case r if !r.getBoolean(4) || r.getSeq[Double](1) != fx.vector(r.getString(2), Dim).toSeq =>
        s"${r.getString(0)}: embedding is not the service's vector"
    }
    if (badVec.nonEmpty) return badVec

    val stats = ctx.span("sinks.upsert")(VectorStore.store(embedded, url))
    val updates = expect.keys.count(want.contains).toLong
    if (stats != JdbcSink.UpsertStats(updates, expect.size - updates))
      return Some(s"upsert $stats, expected $updates updated of ${expect.size}")
    want ++= expect
    if (traced) {
      rowsUpdated += stats.updated
      rowsInserted += stats.inserted
    }

    if (!readBack) None
    else {
      val back = ctx.span("sinks.readback")(VectorStore.load(spark, url).collect())
      if (traced) readbackRows += back.length
      val stored = back.map(r => r.getString(0) -> (r.getString(2), r.getString(1))).toMap
      if (stored.keySet != want.keySet) Some(s"read-back has ${stored.size} rows, expected ${want.size}")
      else stored.collectFirst {
        case (id, (text, _)) if text != want(id) => s"$id: stored sentence differs"
        case (id, (text, vec)) if vec.stripPrefix("[").stripSuffix("]").split(",").map(_.toDouble)
            .toSeq != fx.vector(text, Dim).toSeq => s"$id: stored vector differs from the service's"
      }
    }
  }

  override def close(): Unit = fx.stop()
}

object Ingest {
  val FirstDay: LocalDate = LocalDate.parse("2024-01-01")
  val PageSize = 100
  val Dim = 1536
  val WindowsPerPass = 3
  val WarmWindows = 1
  val SentenceFormat: String =
    "On %s the ERCOT hub average price was %.2f USD/MWh, peak output %.1f MW, " +
      "and the average temperature across eight cities was %.2f C."

  def sentence(day: String, avgPrice: Double, peakMw: Double, temp: Double): String =
    String.format(java.util.Locale.US, SentenceFormat, day, Double.box(avgPrice),
      Double.box(peakMw), Double.box(temp))
}
