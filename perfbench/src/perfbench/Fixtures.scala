package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.io.ByteArrayOutputStream
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import java.util.zip.GZIPOutputStream
import scala.collection.mutable.ArrayBuffer

/** Localhost stand-ins for the three remote services the reference's E1
  * backfill talks to, speaking the same wire shapes the engine's live
  * clients decode:
  *
  *  - `/token`: the ROPC token mint; every other feed request must carry a
  *    bearer token this server minted;
  *  - `/reports/sced/<first day>`: the paged SCED report for a 2-day
  *    window (positional `fields`/`data`, `_meta.totalRecords`), 96
  *    fifteen-minute intervals x 5 hubs per day;
  *  - `/meteostat/<station>.csv.gz`: one gzipped daily CSV per station;
  *  - `/v1/embeddings`: the OpenAI-shaped batched embedding POST.
  *
  * Every value is a pure function of `seed` and the request, and so is the
  * 429 schedule: each listed request key is refused exactly once, on its
  * first arrival. With zero retry delay and jitter on the client side, the
  * counters below therefore repeat exactly for a given seed and window
  * count. Counting happens here, server-side, so the engine needs no hooks;
  * requests count only while `counting` is set.
  */
final class Fixtures(seed: Long, threads: Int, firstDay: LocalDate, days: Int) {
  import Fixtures._

  val pageRequests = new AtomicLong
  val pagesOk = new AtomicLong
  val metaProbes = new AtomicLong
  val http429 = new AtomicLong
  val tokenMints = new AtomicLong
  val weatherRequests = new AtomicLong
  val embedRequests = new AtomicLong
  val embedOk = new AtomicLong
  val embedTexts = new AtomicLong
  @volatile var counting = false
  private val feedSpans = new Spans
  private val embedSpans = new Spans

  private val mints = new AtomicLong
  private val stationHits = new ConcurrentHashMap[String, AtomicLong]()
  private val refused = ConcurrentHashMap.newKeySet[String]()

  private def count(c: AtomicLong, n: Long = 1L): Unit = if (counting) c.addAndGet(n)

  /** One-shot 429 for roughly one request key in `every`. */
  private def throttle(key: String, every: Int): Boolean =
    mix(seed ^ key.hashCode.toLong * 0x9E3779B97F4A7C15L) % every == 0 && refused.add(key)

  /** Hub price (USD/MWh, two decimals) of `hub` at interval `k` of `day`. */
  def price(day: LocalDate, k: Int, hub: Int): Double =
    (mix(seed * 31 + day.toEpochDay * 480 + k * 5 + hub) % 4500 + 500) / 100.0
  def mw(day: LocalDate, k: Int, hub: Int): Double =
    (mix(seed * 37 + day.toEpochDay * 480 + k * 5 + hub + 7) % 50000) / 10.0
  def tavg(day: LocalDate, station: Int): Double =
    (mix(seed * 41 + day.toEpochDay * 8 + station) % 400 - 50) / 10.0

  /** The service's embedding of `text`: 4-decimal values in [-1, 1]. */
  def vector(text: String, dim: Int): Array[Double] = {
    val r = new java.util.SplittableRandom(seed ^ text.hashCode.toLong * 0xC2B2AE3D27D4EB4FL)
    Array.fill(dim)(math.rint(r.nextDouble(-1.0, 1.0) * 1e4) / 1e4)
  }

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(threads)
  server.setExecutor(pool)

  private val stationCsv: IndexedSeq[Array[Byte]] = Stations.indices.map { s =>
    val sb = new StringBuilder
    (0 until days).foreach { i =>
      val d = firstDay.plusDays(i.toLong)
      sb.append(s"$d,${tavg(d, s)},${tavg(d, s) - 4},${tavg(d, s) + 5},0.0,,,,,,\n")
    }
    gzip(sb.toString)
  }

  server.createContext("/token", (x: HttpExchange) => {
    count(tokenMints)
    respond(x, 200, s"""{"access_token":"tok-$seed-${mints.incrementAndGet()}","expires_in":"3600"}""")
  })

  server.createContext("/reports/sced/", (x: HttpExchange) => feedSpans.around(counting) {
    val auth = Option(x.getRequestHeaders.getFirst("Authorization")).getOrElse("")
    val p = params(x)
    val day0 = LocalDate.parse(x.getRequestURI.getPath.stripPrefix("/reports/sced/"))
    val page = p("page").toInt
    val size = p("size").toInt
    count(if (size == 1) metaProbes else pageRequests)
    if (!auth.startsWith(s"Bearer tok-$seed-")) respond(x, 401, "{}")
    else if (size > 1 && throttle(s"feed/$day0/$page", 17)) {
      count(http429); respond(x, 429, "{}")
    } else {
      if (size > 1) count(pagesOk)
      respond(x, 200, feedPage(day0, page, size, p.get("settlementPoint")))
    }
  })

  server.createContext("/meteostat/", (x: HttpExchange) => {
    count(weatherRequests)
    val id = x.getRequestURI.getPath.stripPrefix("/meteostat/").stripSuffix(".csv.gz")
    val s = Stations.indexWhere(_._2 == id)
    if (s < 0) respond(x, 404, "unknown station")
    else if (throttle(s"weather/$id/" +
        stationHits.computeIfAbsent(id, _ => new AtomicLong).incrementAndGet(), 23)) {
      count(http429); respond(x, 429, "")
    }
    else {
      x.getResponseHeaders.set("Content-Type", "application/gzip")
      x.sendResponseHeaders(200, stationCsv(s).length)
      x.getResponseBody.write(stationCsv(s))
      x.close()
    }
  })

  server.createContext("/v1/embeddings", (x: HttpExchange) => embedSpans.around(counting) {
    count(embedRequests)
    val body = Main.Json.readTree(new String(x.getRequestBody.readAllBytes(), UTF_8))
    val input = body.get("input")
    val texts = (0 until input.size()).map(input.get(_).asText())
    val dim = body.path("dimensions").asInt(1536)
    if (x.getRequestHeaders.getFirst("Authorization") != s"Bearer $ApiKey") respond(x, 401, "{}")
    else if (throttle("embed/" + texts.sorted.mkString("\u0001"), 5)) {
      count(http429); respond(x, 429, "{}")
    } else {
      count(embedOk)
      count(embedTexts, texts.size.toLong)
      val sb = new StringBuilder("""{"object":"list","data":[""")
      texts.zipWithIndex.foreach { case (t, k) =>
        if (k > 0) sb.append(',')
        sb.append(s"""{"index":$k,"embedding":[""")
        sb.append(vector(t, dim).mkString(","))
        sb.append("]}")
      }
      respond(x, 200, sb.append("]}").toString)
    }
  })

  server.start()
  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Rows of the window starting at `day0`, in wire order: day, interval, hub. */
  private def feedPage(day0: LocalDate, page: Int, size: Int, hub: Option[String]): String = {
    val rows = (0 until 2 * RowsPerDay).filter(i => hub.forall(_ == Hubs(i % 5)))
    val lo = (page - 1) * size
    val data = rows.slice(lo, lo + size).map { i =>
      val d = day0.plusDays((i / RowsPerDay).toLong)
      val k = (i % RowsPerDay) / 5
      val h = i % 5
      val ts = d.atStartOfDay().plusMinutes(15L * k)
      // wire order deliberately differs from the engine's schema order
      s"""["${Hubs(h)}",${price(d, k, h)},"$ts",${mw(d, k, h)}]"""
    }.mkString(",")
    s"""{"_meta":{"totalRecords":${rows.size}},"fields":[{"name":"settlementPoint"},""" +
      s"""{"name":"price"},{"name":"SCEDTimestamp"},{"name":"mw"}],"data":[$data]}"""
  }

  def feedSpanSeconds: Double = feedSpans.unionSeconds
  def embedSpanSeconds: Double = embedSpans.unionSeconds

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object Fixtures {
  val ApiKey = "bench-key"
  val RowsPerDay: Int = 96 * 5
  val Hubs: IndexedSeq[String] =
    IndexedSeq("HB_HUBAVG", "HB_NORTH", "HB_SOUTH", "HB_WEST", "HB_HOUSTON")
  /** The reference's eight Meteostat cities (meteostat_weather.py:23-32). */
  val Stations: Seq[(String, String)] = Seq(
    "Houston" -> "72243", "Austin" -> "72254", "Dallas" -> "72258",
    "San Antonio" -> "72253", "Fort Worth" -> "72259", "Corpus Christi" -> "72251",
    "Abilene" -> "72266", "Waco" -> "72256")

  /** splitmix64 finalizer, non-negative. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  private def params(x: HttpExchange): Map[String, String] =
    Option(x.getRequestURI.getRawQuery).getOrElse("").split("&").toSeq
      .filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8)
      }.toMap

  private def respond(x: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(code, b.length.toLong)
    x.getResponseBody.write(b)
    x.close()
  }

  private def gzip(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos)
    g.write(s.getBytes(UTF_8))
    g.close()
    bos.toByteArray
  }

  /** Request intervals; `unionSeconds` is the time at least one was in flight. */
  private final class Spans {
    private val spans = ArrayBuffer[(Long, Long)]()
    def around(record: Boolean)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      try body finally if (record) { val t1 = System.nanoTime(); synchronized(spans += ((t0, t1))) }
    }
    def unionSeconds: Double = synchronized(Tracer.unionSeconds(spans.toSeq))
  }
}
