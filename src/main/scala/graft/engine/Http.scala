package graft.engine

import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** HTTP transport — the reference's http source/sink connector re-expressed
  * with JDK built-ins only (`com.sun.net.httpserver` receiver,
  * `java.net.http.HttpClient` publisher; no external jars, which is what
  * keeps this row implementable in the zero-egress container).
  *
  * Semantics mirrored from the reference connector family:
  *  - sink: POST each batch of rows to an endpoint. Executed
  *    EXECUTOR-SIDE (`mapPartitions`, one client + chunked payloads per
  *    partition) — at 100 TB the driver never sees the data; a retried
  *    task may re-POST its chunk, so delivery is at-least-once and the
  *    receiver is idempotent on the event key (the production contract
  *    for HTTP sinks).
  *  - source: a webhook receiver buffers POSTed payloads; the buffered
  *    log replays through micro-batches with the same
  *    admission-controlled shape as every other source here.
  *  - prometheus mapper: metrics render to the text exposition format and
  *    parse back from a scrape — only the AGGREGATED gauge vector is
  *    exposed (per-label-set cardinality, the prometheus data model), so
  *    the rendered payload is O(labels), never O(events).
  */
object Http {
  import Tables._
  type Q = (SparkSession, String) => DataFrame

  /** In-process webhook receiver + scrape endpoint.
    *  - POST /ingest: body = newline-separated event lines, first CSV
    *    field is the idempotency key (duplicate deliveries collapse).
    *  - GET /scrape: all accepted lines, key-ordered (deterministic
    *    replay regardless of arrival interleaving).
    *  - GET /metrics: the exposition text installed via `setMetrics`. */
  final class Collector {
    private val accepted =
      new java.util.concurrent.ConcurrentHashMap[Long, String]()
    @volatile private var metricsText = ""
    private val server =
      HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    // daemon threads + explicit shutdown: HttpServer.stop() does NOT stop
    // a user-supplied executor, and non-daemon pool threads would pin the
    // JVM open after main returns (observed: sbt runMain hung at exit)
    private val pool = java.util.concurrent.Executors.newFixedThreadPool(8,
      (r: Runnable) => {
        val t = new Thread(r, "graft-http-collector")
        t.setDaemon(true)
        t
      })
    server.setExecutor(pool)

    private def respond(x: HttpExchange, code: Int, body: String): Unit = {
      val b = body.getBytes(UTF_8)
      x.sendResponseHeaders(code, b.length)
      x.getResponseBody.write(b)
      x.close()
    }
    server.createContext("/ingest", (x: HttpExchange) => {
      val body = new String(x.getRequestBody.readAllBytes(), UTF_8)
      body.split("\n").iterator.filter(_.nonEmpty).foreach { ln =>
        accepted.putIfAbsent(ln.takeWhile(_ != ',').toLong, ln)
      }
      respond(x, 200, "ok")
    })
    server.createContext("/scrape", (x: HttpExchange) => {
      import scala.jdk.CollectionConverters._
      val keys = accepted.keySet().asScala.toArray.map(_.longValue).sorted
      respond(x, 200,
        keys.iterator.map(k => accepted.get(k)).mkString("\n"))
    })
    server.createContext("/metrics", (x: HttpExchange) =>
      respond(x, 200, metricsText))
    server.start()

    def port: Int = server.getAddress.getPort
    def acceptedCount: Int = accepted.size()
    def setMetrics(text: String): Unit = metricsText = text
    def stop(): Unit = { server.stop(0); pool.shutdownNow() }
  }

  /** One client per JVM (per executor on a cluster): connection pooling
    * across partitions, and a daemon-thread executor so idle client
    * threads never pin the JVM open at exit. */
  private lazy val client: HttpClient = HttpClient.newBuilder()
    .executor(java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => {
        val t = new Thread(r, "graft-http-client")
        t.setDaemon(true)
        t
      }))
    .build()

  /** Executor-side chunked POST: `chunk` lines per request, returns lines
    * sent. Serializable-closure-safe (takes only the uri string; the
    * client resolves statically per JVM). */
  def postLines(uri: String, chunk: Int)(lines: Iterator[String]): Long = {
    var sent = 0L
    lines.grouped(chunk).foreach { g =>
      val req = HttpRequest.newBuilder(URI.create(uri))
        .header("Content-Type", "text/plain; charset=utf-8")
        .POST(HttpRequest.BodyPublishers.ofString(g.mkString("\n")))
        .build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200,
        s"http sink POST failed: ${resp.statusCode()} ${resp.body()}")
      sent += g.length
    }
    sent
  }

  /** Blocking GET, UTF-8 body. */
  def get(uri: String): String = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(uri)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() == 200, s"GET $uri: ${resp.statusCode()}")
    resp.body()
  }

  /** stream_http_roundtrip: sink + source over real localhost HTTP.
    * Events POST executor-side (8 partitions × 500-line chunks) to the
    * webhook receiver; the receiver's idempotent buffer replays through
    * three micro-batches into a complete-mode aggregation. The oracle
    * checks the totals survived the wire byte-exactly (value travels as
    * `Double.toString`, which round-trips bit-exact). */
  def httpRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sq = s.sqlContext
    val rows = Streaming.feedRows(s, d)
    val collector = new Collector()
    try {
      val uri = s"http://127.0.0.1:${collector.port}/ingest"
      val posted = s.createDataset(rows.toSeq)
        .map(ev => s"${ev.eventId},${ev.tsNs},${ev.userId}," +
          s"${ev.eventType},${ev.value}")
        .repartition(8)
        .mapPartitions(it => Iterator.single(postLines(uri, 2000)(it)))
        .reduce(_ + _)
      require(posted >= rows.length && collector.acceptedCount == rows.length,
        s"http sink delivered $posted/${rows.length}, " +
          s"receiver accepted ${collector.acceptedCount}")

      val received = get(s"http://127.0.0.1:${collector.port}/scrape")
        .split("\n").iterator.filter(_.nonEmpty).toArray
      val ms = MemoryStream[String]
      val q = Streaming.startScoped(s, Streaming.Width8)(
        ms.toDS()
          .map { ln =>
            val f = ln.split(",", -1)
            (f(0).toLong, f(3), f(4).toDouble)
          }
          .toDF("event_id", "event_type", "value")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
            max("event_id").as("max_id"))
          .writeStream.format("memory").queryName("stream_http_roundtrip")
          .option("checkpointLocation",
            Streaming.ckpt("http_roundtrip"))
          .outputMode(OutputMode.Complete()).start())
      Streaming.replay(ms, q, received, 3)
    } finally collector.stop()
    s.table("stream_http_roundtrip").orderBy("event_type")
  }

  /** mapper_prometheus_roundtrip: metrics out and back through the text
    * exposition format. The per-type aggregate renders as a counter +
    * gauge pair per label set, serves at /metrics, and a scrape parses it
    * back with codegen'd `regexp_extract` — the oracle proves
    * render→scrape→parse is value-exact. The driver-side collect is of
    * the AGGREGATED vector (one row per event_type), which is the
    * prometheus cardinality contract, not a data-size collect. */
  def prometheusRoundtrip(s: SparkSession, d: String): DataFrame = {
    val agg = events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .collect()
    val text = (Seq(
      "# HELP graft_events_total events seen per type",
      "# TYPE graft_events_total counter",
      "# HELP graft_events_value_sum summed value per type",
      "# TYPE graft_events_value_sum gauge") ++
      agg.flatMap { r =>
        val t = r.getString(0)
        Seq(s"""graft_events_total{event_type="$t"} ${r.getLong(1)}""",
          s"""graft_events_value_sum{event_type="$t"} ${r.getDouble(2)}""")
      }).mkString("\n")
    val collector = new Collector()
    val scraped =
      try {
        collector.setMetrics(text)
        get(s"http://127.0.0.1:${collector.port}/metrics")
      } finally collector.stop()
    import s.implicits._
    val pat = """^(\w+)\{event_type="([^"]+)"\} (.+)$"""
    s.createDataset(scraped.split("\n").toSeq)
      .filter(!_.startsWith("#"))
      .select(
        regexp_extract(col("value"), pat, 1).as("metric"),
        regexp_extract(col("value"), pat, 2).as("event_type"),
        regexp_extract(col("value"), pat, 3).as("v"))
      .groupBy("event_type")
      .agg(
        max(when(col("metric") === "graft_events_total",
          col("v").cast("long"))).as("n"),
        max(when(col("metric") === "graft_events_value_sum",
          col("v").cast("double"))).as("sum_value"))
      .orderBy("event_type")
  }

  val queries: Map[String, Q] = Map(
    "stream_http_roundtrip"       -> (httpRoundtrip _),
    "mapper_prometheus_roundtrip" -> (prometheusRoundtrip _)
  )

  val oracle: Map[String, String] = Map(
    "stream_http_roundtrip" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
        |  max(event_id) AS max_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "mapper_prometheus_roundtrip" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
