package graft

import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.sinks.BulkHttpSink
import org.apache.spark.sql.functions._

/** LIVE bulk delivery over real HTTP, zero egress: an in-process
  * `com.sun.net.httpserver` Elasticsearch stub accounts documents by
  * `_id`, injects whole-request 503s and per-item 429s, and enforces the
  * bulk wire format — so the reference's one never-executed behavior
  * (`es.bulk` + index bootstrap with ignore=400) runs end to end,
  * partition-parallel from executor tasks, with both retry ladders
  * exercised.
  */
class HttpSinkSpec extends SparkSpecBase {
  private val mapper = new ObjectMapper()

  /** Minimal ES: PUT /{index} (create-if-absent), POST /_bulk. */
  private final class EsStub(failFirstBulks: Int, flakyIdEvery: Int) {
    val docs = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val indexCreates = new AtomicInteger(0)
    val bulkRequests = new AtomicInteger(0)
    val rejected503 = new AtomicInteger(0)
    val item429 = new AtomicInteger(0)
    private val flakyOnce =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val server: HttpServer =
      HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))

    private def respond(x: HttpExchange, code: Int, body: String): Unit = {
      val b = body.getBytes("UTF-8")
      x.sendResponseHeaders(code, b.length)
      x.getResponseBody.write(b)
      x.close()
    }

    server.createContext("/", (x: HttpExchange) => {
      val path = x.getRequestURI.getPath
      val body = new String(x.getRequestBody.readAllBytes(), "UTF-8")
      if (x.getRequestMethod == "PUT") {
        if (indexCreates.getAndIncrement() == 0) respond(x, 200, """{"acknowledged":true}""")
        else respond(x, 400,
          """{"error":{"type":"resource_already_exists_exception"}}""")
      } else if (path == "/_bulk") {
        if (bulkRequests.getAndIncrement() < failFirstBulks) {
          rejected503.incrementAndGet()
          respond(x, 503, """{"error":"unavailable"}""")
        } else {
          val lines = body.split("\n").filter(_.nonEmpty)
          require(lines.length % 2 == 0, "bulk body must be action/doc pairs")
          val items = lines.grouped(2).map { case Array(action, doc) =>
            val id = mapper.readTree(action).path("index").path("_id").asText()
            require(id.nonEmpty, s"action line without _id: $action")
            // every flakyIdEvery-th id 429s ONCE, then succeeds — the
            // per-item partial-failure ladder
            val flaky = flakyIdEvery > 0 &&
              id.toLong % flakyIdEvery == 0 && flakyOnce.add(id)
            if (flaky) {
              item429.incrementAndGet()
              """{"index":{"_id":"%s","status":429,"error":{"type":"es_rejected_execution_exception"}}}""".format(id)
            } else {
              docs.put(id, doc)
              """{"index":{"_id":"%s","status":201}}""".format(id)
            }
          }.toSeq
          val errors = items.exists(_.contains("429"))
          respond(x, 200,
            s"""{"errors":$errors,"items":[${items.mkString(",")}]}""")
        }
      } else respond(x, 404, "{}")
    })
    server.start()
    def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"
    def stop(): Unit = server.stop(0)
  }

  test("bulk delivery end-to-end: every doc lands exactly once by _id, partition-parallel") {
    val es = new EsStub(failFirstBulks = 0, flakyIdEvery = 0)
    try {
      val df = Tables.documents(spark, sf)
        .select(col("doc_id"), col("lang"), col("source"))
      val n = df.count()
      val acked = BulkHttpSink.post(df, es.url, "docs", "doc_id", batchSize = 100)
      assert(acked === n)
      assert(es.docs.size().toLong === n)
      assert(es.bulkRequests.get() >= 2, "batching must split the corpus")
      // document bodies round-trip: spot-check one
      val id = es.docs.keySet().iterator().next()
      val doc = mapper.readTree(es.docs.get(id))
      assert(doc.path("doc_id").asText() === id)
      assert(doc.has("lang") && doc.has("source"))
      // bootstrap is create-if-absent: second post hits the 400 path
      assert(BulkHttpSink.post(df.limit(1), es.url, "docs", "doc_id") === 1L)
      assert(es.indexCreates.get() >= 2)
    } finally es.stop()
  }

  test("503s back off and re-send; per-item 429s retry only the failed items; nothing is lost") {
    val es = new EsStub(failFirstBulks = 2, flakyIdEvery = 7)
    try {
      val df = Tables.documents(spark, sf).select(col("doc_id"), col("lang"))
        .limit(300).repartition(3)
      val n = df.count()
      val acked = BulkHttpSink.post(df, es.url, "docs", "doc_id", batchSize = 50)
      assert(acked === n)
      assert(es.docs.size().toLong === n, "every doc must land despite both failure modes")
      assert(es.rejected503.get() === 2, "the injected 503s were hit and retried past")
      assert(es.item429.get() > 0, "the per-item ladder was exercised")
      // retried requests: more bulk POSTs than the no-failure floor of
      // 6 batches (300 rows / 3 partitions / batchSize 50) + the 2 503s
      assert(es.bulkRequests.get() > 8,
        s"expected item-retry POSTs beyond the floor, got ${es.bulkRequests.get()}")
    } finally es.stop()
  }

  test("the reference's whole loop over the wire: tick -> rebuild -> es.bulk -> commit-after-sink") {
    import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
    val base = java.nio.file.Files.createTempDirectory("http_etl").toString
    val srcPath = s"$base/src"
    import spark.implicits._
    def writeSource(rows: Seq[(Long, String, String)], mode: SaveMode): Unit =
      rows.toDF("id", "val", "m")
        .withColumn("modified", col("m").cast("timestamp")).drop("m")
        .write.mode(mode).parquet(srcPath)
    writeSource(Seq((1L, "a", "2024-01-01 09:00:00"),
      (2L, "b", "2024-01-01 09:30:00")), SaveMode.Overwrite)
    // a stub that can be toggled DOWN (every bulk 503s — outage)
    val down = new java.util.concurrent.atomic.AtomicBoolean(false)
    val es = new EsStub(0, 0)
    es.server.removeContext("/")
    es.server.createContext("/", (x: HttpExchange) => {
      val body = new String(x.getRequestBody.readAllBytes(), "UTF-8")
      def send(code: Int, s: String): Unit = {
        val b = s.getBytes("UTF-8")
        x.sendResponseHeaders(code, b.length); x.getResponseBody.write(b); x.close()
      }
      if (x.getRequestMethod == "PUT") send(200, """{"acknowledged":true}""")
      else if (down.get()) send(503, """{"error":"outage"}""")
      else {
        val items = body.split("\n").filter(_.nonEmpty).grouped(2).map {
          case Array(action, doc) =>
            val id = mapper.readTree(action).path("index").path("_id").asText()
            es.docs.put(id, doc)
            """{"index":{"_id":"%s","status":201}}""".format(id)
        }.toSeq
        send(200, s"""{"errors":false,"items":[${items.mkString(",")}]}""")
      }
    })
    val p = new graft.streaming.IncrementalDocPipeline(
      docBuilder = (s: SparkSession, ids: DataFrame) =>
        s.read.parquet(srcPath).join(ids, Seq("id"), "left_semi")
          .groupBy("id").agg(max(struct(col("modified"), col("val"))).as("v"))
          .select(col("id"), upper(col("v.val")).as("doc"), col("v.modified")),
      changes = (s: SparkSession) => s.read.parquet(srcPath).select("id", "modified"),
      storePath = s"$base/store", statePath = s"$base/state",
      deliver = (_, docs) =>
        BulkHttpSink.post(docs(), es.url, "docs", "id", maxRetries = 1))
    try {
      // tick 1: both docs deliver, watermark commits
      assert(p.tick(spark) === 2L)
      assert(es.docs.size() === 2)
      val wm1 = p.currentWatermark(spark)
      assert(wm1 === java.sql.Timestamp.valueOf("2024-01-01 09:30:00"))
      // a change arrives, but ES is DOWN: the tick must fail and the
      // watermark must NOT move (commit-after-sink, T2 over a real wire)
      writeSource(Seq((1L, "c", "2024-01-01 10:00:00")), SaveMode.Append)
      down.set(true)
      intercept[Exception] { p.tick(spark) }
      assert(p.currentWatermark(spark) === wm1,
        "watermark must stay put when delivery fails")
      // ES heals: the SAME dirty id re-delivers (idempotent by _id)
      down.set(false)
      assert(p.tick(spark) === 1L)
      assert(mapper.readTree(es.docs.get("1")).path("doc").asText() === "C")
      assert(p.currentWatermark(spark) ===
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))
      assert(p.tick(spark) === 0L) // caught up
    } finally es.stop()
  }

  test("a poison item fails loud with the server's reason after its retries") {
    val poison = new EsStub(0, 0)
    val server = poison.server
    // replace the stub's context: _id "13" is PERMANENTLY rejected — the
    // partial-retry ladder must exhaust and surface the server's reason
    server.removeContext("/")
    server.createContext("/", (x: HttpExchange) => {
      val body = new String(x.getRequestBody.readAllBytes(), "UTF-8")
      if (x.getRequestMethod == "PUT") {
        val b = """{"acknowledged":true}""".getBytes("UTF-8")
        x.sendResponseHeaders(200, b.length); x.getResponseBody.write(b); x.close()
      } else {
        val lines = body.split("\n").filter(_.nonEmpty)
        val items = lines.grouped(2).map { case Array(action, _) =>
          val id = mapper.readTree(action).path("index").path("_id").asText()
          if (id == "13")
            """{"index":{"_id":"13","status":429,"error":{"type":"forever_rejected"}}}"""
          else """{"index":{"_id":"%s","status":201}}""".format(id)
        }.toSeq
        val resp = s"""{"errors":${items.exists(_.contains("429"))},"items":[${items.mkString(",")}]}"""
          .getBytes("UTF-8")
        x.sendResponseHeaders(200, resp.length); x.getResponseBody.write(resp); x.close()
      }
    })
    try {
      val df = Tables.documents(spark, sf).select(col("doc_id"), col("lang"))
        .filter(col("doc_id").between(10, 16)).coalesce(1)
      val e = intercept[Exception] {
        BulkHttpSink.post(df, poison.url, "docs", "doc_id", maxRetries = 2)
      }
      assert(causeChain(e).contains("forever_rejected"), s"got: ${causeChain(e)}")
    } finally poison.stop()
  }
}
