package graft

import graft.streaming.{ComposedEtlPipeline, IncrementalPostings, IncrementalVectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed tick's contract: one dirty-id detection drives all three
  * maintained stores (docs, postings, vectors), the watermark commits once
  * after the last sink, and a crash BETWEEN any two stages leaves a state
  * the next tick converges — already-updated stores idempotently rewritten,
  * stale ones caught up, nothing lost, nothing double-claimed.
  */
class ComposedEtlSpec extends SparkSpecBase {
  import spark.implicits._

  private val codebook: Seq[Seq[Double]] =
    Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0), Seq(0.0, -1.0))

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"cetl-$name").toFile
    d.delete(); d.getAbsolutePath
  }

  // mutable change feed: rows (id, text, label, v, modified) appended
  // between ticks, read fresh by every changes() call like a live table
  private final class Feed {
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Int, Seq[Double], String)]
    def df(s: SparkSession): DataFrame =
      rows.toSeq.toDF("id", "text", "label", "v", "modified")
        .withColumn("modified", col("modified").cast("timestamp"))
  }

  // doc builder: dirty-ids semi-join against the feed's LATEST text per id,
  // derived doc = (id, doc) where doc = upper(text) — enough to prove the
  // rebuild path without a star schema
  private def mkPipeline(feed: Feed, dir: String,
                         failAfter: Option[String] = None,
                         deliver: (SparkSession, () => DataFrame) => Unit =
                           graft.streaming.IncrementalDocPipeline.NoDeliver) = {
    val changes = (s: SparkSession) => feed.df(s)
    val builder = (s: SparkSession, ids: DataFrame) =>
      feed.df(s)
        .groupBy(col("id"))
        .agg(max(struct(col("modified"), col("text"))).as("m"))
        .join(ids, Seq("id"), "left_semi")
        .select(col("id"), upper(col("m").getField("text")).as("doc"))
    new ComposedEtlPipeline(
      changes, builder, codebook,
      docStorePath = s"$dir/docs",
      postingsStorePath = s"$dir/postings",
      vectorStorePath = s"$dir/vectors",
      statePath = s"$dir/state",
      deliver = deliver) {
      override protected def afterStage(stage: String): Unit =
        if (failAfter.contains(stage))
          throw new RuntimeException(s"injected crash after $stage")
    }
  }

  private def docsOf(dir: String): Map[Long, String] =
    spark.read.parquet(s"$dir/docs").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("doc")).toMap

  private def postingsOf(dir: String): Set[(String, Long, Long)] =
    IncrementalPostings.load(spark, s"$dir/postings")
      .collect().map(r => (r.getAs[String]("token"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("tf"))).toSet

  private def vectorsOf(dir: String): Map[Long, (Seq[Double], Int)] =
    IncrementalVectors.load(spark, s"$dir/vectors")
      .select(col("vec_id"), col("v"), col("cell").cast("int"))
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Double](1), r.getInt(2)))).toMap

  test("one tick feeds all three stores from one detection; second tick is a no-op") {
    val dir = tmp("happy")
    val feed = new Feed
    feed.rows += ((1L, "alpha beta", 0, Seq(0.9, 0.1), "2024-01-01 00:00:01"))
    feed.rows += ((2L, "beta gamma", 1, Seq(0.1, 0.9), "2024-01-01 00:00:02"))
    val p = mkPipeline(feed, dir)
    assert(p.tick(spark) === 2L)
    assert(docsOf(dir) === Map(1L -> "ALPHA BETA", 2L -> "BETA GAMMA"))
    assert(postingsOf(dir) === Set(
      ("alpha", 1L, 1L), ("beta", 1L, 1L), ("beta", 2L, 1L), ("gamma", 2L, 1L)))
    assert(vectorsOf(dir).view.mapValues(_._2).toMap === Map(1L -> 0, 2L -> 1))
    // caught up: no store touched, watermark unchanged
    assert(p.tick(spark) === 0L)
  }

  test("same-batch double change: every store absorbs the LATEST row only") {
    val dir = tmp("latest")
    val feed = new Feed
    feed.rows += ((1L, "old text", 0, Seq(0.9, 0.1), "2024-01-01 00:00:01"))
    feed.rows += ((1L, "new text", 0, Seq(0.1, 0.9), "2024-01-01 00:00:02"))
    val p = mkPipeline(feed, dir)
    assert(p.tick(spark) === 1L)
    assert(docsOf(dir) === Map(1L -> "NEW TEXT"))
    assert(postingsOf(dir).map(_._1) === Set("new", "text"))
    assert(vectorsOf(dir)(1L)._2 === 1, "vector is the 00:00:02 embedding's cell")
  }

  for (crashAt <- Seq("docs", "postings")) {
    test(s"crash after the $crashAt stage: watermark holds, next tick converges all three stores") {
      val dir = tmp(s"crash-$crashAt")
      val feed = new Feed
      feed.rows += ((1L, "alpha beta", 0, Seq(0.9, 0.1), "2024-01-01 00:00:01"))
      feed.rows += ((2L, "beta gamma", 1, Seq(0.1, 0.9), "2024-01-01 00:00:02"))
      mkPipeline(feed, dir).tick(spark) // healthy first batch

      // second batch: id 1 rewritten (text AND embedding move), id 3 new
      feed.rows += ((1L, "delta", 0, Seq(-0.9, 0.1), "2024-01-01 00:00:03"))
      feed.rows += ((3L, "epsilon", 2, Seq(0.0, -0.8), "2024-01-01 00:00:04"))
      val crashing = mkPipeline(feed, dir, failAfter = Some(crashAt))
      val wmBefore = crashing.currentWatermark(spark)
      intercept[RuntimeException](crashing.tick(spark))

      // the watermark must NOT have advanced past the crashed batch…
      assert(crashing.currentWatermark(spark) === wmBefore)
      // …and the stores BEHIND the crash point are still the old batch
      // (docs always committed before the crash in both scenarios)
      assert(docsOf(dir) === Map(1L -> "DELTA", 2L -> "BETA GAMMA", 3L -> "EPSILON"))
      if (crashAt == "docs")
        assert(!postingsOf(dir).map(_._1).contains("delta"),
          "postings stage never ran — store is the first batch")
      assert(vectorsOf(dir)(1L)._2 === 0, "vector stage never ran — old cell")

      // recovery: a plain tick re-detects the SAME batch and converges
      val p = mkPipeline(feed, dir)
      assert(p.tick(spark) === 2L)
      assert(docsOf(dir) === Map(1L -> "DELTA", 2L -> "BETA GAMMA", 3L -> "EPSILON"))
      assert(postingsOf(dir) === Set(
        ("delta", 1L, 1L), ("beta", 2L, 1L), ("gamma", 2L, 1L), ("epsilon", 3L, 1L)))
      assert(vectorsOf(dir).view.mapValues(_._2).toMap ===
        Map(1L -> 2, 2L -> 1, 3L -> 3), "id 1 moved cell 0→2, ghost dropped")
      assert(p.tick(spark) === 0L, "converged: nothing left to absorb")
    }
  }

  test("the persisted path (threshold -1) converges to the held path's stores and watermark") {
    def run(dir: String) = {
      val feed = new Feed
      feed.rows += ((1L, "alpha beta", 0, Seq(0.9, 0.1), "2024-01-01 00:00:01"))
      feed.rows += ((2L, "beta gamma", 1, Seq(0.1, 0.9), "2024-01-01 00:00:02"))
      assert(mkPipeline(feed, dir).tick(spark) === 2L)
      feed.rows += ((1L, "delta", 0, Seq(-0.9, 0.1), "2024-01-01 00:00:03"))
      feed.rows += ((3L, "epsilon", 2, Seq(0.0, -0.8), "2024-01-01 00:00:04"))
      feed.rows += ((3L, "eta epsilon", 2, Seq(0.1, -0.8), "2024-01-01 00:00:05"))
      intercept[RuntimeException](mkPipeline(feed, dir, failAfter = Some("postings")).tick(spark))
      val p = mkPipeline(feed, dir)
      assert(p.tick(spark) === 2L)
      assert(p.tick(spark) === 0L)
      (docsOf(dir), postingsOf(dir), vectorsOf(dir), p.currentWatermark(spark))
    }
    val held = run(tmp("held"))
    assert(held._1 === Map(1L -> "DELTA", 2L -> "BETA GAMMA", 3L -> "ETA EPSILON"))
    assert(held._2.map(_._1) === Set("delta", "beta", "gamma", "eta", "epsilon"))
    assert(held._3.view.mapValues(_._2).toMap === Map(1L -> 2, 2L -> 1, 3L -> 3))
    assert(held._4 === java.sql.Timestamp.valueOf("2024-01-01 00:00:05"))
    assert(withThreshold("-1")(run(tmp("persisted"))) === held)
  }

  private def dataFiles(dir: java.io.File): Seq[String] =
    dir.listFiles().toSeq.map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))

  test("every tick leaves one data file per live cell and one per doc and postings store") {
    val dir = tmp("layout")
    val feed = new Feed
    val p = mkPipeline(feed, dir)
    val batches = Seq(
      Seq((1L, "alpha beta", 0, Seq(0.9, 0.1)), (2L, "beta gamma", 1, Seq(0.1, 0.9)),
        (3L, "gamma delta", 2, Seq(-0.9, 0.1)), (4L, "delta", 3, Seq(0.1, -0.9))),
      Seq((1L, "alpha", 0, Seq(0.8, 0.2)), (5L, "epsilon", 1, Seq(0.2, 0.8))),
      Seq((2L, "zeta", 1, Seq(-0.1, -0.9)), (6L, "eta", 0, Seq(0.95, 0.05)),
        (3L, "theta", 2, Seq(-0.8, -0.1))))
    for ((batch, i) <- batches.zipWithIndex) {
      batch.foreach { case (id, text, label, v) =>
        feed.rows += ((id, text, label, v, f"2024-01-01 00:0$i:$id%02d")) }
      assert(p.tick(spark) === batch.size.toLong)
      val cells = new java.io.File(s"$dir/vectors").listFiles().toSeq
        .filter(d => d.isDirectory && d.getName.startsWith("cell="))
      assert(cells.size === 4)
      for (c <- cells)
        assert(dataFiles(c).size === 1, s"tick $i: ${c.getName} holds ${dataFiles(c)}")
      for (st <- Seq("docs", "postings"))
        assert(dataFiles(new java.io.File(s"$dir/$st")).size === 1,
          s"tick $i: $st holds ${dataFiles(new java.io.File(s"$dir/$st"))}")
    }
  }

  test("the reference's FULL loop in one tick: three stores AND live es.bulk delivery; outage and mid-gap crash both converge") {
    // r14 verdict task 7: the live HTTP wire proven for the per-store doc
    // pipeline now runs under the COMPOSED tick — delivery is stage 4,
    // after the three store commits and before the single watermark commit.
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val mapper = new ObjectMapper()
    val dir = tmp("wire")
    // minimal live ES: PUT index acks; POST /_bulk 503s while "down"
    // (outage), else accounts docs by _id — idempotent like the real sink
    val down = new java.util.concurrent.atomic.AtomicBoolean(false)
    val esDocs = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.createContext("/", (x: HttpExchange) => {
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
            esDocs.put(id, doc)
            """{"index":{"_id":"%s","status":201}}""".format(id)
        }.toSeq
        send(200, s"""{"errors":false,"items":[${items.mkString(",")}]}""")
      }
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}"
    val wire = (_: SparkSession, docs: () => DataFrame) => {
      graft.sinks.BulkHttpSink.post(docs(), url, "docs", "id", maxRetries = 1); ()
    }
    try {
      val feed = new Feed
      feed.rows += ((1L, "alpha beta", 0, Seq(0.9, 0.1), "2024-01-01 00:00:01"))
      feed.rows += ((2L, "beta gamma", 1, Seq(0.1, 0.9), "2024-01-01 00:00:02"))
      // tick 1, healthy wire: all three stores AND ES absorb the batch
      val p = mkPipeline(feed, dir, deliver = wire)
      assert(p.tick(spark) === 2L)
      assert(esDocs.size() === 2)
      assert(mapper.readTree(esDocs.get("1")).path("doc").asText() === "ALPHA BETA")
      val wm1 = p.currentWatermark(spark)

      // batch 2 arrives during a NETWORK OUTAGE: the tick fails at the
      // delivery stage — all three stores already committed (idempotent,
      // allowed to run ahead), ES has nothing new, the watermark holds
      feed.rows += ((1L, "delta", 0, Seq(-0.9, 0.1), "2024-01-01 00:00:03"))
      down.set(true)
      intercept[Exception] { mkPipeline(feed, dir, deliver = wire).tick(spark) }
      assert(p.currentWatermark(spark) === wm1,
        "watermark must not advance past an undelivered batch")
      assert(docsOf(dir)(1L) === "DELTA", "stores may run ahead of delivery")
      assert(mapper.readTree(esDocs.get("1")).path("doc").asText() === "ALPHA BETA",
        "ES must still hold the pre-outage doc")

      // wire heals: a plain tick re-detects the SAME batch, the store
      // upserts converge to identical bytes, delivery lands, wm commits
      down.set(false)
      assert(mkPipeline(feed, dir, deliver = wire).tick(spark) === 1L)
      assert(mapper.readTree(esDocs.get("1")).path("doc").asText() === "DELTA")
      assert(p.currentWatermark(spark) ===
        java.sql.Timestamp.valueOf("2024-01-01 00:00:03"))
      assert(vectorsOf(dir)(1L)._2 === 2, "re-embedded vector converged with the wire")

      // and the OTHER gap: a crash BETWEEN the last store commit and
      // delivery (afterStage("vectors") throws) — same convergence law
      feed.rows += ((3L, "epsilon", 2, Seq(0.0, -0.8), "2024-01-01 00:00:04"))
      intercept[RuntimeException] {
        mkPipeline(feed, dir, failAfter = Some("vectors"), deliver = wire).tick(spark)
      }
      assert(esDocs.get("3") === null, "crash before delivery: ES untouched")
      assert(docsOf(dir).contains(3L), "stores committed before the crash")
      assert(mkPipeline(feed, dir, deliver = wire).tick(spark) === 1L)
      assert(mapper.readTree(esDocs.get("3")).path("doc").asText() === "EPSILON")
      assert(mkPipeline(feed, dir, deliver = wire).tick(spark) === 0L, "caught up")
    } finally server.stop(0)
  }

  test("streaming face: foreachBatch drives the composed tick; a crashed batch replays from the checkpoint and converges") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    import org.apache.spark.sql.types._
    val dir = tmp("stream")
    val src = s"$dir/feed"
    val ckpt = s"$dir/ckpt"
    def writeFeed(rows: Seq[(Long, String, Int, Seq[Double], String)]): Unit =
      rows.toDF("id", "text", "label", "v", "m")
        .withColumn("modified", col("m").cast("timestamp")).drop("m")
        .write.mode(SaveMode.Append).parquet(src)
    val feedSchema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType),
      StructField("label", IntegerType),
      StructField("v", ArrayType(DoubleType)),
      StructField("modified", TimestampType)))

    val crashOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def run(): Unit = {
      val q = spark.readStream.schema(feedSchema).parquet(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val builder = (s: org.apache.spark.sql.SparkSession,
                         ids: org.apache.spark.sql.DataFrame) =>
            batch.groupBy(col("id"))
              .agg(max(struct(col("modified"), col("text"))).as("m"))
              .join(ids, Seq("id"), "left_semi")
              .select(col("id"), upper(col("m").getField("text")).as("doc"))
          val p = new ComposedEtlPipeline(
            _ => batch.toDF(), builder, codebook,
            docStorePath = s"$dir/docs", postingsStorePath = s"$dir/postings",
            vectorStorePath = s"$dir/vectors", statePath = s"$dir/state") {
            override protected def afterStage(stage: String): Unit =
              if (stage == "postings" && crashOnce.getAndSet(false))
                throw new RuntimeException("injected crash mid-tick")
          }
          p.tick(spark)
          ()
        }
        .start()
      q.awaitTermination()
    }

    writeFeed(Seq(
      (1L, "alpha beta", 0, Seq(0.9, 0.1), "2024-01-01 00:00:01"),
      (2L, "beta gamma", 1, Seq(0.1, 0.9), "2024-01-01 00:00:02")))
    // first run dies after the postings stage: batch NOT committed, vector
    // store never written, watermark unadvanced
    intercept[StreamingQueryException](run())
    assert(!new java.io.File(s"$dir/vectors").exists())

    run() // checkpoint re-delivers the SAME batch; every stage converges
    assert(docsOf(dir) === Map(1L -> "ALPHA BETA", 2L -> "BETA GAMMA"))
    assert(postingsOf(dir).map(_._1) === Set("alpha", "beta", "gamma"))
    assert(vectorsOf(dir).view.mapValues(_._2).toMap === Map(1L -> 0, 2L -> 1))

    // a second feed file: only the new rows arrive in the next micro-batch
    writeFeed(Seq((1L, "delta", 0, Seq(-0.9, 0.1), "2024-01-01 00:00:03")))
    run()
    assert(docsOf(dir) === Map(1L -> "DELTA", 2L -> "BETA GAMMA"))
    assert(!postingsOf(dir).map(_._1).contains("alpha"), "rewritten doc's old tokens dropped")
    assert(vectorsOf(dir)(1L)._2 === 2, "re-embedded vector moved cell 0 -> 2")
  }

  test("full composition under Structured Streaming: checkpointed foreachBatch + live es.bulk; crash restart AND a 503 window both converge all three stores plus the index") {
    // r15 verdict task 6: the SS face (checkpoint replay) and the live
    // HTTP wire (stage-4 delivery) proven TOGETHER — the reference's whole
    // deployment shape in one test: readStream feed -> composed tick ->
    // three stores -> es.bulk -> single commit, with a mid-tick crash and
    // a network outage each injected against the same checkpoint.
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    import org.apache.spark.sql.types._
    val mapper = new ObjectMapper()
    val dir = tmp("sswire")
    val src = s"$dir/feed"
    val ckpt = s"$dir/ckpt"
    def writeFeed(rows: Seq[(Long, String, Int, Seq[Double], String)]): Unit =
      rows.toDF("id", "text", "label", "v", "m")
        .withColumn("modified", col("m").cast("timestamp")).drop("m")
        .write.mode(SaveMode.Append).parquet(src)
    val feedSchema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType),
      StructField("label", IntegerType),
      StructField("v", ArrayType(DoubleType)),
      StructField("modified", TimestampType)))

    // in-process ES: PUT acks; POST /_bulk 503s while down, else absorbs
    // by _id (idempotent, so checkpoint replays never double-index)
    val down = new java.util.concurrent.atomic.AtomicBoolean(false)
    val esDocs = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.createContext("/", (x: HttpExchange) => {
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
            esDocs.put(id, doc)
            """{"index":{"_id":"%s","status":201}}""".format(id)
        }.toSeq
        send(200, s"""{"errors":false,"items":[${items.mkString(",")}]}""")
      }
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}"
    val wire = (_: SparkSession, docs: () => DataFrame) => {
      graft.sinks.BulkHttpSink.post(docs(), url, "docs", "id", maxRetries = 1); ()
    }

    val crashOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(): Unit = {
      val q = spark.readStream.schema(feedSchema).parquet(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val builder = (s: org.apache.spark.sql.SparkSession,
                         ids: org.apache.spark.sql.DataFrame) =>
            batch.groupBy(col("id"))
              .agg(max(struct(col("modified"), col("text"))).as("m"))
              .join(ids, Seq("id"), "left_semi")
              .select(col("id"), upper(col("m").getField("text")).as("doc"))
          val p = new ComposedEtlPipeline(
            _ => batch.toDF(), builder, codebook,
            docStorePath = s"$dir/docs", postingsStorePath = s"$dir/postings",
            vectorStorePath = s"$dir/vectors", statePath = s"$dir/state",
            deliver = wire) {
            override protected def afterStage(stage: String): Unit =
              if (stage == "vectors" && crashOnce.getAndSet(false))
                throw new RuntimeException("injected crash before delivery")
          }
          p.tick(spark)
          ()
        }
        .start()
      q.awaitTermination()
    }

    try {
      // batch 1, healthy wire: stores + index absorb it through SS
      writeFeed(Seq(
        (1L, "alpha beta", 0, Seq(0.9, 0.1), "2024-01-01 00:00:01"),
        (2L, "beta gamma", 1, Seq(0.1, 0.9), "2024-01-01 00:00:02")))
      run()
      assert(docsOf(dir) === Map(1L -> "ALPHA BETA", 2L -> "BETA GAMMA"))
      assert(mapper.readTree(esDocs.get("1")).path("doc").asText() === "ALPHA BETA")

      // batch 2 arrives during an OUTAGE: the tick dies at stage 4, the
      // streaming batch does not commit, the watermark holds — stores may
      // run ahead (idempotent), the index must not
      writeFeed(Seq((1L, "delta", 0, Seq(-0.9, 0.1), "2024-01-01 00:00:03")))
      down.set(true)
      intercept[StreamingQueryException](run())
      assert(docsOf(dir)(1L) === "DELTA", "stores may run ahead of delivery")
      assert(mapper.readTree(esDocs.get("1")).path("doc").asText() === "ALPHA BETA",
        "the index must still hold the pre-outage doc")

      // wire heals: the checkpoint replays the SAME micro-batch; store
      // upserts converge idempotently, delivery lands, the batch commits
      down.set(false)
      run()
      assert(mapper.readTree(esDocs.get("1")).path("doc").asText() === "DELTA")
      assert(vectorsOf(dir)(1L)._2 === 2, "re-embedded vector converged with the wire")

      // batch 3 with a crash BETWEEN the last store and delivery: restart
      // from the checkpoint re-runs the tick; _id upsert absorbs replay
      writeFeed(Seq((3L, "epsilon", 2, Seq(0.0, -0.8), "2024-01-01 00:00:04")))
      crashOnce.set(true)
      intercept[StreamingQueryException](run())
      assert(esDocs.get("3") === null, "crash before delivery: index untouched")
      run()
      assert(mapper.readTree(esDocs.get("3")).path("doc").asText() === "EPSILON")
      assert(docsOf(dir).keySet === Set(1L, 2L, 3L))
      assert(postingsOf(dir).map(_._1).contains("epsilon"))
      run() // and an empty trigger is a clean no-op
      assert(esDocs.size() === 3)
    } finally server.stop(0)
  }
}
