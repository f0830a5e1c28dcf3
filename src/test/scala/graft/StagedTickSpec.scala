package graft

import graft.streaming.{ComposedEtlPipeline, IncrementalPostings, IncrementalVectors}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The composed tick's stage/commit split: its three stores stage
  * concurrently on threads that carry the tick thread's local properties,
  * a failed stage commits nothing and leaves nothing behind, and the
  * schemas a commit seeds are the ones a footer read would infer.
  */
class StagedTickSpec extends SparkSpecBase {
  import spark.implicits._

  private val codebook: Seq[Seq[Double]] =
    Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0), Seq(0.0, -1.0))

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private final class Feed {
    @volatile var rows = Vector(
      (1L, "alpha beta", 0, Seq(0.9, 0.1), ts("2024-01-01 00:00:01")),
      (2L, "beta gamma", 1, Seq(0.1, 0.9), ts("2024-01-01 00:00:02")))
    def df(s: SparkSession): DataFrame = rows.toDF("id", "text", "label", "v", "modified")
    def secondBatch(): Unit = rows ++= Seq(
      (1L, "delta", 0, Seq(-0.9, 0.1), ts("2024-01-01 00:00:03")),
      (3L, "epsilon", 2, Seq(0.0, -0.8), ts("2024-01-01 00:00:04")))
  }

  private def pipeline(feed: Feed, dir: String,
                       failBuild: AtomicBoolean = new AtomicBoolean(false),
                       beforeBuild: () => Unit = () => ()) =
    new ComposedEtlPipeline(feed.df, (s: SparkSession, ids: DataFrame) => {
      beforeBuild()
      if (failBuild.get()) throw new IllegalStateException("doc source unavailable")
      feed.df(s).join(ids, Seq("id"), "left_semi")
        .groupBy(col("id")).agg(max(struct(col("modified"), col("text"))).as("m"))
        .select(col("id"), upper(col("m.text")).as("doc"))
    }, codebook, s"$dir/docs", s"$dir/postings", s"$dir/vectors", s"$dir/state")

  private def tmp(name: String): String =
    Files.createTempDirectory(s"staged-$name").toAbsolutePath.toString

  /** Every file under `dir` with its bytes: equal snapshots ⇒ untouched. */
  private def files(dir: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  /** Run `body` with a listener on; return its result and the jobs it
    * started, once the listener bus has stopped delivering new ones.
    */
  private def withJobs[A](body: => A): (A, Seq[SparkListenerJobStart]) = {
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.add(js); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      var prev = -1
      var i = 0
      while (jobs.size != prev && i < 50) { prev = jobs.size; Thread.sleep(100); i += 1 }
      (a, jobs.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a doc builder failing on the second batch commits nothing, leaves nothing running, and the next tick converges") {
    val dir = tmp("fail")
    val feed = new Feed
    val failBuild = new AtomicBoolean(false)
    val p = pipeline(feed, dir, failBuild)
    assert(p.tick(spark) === 2L)
    val wm1 = p.currentWatermark(spark)
    feed.secondBatch()
    failBuild.set(true)
    val before = files(dir)
    val e = intercept[IllegalStateException](p.tick(spark))
    assert(causeChain(e).contains("doc source unavailable"), causeChain(e))
    // the postings and vector stages ran beside the failed doc stage; by the
    // time tick rethrows they have finished and their stagings are gone
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "a stage was still running when the tick returned")
    assert(files(dir) === before, "a failed stage must leave every store and the state untouched")
    Thread.sleep(300)
    assert(files(dir) === before, "a stage wrote after the tick returned")
    assert(p.currentWatermark(spark) === wm1)

    failBuild.set(false)
    assert(p.tick(spark) === 2L, "the uncommitted batch is re-detected")
    assert(p.currentWatermark(spark) === ts("2024-01-01 00:00:04"))
    assert(spark.read.parquet(s"$dir/docs").as[(Long, String)].collect().toMap ===
      Map(1L -> "DELTA", 2L -> "BETA GAMMA", 3L -> "EPSILON"))
    assert(IncrementalPostings.load(spark, s"$dir/postings").select("token", "doc_id")
      .as[(String, Long)].collect().toSet ===
      Set(("delta", 1L), ("beta", 2L), ("gamma", 2L), ("epsilon", 3L)))
    assert(IncrementalVectors.load(spark, s"$dir/vectors")
      .select(col("vec_id"), col("cell").cast("int")).as[(Long, Int)].collect().toMap ===
      Map(1L -> 2, 2L -> 1, 3L -> 3))
    assert(p.tick(spark) === 0L)
  }

  test("an interrupted tick waits for its stages, commits nothing, and fails") {
    val dir = tmp("interrupt")
    val feed = new Feed
    val hold = new AtomicBoolean(false)
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val p = pipeline(feed, dir, beforeBuild = () => if (hold.get()) {
      entered.countDown()
      release.await()
    })
    assert(p.tick(spark) === 2L)
    val wm1 = p.currentWatermark(spark)
    feed.secondBatch()
    hold.set(true)
    val before = files(dir)
    val thrown = new AtomicReference[Throwable]()
    val ticker = new Thread(() => try { p.tick(spark); () } catch { case e: Throwable => thrown.set(e) })
    ticker.start()
    assert(entered.await(60, TimeUnit.SECONDS), "the doc stage never started")
    ticker.interrupt()
    Thread.sleep(300)
    assert(ticker.isAlive, "the tick returned while its doc stage was still running")
    release.countDown()
    ticker.join(60000)
    assert(!ticker.isAlive)
    assert(thrown.get().isInstanceOf[InterruptedException], String.valueOf(thrown.get()))
    assert(files(dir) === before, "an interrupted tick must leave every store and the state untouched")
    assert(p.currentWatermark(spark) === wm1)

    hold.set(false)
    assert(p.tick(spark) === 2L, "the uncommitted batch is re-detected")
    assert(p.currentWatermark(spark) === ts("2024-01-01 00:00:04"))
  }

  test("a staging write that fails leaves no staging behind") {
    val live = s"${tmp("partial")}/store"
    intercept[Exception](graft.sinks.AtomicSwap.stageWith(spark, live) { staging =>
      Seq(1L).toDF("id").write.mode("overwrite").parquet(staging)
      throw new java.io.IOException("disk full")
    })
    assert(!Files.exists(Paths.get(s"$live.staging")))
    assert(!Files.exists(Paths.get(live)))
  }

  test("every job a composed tick starts carries the tick thread's local properties") {
    val dir = tmp("props")
    val feed = new Feed
    val p = pipeline(feed, dir)
    val sc = spark.sparkContext
    val key = "graft.spec.tick"
    def tagged(t: String): Seq[SparkListenerJobStart] = {
      sc.setLocalProperty(key, t)
      try withJobs(p.tick(spark))._2 finally sc.setLocalProperty(key, null)
    }
    // the first tick builds all three stores; the second merges into them
    val first = tagged("first")
    feed.secondBatch()
    val second = tagged("second")
    for ((t, jobs) <- Seq("first" -> first, "second" -> second)) {
      assert(jobs.nonEmpty)
      val untagged = jobs.filter(j => Option(j.properties).map(_.getProperty(key)).orNull != t)
      assert(untagged.isEmpty,
        s"$t tick: ${untagged.size} of ${jobs.size} jobs lost the tick thread's local properties")
    }
  }

  test("the watermark read is one job") {
    val dir = tmp("wm")
    val p = pipeline(new Feed, dir)
    assert(p.tick(spark) === 2L)
    val (wm, jobs) = withJobs(p.currentWatermark(spark))
    assert(wm === ts("2024-01-01 00:00:02"))
    assert(jobs.size === 1, s"currentWatermark ran ${jobs.size} jobs")
  }

  test("the schema a commit seeds is the schema a footer read infers") {
    val dir = tmp("schema")
    val feed = new Feed
    val p = pipeline(feed, dir)
    assert(p.tick(spark) === 2L)
    feed.secondBatch()
    assert(p.tick(spark) === 2L)
    for (store <- Seq("docs", "postings", "vectors", "state")) {
      val path = s"$dir/$store"
      assert(Tables.parquetCached(spark, path).schema === spark.read.parquet(path).schema, store)
    }
    // a stamped store carries non-nullable timestamps in the written frame
    val stamped = s"$dir/stamped"
    val docs = Seq((1L, "a")).toDF("id", "doc")
    graft.streaming.IncrementalDocPipeline.upsertDocs(spark, stamped, docs, stampTimestamps = true)
    graft.streaming.IncrementalDocPipeline.upsertDocs(spark, stamped, docs, stampTimestamps = true)
    assert(Tables.parquetCached(spark, stamped).schema === spark.read.parquet(stamped).schema)
  }

  test("a merge tick infers no store schema from footers") {
    val dir = tmp("footer")
    val feed = new Feed
    val p = pipeline(feed, dir)
    assert(p.tick(spark) === 2L)
    feed.secondBatch()
    val (_, jobs) = withJobs(p.tick(spark))
    // footer inference is a plain RDD job started while the read is built,
    // outside any SQL execution; every other job of a tick is a query's
    val inferring = jobs.filter(j =>
      Option(j.properties).forall(_.getProperty("spark.sql.execution.id") == null))
    assert(inferring.isEmpty,
      s"footer-inference jobs: ${inferring.flatMap(_.stageInfos.map(_.name))}")
  }
}
