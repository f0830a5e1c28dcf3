package graft

import graft.streaming._
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The watermark state contract of [[CdcTick]], run as one table over the
  * four watermarked pipelines: an absent state is a first run (Epoch); a
  * state that exists but cannot be read, or holds no `wm`, fails the tick,
  * names the path and touches nothing; a crash inside the watermark commit
  * leaves a readable watermark the next tick converges from.
  */
class CdcTickSpec extends SparkSpecBase {
  import spark.implicits._

  private val codebook: Seq[Seq[Double]] =
    Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0), Seq(0.0, -1.0))

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  // live change feed (id, text, label, v, modified); each pipeline kind
  // reads its own projection of it
  private final class Feed {
    @volatile var rows = Vector(
      (1L, "alpha beta", 0, Seq(0.9, 0.1), ts("2024-01-01 00:00:01")),
      (2L, "beta gamma", 1, Seq(0.1, 0.9), ts("2024-01-01 00:00:02")))
    def df(s: SparkSession): DataFrame = rows.toDF("id", "text", "label", "v", "modified")
    def secondBatch(): Unit = rows ++= Seq(
      (1L, "delta", 0, Seq(-0.9, 0.1), ts("2024-01-01 00:00:03")),
      (3L, "epsilon", 2, Seq(0.0, -0.8), ts("2024-01-01 00:00:04")))
  }

  private def docBuilder(feed: Feed)(s: SparkSession, ids: DataFrame): DataFrame =
    feed.df(s).join(ids, Seq("id"), "left_semi")
      .groupBy(col("id")).agg(max(struct(col("modified"), col("text"))).as("m"))
      .select(col("id"), upper(col("m.text")).as("doc"))

  private case class Kind(name: String, stores: Seq[String], make: (Feed, String) => CdcTick)

  private val kinds = Seq(
    Kind("doc", Seq("docs"), (f, dir) => new IncrementalDocPipeline(
      docBuilder(f), s => f.df(s).select("id", "modified"), s"$dir/docs", s"$dir/state")),
    Kind("search", Seq("postings"), (f, dir) => new IncrementalSearchPipeline(
      s => f.df(s).select(col("id").as("doc_id"), col("text"), col("modified")),
      s"$dir/postings", s"$dir/state")),
    Kind("vector", Seq("vectors"), (f, dir) => new IncrementalVectorPipeline(
      s => f.df(s).select(col("id").as("vec_id"), col("label"), col("v"), col("modified")),
      codebook, s"$dir/vectors", s"$dir/state")),
    Kind("composed", Seq("docs", "postings", "vectors"), (f, dir) => new ComposedEtlPipeline(
      f.df, docBuilder(f), codebook,
      s"$dir/docs", s"$dir/postings", s"$dir/vectors", s"$dir/state")))

  private def tmp(name: String): String =
    Files.createTempDirectory(s"cdc-$name").toAbsolutePath.toString

  /** Every file under `dir` with its bytes: equal snapshots ⇒ untouched. */
  private def files(dir: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  private def contents(dir: String, k: Kind): Seq[Seq[String]] =
    k.stores.map(st => spark.read.parquet(s"$dir/$st").collect().map(_.toString).toSeq.sorted)

  private def move(from: String, to: String): Unit = Files.move(Paths.get(from), Paths.get(to))

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      Files.copy(p, Paths.get(to).resolve(src.relativize(p).toString))
    } finally walk.close()
  }

  private def rmTree(dir: String): Unit = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete(_: Path))
    finally walk.close()
  }

  private val badStates: Seq[(String, String => Unit)] = Seq(
    "garbage bytes" -> { state =>
      rmTree(state)
      Files.createDirectories(Paths.get(state))
      Files.write(Paths.get(state, "part-00000.parquet"), "not parquet".getBytes("UTF-8"))
    },
    "an empty dir" -> { state =>
      rmTree(state)
      Files.createDirectories(Paths.get(state))
    },
    "a zero-row parquet" -> { state =>
      rmTree(state)
      Seq.empty[java.sql.Timestamp].toDF("wm").write.parquet(state)
    })

  for (k <- kinds) {
    test(s"${k.name}: an absent state loads from Epoch") {
      val dir = tmp(s"${k.name}-absent")
      val p = k.make(new Feed, dir)
      assert(p.currentWatermark(spark) === CdcTick.Epoch)
      assert(p.tick(spark) === 2L)
      assert(p.currentWatermark(spark) === ts("2024-01-01 00:00:02"))
    }

    for ((bad, corrupt) <- badStates)
      test(s"${k.name}: a state holding $bad fails the tick, names the path, touches nothing") {
        val dir = tmp(s"${k.name}-bad")
        val feed = new Feed
        val p = k.make(feed, dir)
        assert(p.tick(spark) === 2L)
        feed.secondBatch()
        corrupt(s"$dir/state")
        val before = files(dir)
        val e = intercept[IllegalStateException](p.tick(spark))
        assert(causeChain(e).contains(s"$dir/state"), causeChain(e))
        assert(files(dir) === before, "a failed tick must leave stores and state untouched")
      }

    test(s"${k.name}: a crash writing the new state (staging without _SUCCESS) keeps the old watermark") {
      val dir = tmp(s"${k.name}-partial")
      val feed = new Feed
      val p = k.make(feed, dir)
      assert(p.tick(spark) === 2L)
      copyTree(s"$dir/state", s"$dir/state-wm1")
      feed.secondBatch()
      assert(p.tick(spark) === 2L)
      val converged = contents(dir, k)
      // the sinks absorbed batch 2, then the commit died mid-write: the
      // live state is still wm1 and the staged wm2 has no job marker
      move(s"$dir/state", s"$dir/state.staging")
      Files.delete(Paths.get(s"$dir/state.staging/_SUCCESS"))
      move(s"$dir/state-wm1", s"$dir/state")
      assert(p.currentWatermark(spark) === ts("2024-01-01 00:00:02"))
      assert(p.tick(spark) === 2L, "the uncommitted batch is re-detected")
      assert(p.currentWatermark(spark) === ts("2024-01-01 00:00:04"))
      assert(contents(dir, k) === converged)
      assert(!Files.exists(Paths.get(s"$dir/state.staging")))
      assert(p.tick(spark) === 0L)
    }

    test(s"${k.name}: a crash between the state renames (live gone, staging complete) converges") {
      val dir = tmp(s"${k.name}-swap")
      val feed = new Feed
      val p = k.make(feed, dir)
      assert(p.tick(spark) === 2L)
      copyTree(s"$dir/state", s"$dir/state-wm1")
      feed.secondBatch()
      assert(p.tick(spark) === 2L)
      val converged = contents(dir, k)
      // the complete wm2 staging is in place and the live wm1 was set aside
      move(s"$dir/state", s"$dir/state.staging")
      move(s"$dir/state-wm1", s"$dir/state.old")
      assert(p.currentWatermark(spark) === ts("2024-01-01 00:00:04"))
      assert(p.tick(spark) === 0L, "a committed batch must not be re-ingested")
      assert(contents(dir, k) === converged)
    }
  }

  test("search: a document rewritten to zero tokens loses every posting") {
    val dir = tmp("search-empty")
    val feed = new Feed
    val p = kinds.find(_.name == "search").get.make(feed, dir)
    assert(p.tick(spark) === 2L)
    feed.rows :+= ((1L, "", 0, Seq(0.9, 0.1), ts("2024-01-01 00:00:05")))
    assert(p.tick(spark) === 1L)
    val docs = IncrementalPostings.load(spark, s"$dir/postings")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(docs === Set(2L))
  }
}
