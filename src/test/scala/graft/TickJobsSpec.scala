package graft

import graft.streaming.{CdcTick, ComposedEtlPipeline}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The Spark jobs a CDC tick starts over a small batch landed in a parquet
  * change feed (AQE on, as served). Like [[ServedJobsSpec]] this is a
  * ratchet: on a local host each job costs tens of milliseconds whatever
  * its size, so a tick that gains a job here has gained a dispatch round
  * trip on every poll.
  */
class TickJobsSpec extends SparkSpecBase {
  import spark.implicits._

  private val codebook: Seq[Seq[Double]] =
    Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0), Seq(0.0, -1.0))

  private val FeedSchema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType),
    StructField("label", IntegerType), StructField("v", ArrayType(DoubleType)),
    StructField("modified", TimestampType)))

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"tickjobs-$name").toAbsolutePath.toString

  /** Append one batch file of `ids`, stamped at second `sec`, to the feed. */
  private def land(feed: String, sec: Int, ids: Seq[Long]): Unit =
    ids.map(id => (id, s"word$id batch$sec", (id % 3).toInt,
        Seq(math.cos(id + sec), math.sin(id + sec)), f"2024-01-01 00:00:$sec%02d"))
      .toDF("id", "text", "label", "v", "m")
      .select(col("id"), col("text"), col("label"), col("v"), col("m").cast("timestamp").as("modified"))
      .coalesce(1).write.mode(SaveMode.Append).parquet(feed)

  private def feedOf(feed: String)(s: SparkSession): DataFrame =
    s.read.schema(FeedSchema).parquet(feed)

  private final class Detected extends RuntimeException("detected")

  test("detection of a small batch starts at most 2 Spark jobs") {
    val dir = tmp("detect")
    land(s"$dir/feed", 1, Seq(1L, 2L, 3L))
    land(s"$dir/feed", 2, Seq(2L))
    // a tick whose sinks stop it once the batch is detected: with no state
    // yet the watermark read starts no job, so its jobs are detection's
    val p = new CdcTick(feedOf(s"$dir/feed"), "id", s"$dir/state") {
      protected def sinks(spark: SparkSession, batch: CdcTick.Batch): Unit = throw new Detected
    }
    val n = jobsOf { intercept[Detected](p.tick(spark)) }
    info(s"detection: $n jobs")
    assert(n <= 2, s"detection started $n Spark jobs, budget 2")
  }

  /** Most jobs a warm composed tick over a 3-id batch may start: the
    * watermark read and write (2), detection (2), the doc build held on the
    * driver (4) and its merge (2), the postings merge (3) and the vector
    * merge (3). With the threshold at -1 (nothing held) the same tick
    * starts 24, as it did before batches were held.
    */
  private val TickBudget = 16

  test(s"a warm composed tick over a small batch starts at most $TickBudget Spark jobs") {
    val dir = tmp("tick")
    val feed = s"$dir/feed"
    (1L to 20L).map(id => (id, if (id % 2 == 0) "en" else "ru")).toDF("id", "lang")
      .coalesce(1).write.parquet(s"$dir/catalog")
    // the dirty ids' latest text joined with a catalog table, like a doc
    // rebuilt from its source tables
    val builder = (s: SparkSession, ids: DataFrame) =>
      feedOf(feed)(s).groupBy(col("id")).agg(max(struct(col("modified"), col("text"))).as("m"))
        .join(ids, Seq("id"), "left_semi")
        .select(col("id"), col("m.text").as("text"))
        .join(s.read.schema("id BIGINT, lang STRING").parquet(s"$dir/catalog"), Seq("id"))
    val p = new ComposedEtlPipeline(feedOf(feed), builder, codebook,
      s"$dir/docs", s"$dir/postings", s"$dir/vectors", s"$dir/state")
    land(feed, 1, 1L to 20L)
    assert(p.tick(spark) === 20L)
    land(feed, 2, Seq(2L, 5L, 9L))
    assert(p.tick(spark) === 3L) // warm: every store merges once
    land(feed, 3, Seq(5L, 11L, 17L))
    var ids = 0L
    val n = jobsOf { ids = p.tick(spark) }
    assert(ids === 3L)
    info(s"warm composed tick: $n jobs")
    assert(n <= TickBudget, s"a warm composed tick started $n Spark jobs, budget $TickBudget")
  }
}
