package perfbench

import java.io.File
import graft.Tables
import graft.streaming.{ComposedEtlPipeline, IncrementalPostings, IncrementalVectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The composed tick with its `afterStage` seam stamping stage ends. */
final class StampedPipeline(changes: SparkSession => DataFrame,
                            builder: (SparkSession, DataFrame) => DataFrame,
                            codebook: Seq[Seq[Double]], base: String)
  extends ComposedEtlPipeline(changes, builder, codebook, s"$base/docs",
    s"$base/postings", s"$base/vectors", s"$base/state") {
  @volatile var stamps: Vector[(String, Double)] = Vector.empty
  override protected def afterStage(stage: String): Unit =
    stamps = stamps :+ (stage -> Clock.nowMs)
}

/** `etl`: one closed-loop writer. Each round lands one seeded change batch
  * as a new parquet file in the feed and ticks the composed pipeline until
  * the committed watermark covers the batch (the measured op).
  */
final class EtlWorkload(cfg: Config, spark: SparkSession) extends Workload(cfg, spark) {
  val batches: Gen.Stream[Gen.Batch] = Gen.etlStream(cfg.seed, corpus, 300)
  val codebook: Seq[Seq[Double]] = Gen.codebook(corpus)
  require(corpus.vecs.size == corpus.docs.size, "every etl id needs an embedding")

  def why: String = "Writes only: time goes to change detection and to the doc, postings and " +
    "vector store rewrites of each tick, so O(dirty) merges and tick refactors show here " +
    "and not on the read workloads."

  def inputs: Map[String, Any] = Map(
    "corpus_digest" -> Gen.corpusDigest(corpus),
    "batch_digest" -> batches.digest, "batch_props" -> batches.props)

  var dir: String = _
  var base: String = _
  var pipeline: StampedPipeline = _
  def corpusDir: String = dir
  def feedDir: String = s"$base/feed"
  def storeDirs: Seq[String] = Seq(s"$base/docs", s"$base/postings", s"$base/vectors",
    s"$base/state", feedDir)
  private def stores = Seq(s"$base/docs", s"$base/postings", s"$base/vectors")
  private var nextRound = 0

  import EtlWorkload.{Round, Tick}
  private val ticks = new java.util.concurrent.ConcurrentLinkedQueue[Tick]()
  private val rounds = new java.util.concurrent.ConcurrentLinkedQueue[Round]()

  private def feed(s: SparkSession): DataFrame =
    s.read.schema(Env.FeedSchema).parquet(feedDir)

  /** Latest feed row per id: max by (modified, payload). */
  private def latest(s: SparkSession): DataFrame = feed(s)
    .groupBy(col("id"))
    .agg(max(struct(col("modified"), col("text"), col("label"), col("v"))).as("m"))
    .select(col("id"), col("m.text").as("text"), col("m.label").as("label"), col("m.v").as("v"))

  /** Doc builder: each dirty id's latest text with its catalog fields. */
  private def build(s: SparkSession, ids: DataFrame): DataFrame =
    latest(s).join(ids, Seq("id"), "left_semi").select(col("id"), col("text"))
      .join(Tables.documents(s, dir).select(col("doc_id").as("id"), col("lang"), col("source")),
        Seq("id"))

  def setupRound(i: Int): Unit = {
    dir = s"${cfg.work}/corpus-$i"
    base = s"${cfg.work}/etl-$i"
    Env.copyCorpus(source, dir)
    touchMs = touchTables(dir)
    new File(feedDir).mkdirs()
    java.nio.file.Files.copy(new File(s"$source/feed-initial.parquet").toPath,
      new File(s"$feedDir/initial.parquet").toPath)
    pipeline = new StampedPipeline(feed, build, codebook, base)
    val loaded = pipeline.runUntilCaughtUp(spark)
    require(loaded == corpus.docs.size, s"initial load absorbed $loaded of ${corpus.docs.size} ids")
  }

  /** The feed's first file: every corpus row, stamped before any batch. */
  override def prepareInputs(): Unit = {
    super.prepareInputs()
    Env.writeParquetFile(spark, Env.feedRows(corpus.docs.map { d =>
      Gen.ChangeRow(d.id, d.text, corpus.vecs(d.id.toInt).label,
        corpus.vecs(d.id.toInt).v.map(_.toDouble), Gen.BaseMicros + d.id)
    }), Env.FeedSchema, s"$source/feed-initial.parquet", staging)
  }

  private def tick(phase: Phase, parent: Long, tag: String): Long = {
    pipeline.stamps = Vector.empty
    val s = Clock.nowMs
    val n = OpListener.tagged(sc, tag)(pipeline.tick(spark))
    val e = Clock.nowMs
    phase.tracer.add(phase.tracer.newId(), parent, tag, if (n > 0) "tick" else "tick.empty", s, e)
    ticks.add(Tick(tag, s, e, pipeline.stamps, n))
    n
  }

  /** Set-up only ever loads empty stores. Untimed rounds here run the
    * incremental merge path first, so the timed rounds do not pay the JIT's
    * first passes over it: the first is 1.5–2x the steady round time, and
    * after one warm round the first timed round was still the slowest in
    * four runs of five.
    */
  override def afterSetup(): Unit = {
    val warm = new Phase("warm", new Tracer(false), None)
    (1 to cfg.warmRounds).foreach(_ => round(warm))
  }

  def measure(phase: Phase, deadlineMs: Double): Unit =
    while (phase.claim(deadlineMs, cfg.minOps)) round(phase)

  /** Land the next batch and tick until the watermark covers it. */
  private def round(phase: Phase): Unit = {
    require(nextRound < batches.items.size, "batch stream exhausted; generate a longer stream")
    val b = batches.items(nextRound)
    nextRound += 1
    val op = nextOp("round")
    val before = if (phase.tracer.enabled) stores.map(Env.listing) else Seq.empty
    OpListener.tagged(sc, s"$op.land") {
      Env.writeParquetFile(spark, Env.feedRows(b.rows), Env.FeedSchema,
        f"$feedDir/batch-${b.round}%05d.parquet", staging)
    }
    val want = Env.microsToTimestamp(b.rows.map(_.modifiedMicros).max)
    val id = phase.tracer.newId()
    val s = Clock.nowMs
    var tags = Vector.empty[String]
    var ids = 0L
    var covered = false
    while (!covered) {
      require(tags.size < 5, s"$op: watermark did not cover the batch after ${tags.size} ticks")
      val tag = s"$op.t${tags.size}"
      tags :+= tag
      ids += tick(phase, id, tag)
      covered = !OpListener.tagged(sc, tag)(pipeline.currentWatermark(spark)).before(want)
    }
    val e = Clock.nowMs
    phase.tracer.add(id, 0L, op, "round", s, e)
    phase.ops.add(OpRec(op, Gen.Query("round", id = b.round), s, e, 0, 0, 0, s, Vector.empty, null))
    phase.ids.addAndGet(ids)
    val written =
      if (!phase.tracer.enabled) 0L
      else stores.zip(before).map { case (st, old) =>
        Env.listing(st).filter { case (k, v) => !old.get(k).contains(v) }.values.map(_._1).sum
      }.sum
    val payload = b.rows.map(r => r.text.getBytes("UTF-8").length + 8L * r.v.length + 8 + 4 + 8).sum
    rounds.add(Round(op, tags, s, e, ids, written, payload))
  }

  /** The final docs, postings and vector stores, and the watermark, must
    * equal a from-scratch derivation of the feed's latest row per id.
    */
  def check(phases: Seq[Phase]): Long = {
    val attempted = phases.map(_.ops.size).sum.toLong
    val problems = EtlCheck.verify(spark, latest(spark), build(spark, latest(spark).select("id")),
      codebook, base, feed(spark).agg(max("modified")).head().getTimestamp(0),
      pipeline.currentWatermark(spark))
    problems.foreach(checkErrors.add)
    if (problems.isEmpty) 0L else attempted
  }

  def layerMetrics(p: Phase): Unit = {
    val rs = rounds.asScala.toVector.filter(r => r.startMs >= p.startMs && r.endMs <= p.endMs)
    val tagSet = rs.flatMap(_.tickTags).toSet
    val ts = ticks.asScala.toVector.filter(t => tagSet(t.tag))
    val useful = ts.filter(_.ids > 0)
    def stage(t: Tick, name: String): Double = t.stamps.find(_._1 == name).map(_._2).getOrElse(Double.NaN)
    def med(f: Tick => Double) = median(useful.map(f).filterNot(_.isNaN))
    layers("streaming.docs_ms") = med(t => stage(t, "docs") - t.startMs)
    layers("streaming.postings_ms") = med(t => stage(t, "postings") - stage(t, "docs"))
    layers("streaming.vectors_ms") = med(t => stage(t, "vectors") - stage(t, "postings"))
    layers("streaming.commit_ms") = med(t => t.endMs - stage(t, "vectors"))
    val l = p.listener.get
    layers("streaming.jobs_per_tick") =
      mean(ts.map(t => Option(l.perOp.get(t.tag)).map(_.jobs.sum().toDouble).getOrElse(0.0)))
    layers("streaming.ids_per_tick") = mean(useful.map(_.ids.toDouble))
    layers("streaming.useful_tick_frac") = if (ts.isEmpty) 0.0 else useful.size.toDouble / ts.size
    layers("streaming.ids_per_s") = if (p.elapsedS <= 0) 0.0 else p.ids.get / p.elapsedS
    layers("sinks.bytes_written_per_tick") =
      if (useful.isEmpty) 0.0 else rs.map(_.written).sum.toDouble / useful.size
    layers("sinks.rewrite_amp") = rs.map(_.written).sum.toDouble / math.max(1L, rs.map(_.payload).sum)
    layers("sinks.store_files") = stores.map(Env.dataFiles).sum
    layers("sinks.stale_store_dirs") = 0.0
    layers("sources.feed_files") = Env.dataFiles(feedDir)
    sparkLayers(p, rs.map(r => (r.tickTags, (r.startMs, r.endMs))))
  }
}

object EtlWorkload {
  final case class Tick(tag: String, startMs: Double, endMs: Double,
                        stamps: Vector[(String, Double)], ids: Long)
  final case class Round(op: String, tickTags: Seq[String], startMs: Double,
                         endMs: Double, ids: Long, written: Long, payload: Long)
}

/** The etl output check, separate so the self test can feed it a wrong
  * store.
  */
object EtlCheck {
  private def diff(name: String, want: DataFrame, got: DataFrame): Option[String] = {
    val missing = want.exceptAll(got).count()
    val extra = got.exceptAll(want).count()
    if (missing == 0 && extra == 0) None
    else Some(s"$name store: $missing expected rows missing, $extra unexpected rows")
  }

  def verify(spark: SparkSession, latest: DataFrame, docs: DataFrame,
             codebook: Seq[Seq[Double]], base: String,
             wantWm: java.sql.Timestamp, gotWm: java.sql.Timestamp): Seq[String] = {
    val docStore = spark.read.parquet(s"$base/docs").select(docs.columns.map(col).toIndexedSeq: _*)
    val postings = IncrementalPostings.postingsOf(
      latest.select(col("id").as("doc_id"), col("text")))
    val vectors = IncrementalVectors.assignedOf(
      latest.select(col("id").as("vec_id"), col("label"), col("v")), codebook)
    val cols = Seq("vec_id", "label", "v", "cell").map(col)
    (diff("docs", docs, docStore) ++
      diff("postings", postings.select("token", "doc_id", "tf"),
        IncrementalPostings.load(spark, s"$base/postings").select("token", "doc_id", "tf")) ++
      diff("vectors", vectors.select(cols: _*),
        IncrementalVectors.load(spark, s"$base/vectors").select(cols: _*)) ++
      (if (wantWm == gotWm) None else Some(s"watermark $gotWm, feed max $wantWm"))).toSeq
  }
}
