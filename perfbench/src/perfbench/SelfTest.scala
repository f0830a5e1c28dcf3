package perfbench

import java.io.File
import graft.streaming.IncrementalVectors
import org.apache.spark.sql.functions._

/** Tests of the benchmark itself (run by `perfbench/tests`):
  *
  *   - every generator is deterministic per seed and differs across seeds;
  *   - a timed section past its deadline runs on to its minimum op count;
  *   - the search check passes the engine's own answers and rejects a
  *     dropped row and a stale answer;
  *   - the etl check passes the pipeline's stores and rejects a dropped id,
  *     a stale vector cell and a wrong watermark.
  *
  *   perfbench.SelfTest --work DIR
  *
  * Exits non-zero on the first failed expectation.
  */
/** A search workload whose checks can be served from a frozen copy of the
  * unedited corpus with its own store root — the way a cache that skips the
  * source's version check would serve.
  */
final class StaleServing(cfg: Config, spark: org.apache.spark.sql.SparkSession)
  extends SearchWorkload(cfg, spark) {
  var stale = false
  override protected def serve(q: Gen.Query): Vector[String] =
    if (!stale) super.serve(q)
    else synchronized { // the store root is session-wide: one stale call at a time
      spark.conf.set("spark.graft.store.dir", s"${cfg.work}/stale-stores")
      try Faces.answer(spark, s"${cfg.work}/stale", q)
      finally spark.conf.set("spark.graft.store.dir", storeRoot)
    }
}

object SelfTest {
  private var failures = 0
  private def expect(cond: Boolean, what: String): Unit = {
    println(s"${if (cond) "ok  " else "FAIL"} $what")
    if (!cond) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val work = args.grouped(2).collect { case Array("--work", v) => v }.toSeq.head
    generators()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Env.session(work, cores)
    try {
      searchCheck(Config("search", 7L, 2, trace = false, s"$work/search", cores, nDocs = 300,
        probeTimeoutMs = 3000L))
      etlCheck(Config("etl", 7L, 2, trace = false, s"$work/etl", cores, nDocs = 300))
    } finally spark.stop()
    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    if (failures > 0) sys.exit(1)
  }

  private def generators(): Unit = {
    val c1 = Gen.corpus(1L, 300)
    expect(Gen.corpusDigest(c1) == Gen.corpusDigest(Gen.corpus(1L, 300)), "corpus is deterministic per seed")
    expect(Gen.corpusDigest(c1) != Gen.corpusDigest(Gen.corpus(2L, 300)), "corpus differs across seeds")
    val q1 = Gen.searchStream(1L, c1, 20 * Gen.BlockSize)
    expect(q1 == Gen.searchStream(1L, c1, 20 * Gen.BlockSize), "query stream is deterministic per seed")
    expect(q1.digest != Gen.searchStream(2L, c1, 20 * Gen.BlockSize).digest, "query stream differs across seeds")
    expect(math.abs(q1.props("repeat_share") - Gen.RepeatShare) < 0.02,
      s"query stream repeat share ${q1.props("repeat_share")} is the fixed ${Gen.RepeatShare}")
    expect(Gen.FaceMix.forall { case (f, m) =>
      math.abs(q1.props(s"face_share.$f") - m.toDouble / Gen.BlockSize) < 1e-9 }, "face mix is fixed")
    val b1 = Gen.etlStream(1L, c1, 40)
    expect(b1.digest == Gen.etlStream(1L, c1, 40).digest, "batch stream is deterministic per seed")
    expect(b1.digest != Gen.etlStream(2L, c1, 40).digest, "batch stream differs across seeds")
    expect(b1.items.sliding(2).forall(ab =>
      ab(0).rows.map(_.modifiedMicros).max < ab(1).rows.map(_.modifiedMicros).min), "batches are stamped in order")
    expect(b1.items.exists(b => b.rows.map(_.id).distinct.size < b.rows.size), "batches carry duplicate ids")
    expect(Gen.edit(1L, c1, 3) == Gen.edit(1L, c1, 3), "edit is deterministic per seed")
    val late = new Phase("claims", new Tracer(false), None)
    expect((1 to 5).map(_ => late.claim(Clock.nowMs - 1.0, 3)) == Seq(true, true, true, false, false),
      "a timed section past its deadline claims ops until it has the minimum, then stops")
    val early = new Phase("claims", new Tracer(false), None)
    expect((1 to 5).forall(_ => early.claim(Clock.nowMs + 60000.0, 0)), "a section claims ops until its deadline")
  }

  private def searchCheck(config: Config): Unit = {
    new File(config.work).mkdirs()
    val session = org.apache.spark.sql.SparkSession.active
    val w = new StaleServing(config, session)
    new File(w.staging).mkdirs()
    w.prepareInputs()
    w.setupRound(0)
    w.afterSetup()
    Env.copyCorpus(w.dir, s"${config.work}/stale")
    val qs = Gen.Faces.map(f => w.stream.items.find(_.face == f).get)
    def phaseWith(answer: Gen.Query => Vector[String]): Phase = {
      val p = new Phase("selftest", new Tracer(false), None)
      qs.foreach(q => p.ops.add(OpRec(q.face, q, 0, 1, 0, 0, 0, 0, answer(q), null)))
      p
    }
    val served = qs.map(q => q -> Faces.answer(session, w.dir, q)).toMap
    expect(qs.forall(q => served(q).nonEmpty), "every face serves rows for its first stream query")
    expect(w.checkServed(Seq(phaseWith(served))) == 0, "search check passes the served answers")
    val dropped = w.checkServed(Seq(phaseWith(q => if (q == qs.head) served(q).tail else served(q))))
    expect(dropped == 1, s"search check rejects a dropped row (failed $dropped)")
    val scored = w.checkServed(Seq(phaseWith(q =>
      if (q.face == "multifield") served(q).map(_.replaceAll("\\|([0-9.]+)$", "|0.5")) else served(q))))
    expect(scored == 1, s"search check rejects a wrong score (failed $scored)")
    w.stale = true
    val staleFailed = w.checkEdit()
    expect(staleFailed > 0, s"edit check rejects a stale store (failed $staleFailed)")
    w.stale = false
    w.checkErrors.clear()
    val freshFailed = w.checkEdit()
    expect(freshFailed == 0, s"edit check passes the engine after a second edit (failed $freshFailed: ${w.checkErrors})")
  }

  private def etlCheck(cfg: Config): Unit = {
    new File(cfg.work).mkdirs()
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    val w = new EtlWorkload(cfg, spark)
    new File(w.staging).mkdirs()
    w.prepareInputs()
    w.setupRound(0)
    val p = new Phase("selftest", new Tracer(false), None)
    w.measure(p, Clock.nowMs + 1.0)
    expect(p.ops.size == 1 && w.check(Seq(p)) == 0, "etl check passes the pipeline's stores")
    def rewrite(path: String, df: org.apache.spark.sql.DataFrame, partitioned: Boolean = false): Unit = {
      val frozen = df.localCheckpoint()
      val wr = frozen.write.mode("overwrite")
      (if (partitioned) wr.partitionBy("cell") else wr).parquet(s"$path.tmp")
      Env.delete(new File(path))
      new File(s"$path.tmp").renameTo(new File(path))
    }
    def rejects(what: String, marker: String): Unit = {
      val failed = w.check(Seq(p))
      expect(failed > 0 && w.checkErrors.toString.contains(marker), s"etl check rejects $what")
      w.checkErrors.clear()
    }
    val docs = s"${w.base}/docs"
    val docsBefore = spark.read.parquet(docs).localCheckpoint()
    rewrite(docs, docsBefore.filter(col("id") =!= 0L))
    rejects("a dropped id", "docs store")
    rewrite(docs, docsBefore)
    val vecs = s"${w.base}/vectors"
    val vecsBefore = IncrementalVectors.load(spark, vecs).localCheckpoint()
    rewrite(vecs, vecsBefore.withColumn("cell",
      when(col("vec_id") === 1L, (col("cell") + 1) % Gen.NList).otherwise(col("cell"))), partitioned = true)
    rejects("a stale vector cell", "vectors store")
    rewrite(vecs, vecsBefore, partitioned = true)
    val state = s"${w.base}/state"
    val wmBefore = spark.read.parquet(state).localCheckpoint()
    rewrite(state, Seq(Env.microsToTimestamp(Gen.BaseMicros)).toDF("wm"))
    rejects("a stale watermark", "watermark")
    rewrite(state, wmBefore)
    expect(w.check(Seq(p)) == 0, "etl check passes again once the stores are restored")
  }
}
