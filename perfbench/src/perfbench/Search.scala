package perfbench

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** `search`: `cores` closed-loop clients issue the seeded query stream
  * against stores built in setup; nothing writes while they run.
  *
  * After the timed section the check lands one edit — a unique marker token
  * appended to a few docs by atomically replacing `documents` — and serves
  * one query per face that must see it, so a read path of any face that
  * skips the source's version check fails here even though the timed reads
  * never exercise it.
  */
class SearchWorkload(cfg: Config, spark: SparkSession) extends Workload(cfg, spark) {
  val stream: Gen.Stream[Gen.Query] =
    Gen.searchStream(cfg.seed, corpus, math.min(3000, Gen.MaxQueriesPerDoc * cfg.nDocs))
  val edit: Gen.Edit = Gen.edit(cfg.seed, corpus, cfg.docsPerEdit)

  def why: String = "Reads only: time goes to DataFrame construction, Catalyst planning and " +
    "small-job dispatch over prebuilt stores, so any change to the query path shows here."

  def inputs: Map[String, Any] = Map(
    "corpus_digest" -> Gen.corpusDigest(corpus),
    "query_digest" -> stream.digest, "query_props" -> stream.props,
    "edit" -> Map("marker" -> edit.marker, "ids" -> edit.ids))

  @volatile var cur: Gen.Corpus = corpus
  var dir: String = _
  var storeRoot: String = _
  def corpusDir: String = dir
  def storeDirs: Seq[String] = Seq(storeRoot)
  private val cold = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val warm = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val rebuild = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val next = new AtomicInteger(0)
  private var freshMs = Double.NaN

  /** One fixed query per face for setup, over the most frequent words. */
  private lazy val setupQueries: Seq[Gen.Query] = {
    val top = corpus.vocab.take(3)
    Seq(Gen.Query("match", top.take(2).mkString(" ")),
      Gen.Query("fuzzy", Gen.typo(new java.util.SplittableRandom(cfg.seed), top(0))),
      Gen.Query("multifield", s"${top(1)} custommer"),
      Gen.Query("term", id = corpus.docs.head.id),
      Gen.Query("termsagg", k = 20),
      Gen.Query("searchafter", top(0), k = 10, after = 5))
  }

  /** One query per face whose answer changes with the edit. */
  private lazy val editQueries: Seq[Gen.Query] = {
    val typo = edit.marker.patch(2, "", 1)
    Seq(Gen.Query("match", edit.marker),
      Gen.Query("fuzzy", typo),
      Gen.Query("multifield", typo),
      Gen.Query("term", id = edit.ids.head),
      Gen.Query("termsagg", k = corpus.vocab.size + 1),
      Gen.Query("searchafter", edit.marker, k = 10, after = 1))
  }

  /** How the checks' own calls are served (the self test swaps in a
    * stale server).
    */
  protected def serve(q: Gen.Query): Vector[String] = Faces.answer(spark, dir, q)

  private def timedAnswer(q: Gen.Query): (Vector[String], Double) = {
    val s = Clock.nowMs
    val a = serve(q)
    (a, Clock.nowMs - s)
  }

  def setupRound(i: Int): Unit = {
    dir = s"${cfg.work}/corpus-$i"
    storeRoot = s"${cfg.work}/stores-$i"
    spark.conf.set("spark.graft.store.dir", storeRoot)
    Env.copyCorpus(source, dir)
    touchMs = touchTables(dir)
    // every face's first call at once, one client per core, as a service
    // taking traffic on a cold start would see them
    val pool = Executors.newFixedThreadPool(cfg.cores)
    try {
      setupQueries.map(q => q -> pool.submit(() => timedAnswer(q)._2))
        .foreach { case (q, f) => cold(q.face) = f.get() }
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }

  /** Warm medians per face, after the last setup round (untimed). Only the
    * traced run reports the cold and rebuild costs they are subtracted
    * from, so plain runs skip them.
    */
  override def afterSetup(): Unit = if (cfg.trace) setupQueries.foreach { q =>
    warm(q.face) = median((1 to cfg.warmCalls).map(_ => timedAnswer(q)._2))
  }

  def measure(phase: Phase, deadlineMs: Double): Unit = {
    val pool = Executors.newFixedThreadPool(cfg.cores)
    try {
      (1 to cfg.cores).map(_ => pool.submit(new Runnable {
        def run(): Unit = while (phase.claim(deadlineMs, cfg.minOps)) {
          val i = next.getAndIncrement()
          require(i < stream.items.size, "query stream exhausted; generate a longer stream")
          phase.ops.add(runQuery(phase, dir, stream.items(i)))
        }
      })).foreach(_.get())
    } finally {
      pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  /** [[checkServed]] over the timed ops, then [[checkEdit]]. */
  def check(phases: Seq[Phase]): Long = checkServed(phases) + checkEdit()

  /** Failed ops among those served: errors, and every serving of a query
    * whose answer differs from its expected answer over the current corpus.
    */
  def checkServed(phases: Seq[Phase]): Long = {
    val all = phases.flatMap(_.ops.asScala)
    val errors = all.filter(_.error != null)
    errors.take(5).foreach(r => checkErrors.add(s"${r.op} ${r.q.key} failed: ${r.error}"))
    val byQuery = all.filter(_.error == null).groupBy(_.q)
    val want = Faces.expectedAll(spark, dir, cur, byQuery.keys.toSeq)
    val wrong = byQuery.flatMap { case (q, rs) =>
      rs.map(_.answer).distinct.find(_ != want(q.key)).map(g =>
        q -> s"${q.key}: served ${g.take(3)}, expected ${want(q.key).take(3)}")
    }
    wrong.values.take(5).foreach(checkErrors.add)
    errors.size.toLong + wrong.keys.toSeq.map(q => byQuery(q).size.toLong).sum
  }

  /** Land the edit, then probe the match face until it serves the marked
    * docs. The other faces then serve their edit queries all at once, one
    * client per core, as in set-up: each one's first call after the edit,
    * which pays that face's store rebuild. Every answer must equal its
    * expected answer over the edited corpus. Returns failed ops.
    */
  def checkEdit(): Long = {
    val due = Clock.nowMs
    val marked = cur.docs.map(d =>
      if (edit.ids.contains(d.id)) d.copy(text = s"${d.text} ${edit.marker}") else d)
    Env.writeParquetFile(spark, Env.docRows(marked), Env.DocSchema,
      s"$dir/documents.parquet", staging)
    cur = cur.copy(docs = marked)
    checkOps.addAndGet(editQueries.size)
    val (probe, rest) = editQueries.partition(_.face == "match")
    // probe until the marked docs are served or the timeout passes
    var r = timedAnswer(probe.head)
    while (!edit.ids.forall(x => r._1.exists(_.startsWith(s"$x|"))) &&
      Clock.nowMs - due < cfg.probeTimeoutMs) r = timedAnswer(probe.head)
    freshMs = Clock.nowMs - due
    val pool = Executors.newFixedThreadPool(cfg.cores)
    val got = try {
      probe.map(_ -> r) ++ rest.map(q => q -> pool.submit(() => timedAnswer(q))).map {
        case (q, f) => q -> f.get() }
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
    val want = Faces.expectedAll(spark, dir, cur, editQueries)
    got.count { case (q, (answer, ms)) =>
      rebuild(q.face) = ms
      val wrong = answer != want(q.key)
      if (wrong) checkErrors.add(
        s"after edit ${edit.marker}: ${q.key} served ${answer.take(3)}, expected ${want(q.key).take(3)}")
      wrong
    }.toLong
  }

  def layerMetrics(p: Phase): Unit = {
    val ops = p.ops.asScala.toVector.filter(_.error == null)
    val l = p.listener.get
    val jobs = l.jobs.values.asScala.toSeq.groupBy(_.op)
    def constructJobs(r: OpRec): Int =
      jobs.getOrElse(r.op, Seq.empty).count(_.startMs <= r.startMs + r.constructMs + 1.0)
    layers("ops.construct_ms") = median(ops.map(_.constructMs))
    layers("ops.construct_jobs") = mean(ops.map(constructJobs(_).toDouble))
    val fuzzy = ops.filter(r => r.face == "fuzzy" || r.face == "multifield")
    layers("ops.expansion_job_frac") =
      if (fuzzy.isEmpty) 0.0 else fuzzy.count(constructJobs(_) > 0).toDouble / fuzzy.size
    Gen.Faces.foreach { f =>
      layers(s"ops.cold_ms.$f") = cold(f) - warm(f)
      layers(s"ops.rebuild_ms.$f") = rebuild(f) - warm(f)
    }
    layers("ops.fresh_ms") = freshMs
    layers("plans.plan_ms") = median(ops.map(_.planMs))
    layers("spark.action_ms") = median(ops.map(_.actionMs))
    sparkLayers(p, ops.map(r => (Seq(r.op), (r.actionStartMs, r.actionStartMs + r.actionMs))))
    layers("sinks.store_files") = Env.dataFiles(storeRoot)
    layers("sinks.stale_store_dirs") = Env.staleStoreDirs(storeRoot)
  }
}
