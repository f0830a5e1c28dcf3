package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One run's settings: the command line plus the fixed input sizes. */
final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, cores: Int, nDocs: Int, probeTimeoutMs: Long = 30000L,
                        minOps: Int = 0) {
  /** Set-up rounds per run; `setup_s` takes their median (here, their
    * mean). Two, not more, keep a plain run of either workload near a minute.
    */
  val setupRounds = 2
  /** Untimed calls per face after set-up (search, traced runs only). */
  val warmCalls = 2
  /** Untimed rounds after set-up (etl). */
  val warmRounds = 2
  val docsPerEdit = 3
}

object Config {
  /** Corpus size per workload: `search` serves the 5,000 docs of the sf0.1
    * `documents` table; `etl` ticks over 2,000 ids, the size of sf0.1's
    * `embeddings` table, whose composed tick takes about 4 s.
    */
  val Docs: Map[String, Int] = Map("search" -> 5000, "etl" -> 2000)
}

/** One measured op as the client saw it. */
final case class OpRec(op: String, q: Gen.Query, startMs: Double, endMs: Double,
                       constructMs: Double, planMs: Double, actionMs: Double, actionStartMs: Double,
                       answer: Vector[String], error: String) {
  def wallMs: Double = endMs - startMs
  def face: String = q.face
}

/** Everything one timed phase produced. */
final class Phase(val name: String, val tracer: Tracer, val listener: Option[OpListener]) {
  val ops = new ConcurrentLinkedQueue[OpRec]()
  @volatile var startMs = 0.0
  @volatile var endMs = 0.0
  val ids = new AtomicLong(0)
  private val claimed = new AtomicInteger(0)
  /** Claims the next op of the timed section: true until the deadline has
    * passed and at least `minOps` ops have been claimed. A host slow enough
    * to miss `minOps` by the deadline gets a longer section, not a tail
    * read at another percentile.
    */
  def claim(deadlineMs: Double, minOps: Int): Boolean =
    claimed.getAndIncrement() < minOps || Clock.nowMs < deadlineMs
  def elapsedS: Double = (endMs - startMs) / 1000.0
}

/** Shared machinery of the workloads. */
abstract class Workload(val cfg: Config, val spark: SparkSession) {
  val corpus: Gen.Corpus = Gen.corpus(cfg.seed, cfg.nDocs)
  val sc = spark.sparkContext
  val checkErrors = new ConcurrentLinkedQueue[String]()
  val staging = s"${cfg.work}/staging"
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val setupRoundsS = scala.collection.mutable.ArrayBuffer.empty[Double]
  /** Ops the checks themselves issue; they count as attempted. */
  val checkOps = new AtomicLong(0)
  private val opSeq = new AtomicInteger(0)
  def why: String
  def inputs: Map[String, Any]

  /** Generated inputs, written once before setup; setup rounds copy them. */
  val source = s"${cfg.work}/source"
  def prepareInputs(): Unit = Env.writeCorpus(spark, corpus, source, staging)

  /** One setup round over a fresh corpus copy and store root. */
  def setupRound(i: Int): Unit
  /** Measured section; claims ops through [[Phase.claim]] until it refuses. */
  def measure(phase: Phase, deadlineMs: Double): Unit
  /** Output checks after all phases; returns failed op count. */
  def check(phases: Seq[Phase]): Long
  /** Untimed work between the last setup round and the timed section. */
  def afterSetup(): Unit = ()
  /** Per-layer metrics from the traced phase. */
  def layerMetrics(p: Phase): Unit
  /** Store and feed dirs the store_amp metric counts. */
  def storeDirs: Seq[String]
  def corpusDir: String

  def nextOp(prefix: String): String = s"$prefix-${opSeq.incrementAndGet()}"

  def corpusBytes: Long =
    Env.CorpusTables.map(t => new File(s"$corpusDir/$t.parquet").length()).sum

  /** Set-up's last `Tables.table(...).count()` per corpus table, in ms. */
  var touchMs = Map.empty[String, Double]
  def touchTables(dir: String): Map[String, Double] = Env.CorpusTables.map { t =>
    val s = Clock.nowMs
    graft.Tables.table(spark, dir, t).count()
    t -> (Clock.nowMs - s)
  }.toMap

  /** Time one served query: construct the DataFrame, force its physical
    * plan, run the action. Jobs it starts are tagged with its op id.
    */
  def runQuery(phase: Phase, dir: String, q: Gen.Query): OpRec = {
    val op = nextOp(q.face)
    val id = phase.tracer.newId()
    val s = Clock.nowMs
    var cMs, pMs, aMs, aStart = 0.0
    val (answer, err) = OpListener.tagged(sc, op) {
      try {
        val (df, cs, ce) = phase.tracer.timed(id, op, "construct")(Faces.construct(spark, dir, q))
        val (_, ps, pe) = phase.tracer.timed(id, op, "plan")(df.queryExecution.executedPlan)
        val (rows, as, ae) = phase.tracer.timed(id, op, "action")(df.collect())
        cMs = ce - cs; pMs = pe - ps; aMs = ae - as; aStart = as
        (Faces.render(rows), null: String)
      } catch { case t: Throwable => (Vector.empty[String], s"${t.getClass.getSimpleName}: ${t.getMessage}") }
    }
    val e = Clock.nowMs
    phase.tracer.add(id, 0L, op, s"query.${q.face}", s, e)
    OpRec(op, q, s, e, cMs, pMs, aMs, aStart, answer, err)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Listener metrics per op. `ops` maps each op to the tags its jobs
    * carry and to its action window (the interval its jobs should fill).
    */
  def sparkLayers(p: Phase, ops: Seq[(Seq[String], (Double, Double))]): Unit = {
    val l = p.listener.get
    val aggs = ops.flatMap(_._1).flatMap(o => Option(l.perOp.get(o)))
    def per(f: OpListener.Agg => Long): Double =
      if (ops.isEmpty) 0.0 else aggs.map(f).sum.toDouble / ops.size
    layers("spark.jobs_per_op") = per(_.jobs.sum())
    layers("spark.stages_per_op") = per(_.stages.sum())
    layers("spark.tasks_per_op") = per(_.tasks.sum())
    layers("spark.task_cpu_ms_per_op") = per(_.cpuNs.sum()) / 1e6
    layers("spark.shuffle_bytes_per_op") = per(_.shuffleBytes.sum())
    layers("spark.gc_ms_per_op") = per(_.gcMs.sum())
    layers("spark.spill_bytes") = l.perOp.values.asScala.map(_.spillBytes.sum()).sum.toDouble
    val runMs = l.perOp.values.asScala.map(_.runMs.sum()).sum.toDouble
    layers("spark.core_busy_frac") =
      if (p.elapsedS <= 0) 0.0 else runMs / (p.elapsedS * 1000.0 * cfg.cores)
    // dispatch: the action's wall minus the union of its jobs' intervals
    val jobsByOp = l.jobs.values.asScala.toSeq.groupBy(_.op)
    layers("spark.dispatch_ms_per_op") = mean(ops.map { case (tags, (s, e)) =>
      val iv = tags.flatMap(t => jobsByOp.getOrElse(t, Seq.empty)).filter(j => !j.endMs.isNaN)
        .map(j => (math.max(j.startMs, s), math.min(j.endMs, e)))
      (e - s) - Tracer.unionMs(iv)
    })
  }
}

object Workload {
  val Layers: Seq[String] = Seq(
    "ops.construct_ms", "ops.construct_jobs", "ops.expansion_job_frac") ++
    Gen.Faces.map(f => s"ops.cold_ms.$f") ++ Gen.Faces.map(f => s"ops.rebuild_ms.$f") ++
    Seq("ops.fresh_ms", "plans.plan_ms", "spark.action_ms", "spark.jobs_per_op", "spark.stages_per_op",
      "spark.tasks_per_op", "spark.dispatch_ms_per_op", "spark.task_cpu_ms_per_op",
      "spark.core_busy_frac", "spark.shuffle_bytes_per_op", "spark.spill_bytes",
      "spark.gc_ms_per_op", "streaming.docs_ms", "streaming.postings_ms",
      "streaming.vectors_ms", "streaming.commit_ms", "streaming.jobs_per_tick",
      "streaming.ids_per_tick", "streaming.useful_tick_frac", "streaming.ids_per_s",
      "sinks.bytes_written_per_tick", "sinks.rewrite_amp", "sinks.store_files",
      "sinks.stale_store_dirs") ++
    Env.CorpusTables.map(t => s"sources.touch_ms.$t") ++
    Seq("sources.feed_files", "jvm.peak_rss_mb", "trace.residual_ms_per_op", "trace.overhead_frac")
}
