package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Benchmark JVM: runs one workload and writes its raw measurements as JSON.
  *
  *   perfbench.Main --workload search|etl --seed N --seconds S
  *                  --trace 0|1 --min-ops N --work DIR --out FILE [--trace-out FILE]
  *
  * `run.py` turns the raw samples into the reported metrics. With
  * `--trace 1` the workload runs one plain phase and then one traced phase
  * of S seconds each; the traced phase supplies the per-layer metrics and
  * the comparison of the two gives the tracing overhead. A phase runs past
  * S seconds until it has at least N ops.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors()
    require(Config.Docs.contains(a("workload")), s"unknown workload ${a("workload")}")
    val cfg = Config(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      a("work"), cores, Config.Docs(a("workload")), minOps = a("min-ops").toInt)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val code =
      try {
        val spark = Env.session(cfg.work, cores)
        val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
        val json = run(cfg, spark, sessionS, a.get("trace-out"))
        Files.write(new File(a("out")).toPath, json.getBytes(StandardCharsets.UTF_8))
        0
      } catch { case t: Throwable => t.printStackTrace(); 1 }
    System.err.flush()
    // local mode starts no other process, and run.py removes the working
    // dir, so Spark's orderly shutdown would only add seconds to every run
    Runtime.getRuntime.halt(code)
  }

  def run(cfg: Config, spark: org.apache.spark.sql.SparkSession, sessionS: Double,
          traceOut: Option[String]): String = {
    val w: Workload = cfg.workload match {
      case "search" => new SearchWorkload(cfg, spark)
      case "etl" => new EtlWorkload(cfg, spark)
    }
    new File(w.staging).mkdirs()
    val prepareStart = Clock.nowMs
    w.prepareInputs()
    val prepareS = (Clock.nowMs - prepareStart) / 1000.0
    // set up several times, each over a fresh corpus copy and store root;
    // the last round's copy is the one measured
    for (i <- 0 until cfg.setupRounds) {
      if (i > 0) {
        Env.delete(new File(w.corpusDir))
        w.storeDirs.foreach(d => Env.delete(new File(d)))
      }
      val s = Clock.nowMs
      w.setupRound(i)
      w.setupRoundsS += (Clock.nowMs - s) / 1000.0
    }
    val warmStart = Clock.nowMs
    w.afterSetup()
    val warmS = (Clock.nowMs - warmStart) / 1000.0
    def phase(name: String, traced: Boolean): Phase = {
      val listener = if (traced) Some(new OpListener) else None
      listener.foreach(spark.sparkContext.addSparkListener)
      val p = new Phase(name, new Tracer(traced), listener)
      System.gc() // start every timed section from a settled heap
      p.startMs = Clock.nowMs
      w.measure(p, p.startMs + cfg.seconds * 1000.0)
      p.endMs = Clock.nowMs
      listener.foreach { l => l.quiesce(); spark.sparkContext.removeSparkListener(l) }
      p
    }
    val phases = Seq(phase("plain", traced = false)) ++
      (if (cfg.trace) Seq(phase("traced", traced = true)) else Seq.empty)
    // end of the workload proper: the checks below are the benchmark's own
    val storeBytes = w.storeDirs.map(Env.bytesUnder).sum
    val peakRssMb = Env.peakRssMb
    val checkStart = Clock.nowMs
    val failed = w.check(phases)
    val checkS = (Clock.nowMs - checkStart) / 1000.0
    val traced = phases.find(_.tracer.enabled)
    traced.foreach { p =>
      Workload.Layers.foreach(n => w.layers(n) = 0.0)
      w.layerMetrics(p)
      w.touchMs.foreach { case (t, ms) => w.layers(s"sources.touch_ms.$t") = ms }
      w.layers("jvm.peak_rss_mb") = peakRssMb
      val self = p.tracer.selfTimes
      val roots = p.tracer.spans.asScala.filter(s => s.parent == 0L &&
        (s.name.startsWith("query.") || s.name == "round")).toSeq
      w.layers("trace.residual_ms_per_op") = w.mean(roots.map(s => self(s.id)))
      traceOut.foreach(f => Files.write(new File(f).toPath,
        p.tracer.json.getBytes(StandardCharsets.UTF_8)))
    }
    val attempted = phases.map(_.ops.size.toLong).sum + w.checkOps.get
    def phaseJson(p: Phase) = Map(
      "lat_ms" -> p.ops.asScala.filter(_.error == null).map(_.wallMs).toSeq,
      "lat_face" -> p.ops.asScala.filter(_.error == null).map(_.face).toSeq,
      "ops" -> p.ops.size, "errors" -> p.ops.asScala.count(_.error != null),
      "ids" -> p.ids.get, "elapsed_s" -> p.elapsedS)
    Json.write(Map(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "seconds" -> cfg.seconds,
      "min_ops" -> cfg.minOps,
      "cores" -> cfg.cores, "trace" -> cfg.trace,
      "attempted" -> attempted, "failed" -> failed,
      "check_errors" -> w.checkErrors.asScala.toSeq,
      "session_s" -> sessionS, "setup_rounds_s" -> w.setupRoundsS.toSeq,
      "phases" -> phases.map(p => p.name -> phaseJson(p)).toMap,
      "prepare_s" -> prepareS, "warm_s" -> warmS, "check_s" -> checkS,
      "store_bytes" -> storeBytes,
      "corpus_bytes" -> w.corpusBytes,
      "peak_rss_mb" -> peakRssMb,
      // a layer a run could not measure is NaN, which JSON spells null
      "layers" -> w.layers.map { case (k, v) => k -> (if (v.isNaN) null else v) }.toMap,
      "why" -> w.why,
      "inputs" -> w.inputs))
  }
}
