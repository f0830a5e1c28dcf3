package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Wall clock shared by spans and listener events: epoch milliseconds with
  * sub-millisecond resolution from the monotonic clock.
  */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6
}

/** One traced interval. `op` tags the request it belongs to; `parent` is
  * the span that caused it (0 for a root).
  */
final case class Span(id: Long, parent: Long, op: String, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder; nothing is written until the run ends. A
  * disabled tracer only times, so plain and traced runs share one code
  * path.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = ids.incrementAndGet()

  def add(id: Long, parent: Long, op: String, name: String,
          startMs: Double, endMs: Double): Unit =
    if (enabled) spans.add(Span(id, parent, op, name, startMs, endMs))

  /** Time `body` as a child span of `parent`; returns its result and
    * (start, end).
    */
  def timed[A](parent: Long, op: String, name: String)(body: => A): (A, Double, Double) = {
    val s = Clock.nowMs
    val a = body
    val e = Clock.nowMs
    add(newId(), parent, op, name, s, e)
    (a, s, e)
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its children's union covers.
    */
  def selfTimes: Map[Long, Double] = {
    val all = spans.asScala.toVector
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Tracer.unionMs(kids.getOrElse(s.id, Vector.empty)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
      s.id -> (s.durMs - covered)
    }.toMap
  }

  def json: String = {
    val self = selfTimes
    Json.write(spans.asScala.toVector.sortBy(_.startMs).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> self(s.id))
    })
  }
}

object Tracer {
  /** Total length covered by a set of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Spark listener that attributes jobs, stages and task metrics to the op
  * that started them. Ops are tagged by the [[OpListener.Tag]] local
  * property, set on the client thread around each op.
  */
final class OpListener extends SparkListener {
  import OpListener.{Agg, Job}

  val perOp = new ConcurrentHashMap[String, Agg]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val events = new LongAdder

  private def agg(op: String) = perOp.computeIfAbsent(op, _ => new Agg)

  override def onJobStart(ev: SparkListenerJobStart): Unit = {
    events.increment()
    val op = Option(ev.properties).flatMap(p => Option(p.getProperty(OpListener.Tag))).getOrElse("untagged")
    jobs.put(ev.jobId, Job(op, ev.time.toDouble, Double.NaN))
    ev.stageIds.foreach(s => stageOp.put(s, op))
    agg(op).jobs.increment()
  }
  override def onJobEnd(ev: SparkListenerJobEnd): Unit = {
    events.increment()
    Option(jobs.get(ev.jobId)).foreach(_.endMs = ev.time.toDouble)
  }
  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
    events.increment()
    agg(stageOp.getOrDefault(ev.stageInfo.stageId, "untagged")).stages.increment()
  }
  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
    events.increment()
    val a = agg(stageOp.getOrDefault(ev.stageId, "untagged"))
    a.tasks.increment()
    val m = ev.taskMetrics
    if (m != null) {
      a.cpuNs.add(m.executorCpuTime); a.runMs.add(m.executorRunTime); a.gcMs.add(m.jvmGCTime)
      a.shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      a.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Wait until the asynchronous listener bus has stopped delivering. */
  def quiesce(): Unit = {
    var prev = -1L
    var spins = 0
    while (spins < 200) {
      Thread.sleep(25)
      val cur = events.sum()
      if (cur == prev) return
      prev = cur
      spins += 1
    }
  }
}

object OpListener {
  final class Agg {
    val jobs, stages, tasks, cpuNs, runMs, gcMs, shuffleBytes, spillBytes = new LongAdder
  }
  final case class Job(op: String, startMs: Double, var endMs: Double)

  val Tag = "perfbench.op"
  def tagged[A](sc: SparkContext, op: String)(body: => A): A = {
    sc.setLocalProperty(Tag, op)
    try body finally sc.setLocalProperty(Tag, null)
  }
}

/** JSON for the result and trace artifacts. */
object Json {
  def write(v: AnyRef): String = org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)
}
