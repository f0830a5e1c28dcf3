package graft.streaming

import graft.sinks.AtomicSwap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one CDC tick every watermarked pipeline runs — the reference's poll
  * loop (etl/main.py:159-177,357-385): read the persisted watermark, detect
  * the rows changed since it, hand them to the pipeline's sinks, and commit
  * the new watermark only after every sink has absorbed them.
  *
  *   1. detect: `changes` filtered strictly past the watermark (the
  *      reference's T3 predicate with its equal-timestamp starvation quirk
  *      fixed), persisted ONCE — every sink and the 1-row
  *      (count, max(modified), distinct keys) aggregate read the same
  *      materialization, so a live feed cannot show different rows to
  *      different consumers (a row with modified <= new_wm appearing between
  *      two reads would otherwise never be merged yet be permanently
  *      filtered by the committed watermark: silent loss);
  *   2. absorb: [[sinks]] writes every store in order (a multi-store
  *      pipeline calls [[afterStage]] as each one commits);
  *   3. commit ONE watermark, after all sinks, through
  *      [[graft.sinks.AtomicSwap.replace]].
  *
  * Consistency model (the reason the watermark is singular and last): each
  * store's upsert is idempotent and individually crash-safe (staged rename
  * swaps, ghost-safe merges), so a multi-store tick needs no cross-store
  * transaction — a crash between any two stages leaves the watermark
  * unadvanced, the next tick re-detects the SAME dirty batch and re-runs
  * every stage, and the already-updated stores converge to the same bytes
  * while the stale ones catch up. No store is ever half-written (per-store
  * swap discipline) and the watermark never claims a batch any sink has not
  * absorbed (commit ordering): at-least-once delivery into idempotent sinks
  * is effectively once.
  *
  * State: a single-row parquet table (the analog of etl/json/storage.json);
  * a Structured Streaming deployment would let the checkpoint do this — it
  * stays explicit so batch jobs, the tests and a foreachBatch stream
  * share one code path. An ABSENT state is a first run and reads as [[CdcTick.Epoch]]; a state
  * that exists but cannot be read, or holds no `wm`, fails the tick and
  * names the path — silently restarting from Epoch would re-ingest the whole
  * feed at unbounded cost. The commit goes through the staged swap (reads
  * run [[graft.sinks.AtomicSwap.recover]] first), so a crash mid-commit
  * leaves either the previous or the new watermark readable, never a
  * deleted-then-unwritten state that a loud reader would refuse forever.
  */
abstract class CdcTick(changes: SparkSession => DataFrame, key: String,
                       statePath: String) {
  import CdcTick._

  /** Crash-injection seam: called after each sink stage ("docs",
    * "postings", "vectors", "deliver") commits. A test overrides it to throw,
    * simulating a crash BETWEEN stages — production leaves it a no-op.
    */
  protected def afterStage(stage: String): Unit = ()

  /** Write one detected batch into every store, in commit order. */
  protected def sinks(spark: SparkSession, batch: Batch): Unit

  def currentWatermark(spark: SparkSession): java.sql.Timestamp = {
    AtomicSwap.recover(spark, statePath)
    // existence check first: exception-driven first-run detection would
    // dump an analysis stacktrace into every fresh pipeline's log
    if (!AtomicSwap.fs(spark, statePath).exists(new org.apache.hadoop.fs.Path(statePath)))
      Epoch
    else {
      val r =
        try spark.read.parquet(statePath).agg(max("wm")).head
        catch {
          case e: Exception =>
            throw new IllegalStateException(s"unreadable CDC watermark state at $statePath", e)
        }
      if (r.isNullAt(0))
        throw new IllegalStateException(s"CDC watermark state at $statePath holds no wm")
      r.getTimestamp(0)
    }
  }

  /** One tick. Returns the number of distinct dirty keys absorbed by every
    * sink (0 = caught up, nothing touched).
    */
  def tick(spark: SparkSession): Long = {
    val wm = currentWatermark(spark)
    val batch = new Batch(changes(spark).filter(col("modified") > lit(wm)).persist(), key)
    try {
      val head = batch.dirty.agg(
        count(lit(1)).as("n_changes"),
        max("modified").as("new_wm"),
        countDistinct(key).as("n_ids")).head
      if (head.getLong(0) == 0L) 0L
      else {
        sinks(spark, batch)
        import spark.implicits._
        AtomicSwap.replace(spark, Seq(head.getTimestamp(1)).toDF("wm"), statePath)
        head.getLong(2)
      }
    } finally batch.release()
  }

  /** Run ticks until caught up (the poll loop of batch jobs and tests). */
  def runUntilCaughtUp(spark: SparkSession): Long =
    Iterator.continually(tick(spark)).take(MaxTicks).takeWhile(_ > 0).sum

  /** The doc stage the doc and composed pipelines share: rebuild the dirty
    * keys' FULL documents (dirty ids first, then the whole entity — the
    * reference's filter-before-group bug fixed, SURVEY T4), upsert them, run
    * the `later` sinks, and hand the store-committed frame to `deliver` (the
    * reference's es.bulk) last before the commit, so a delivery outage pins
    * the watermark while the stores stay converged.
    *
    * Persist-when-delivering: with a deliverer wired the rebuilt docs have
    * two consumers, so they persist across both — otherwise the delivery
    * action would re-run the rebuild and could ship a different doc version
    * than the store committed while the watermark still advances. With the
    * [[IncrementalDocPipeline.NoDeliver]] sentinel there is one consumer and
    * the materialization would be pure overhead (+28 % on q_composed_tick).
    */
  protected final def docsThenDeliver(
      spark: SparkSession, batch: Batch,
      docBuilder: (SparkSession, DataFrame) => DataFrame, storePath: String,
      stampTimestamps: Boolean, deliver: (SparkSession, DataFrame) => Unit)
      (later: => Unit): Unit = {
    val delivering = deliver ne IncrementalDocPipeline.NoDeliver
    val built = docBuilder(spark, batch.ids)
    val docs = if (delivering) built.persist() else built
    try {
      // the returned frame is the STORE-COMMITTED version (stamped when
      // stampTimestamps=true) — deliver THAT, never the pre-stamp `docs`
      val committed = IncrementalDocPipeline.upsertDocs(
        spark, storePath, docs, stampTimestamps, retainCommitted = delivering)
      afterStage("docs")
      later
      if (delivering) {
        try deliver(spark, committed) // throws ⇒ watermark stays put
        finally if (committed ne docs) committed.unpersist()
        afterStage("deliver")
      }
    } finally if (delivering) docs.unpersist()
  }
}

object CdcTick {

  /** The watermark of a pipeline that has never committed. */
  val Epoch: java.sql.Timestamp = java.sql.Timestamp.valueOf("1000-01-01 00:00:00")

  /** Bound on [[CdcTick.runUntilCaughtUp]]'s ticks. */
  private val MaxTicks = 100

  /** One detected batch: the persisted dirty rows and the views sinks read. */
  final class Batch private[streaming] (private[streaming] val dirty: DataFrame,
                                       key: String) {

    /** The distinct dirty keys, named `key` — a DataFrame end to end, so a
      * million-key backfill is a semi-join shuffle, never a driver collect.
      */
    def ids: DataFrame = dirty.select(key).distinct()

    private var latestCache: Option[DataFrame] = None

    /** The LATEST row per key: max by the (modified, payload…) struct, so a
      * key changed twice in one batch lands as its last row and
      * equal-timestamp ties stay deterministic — the strictly-greater analog
      * of the reference's last-row-wins bulk ordering. Persisted on first
      * use: a multi-store tick reads it once per store.
      */
    def latest: DataFrame = latestCache.getOrElse {
      val payload = dirty.columns.filterNot(c => c == key || c == "modified").toSeq
      val l = dirty.groupBy(col(key))
        .agg(max(struct((col("modified") +: payload.map(col)): _*)).as("m"))
        .select(col(key) +: payload.map(c => col("m").getField(c).as(c)): _*)
        .persist()
      latestCache = Some(l)
      l
    }

    private[streaming] def release(): Unit = {
      latestCache.foreach(_.unpersist())
      dirty.unpersist()
    }
  }
}
