package graft.streaming

import graft.sinks.AtomicSwap
import java.util.concurrent.{ExecutionException, Executors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType, TimestampType}
import scala.util.{Failure, Try}

/** The one CDC tick every watermarked pipeline runs — the reference's poll
  * loop (etl/main.py:159-177,357-385): read the persisted watermark, detect
  * the rows changed since it, hand them to the pipeline's sinks, and commit
  * the new watermark only after every sink has absorbed them.
  *
  *   1. detect: `changes` filtered strictly past the watermark (the
  *      reference's T3 predicate with its equal-timestamp starvation quirk
  *      fixed) and reduced to ONE persisted per-key aggregate, the latest
  *      row of each key ([[CdcTick.Batch]]). The filtered rows themselves
  *      are not persisted: the emptiness check, the new watermark (the max
  *      of the per-key max `modified`), the returned key count (the
  *      aggregate's keys) and every sink read that one cached relation, so
  *      a live feed cannot show different rows to different consumers (a
  *      row with modified <= new_wm appearing between two reads would
  *      otherwise never be merged yet be permanently filtered by the
  *      committed watermark: silent loss). The 1-row summary is the action
  *      that materializes the cache, so the stages start from it built;
  *   2. absorb: [[sinks]] hands every store the batch. Each store write
  *      splits into a STAGE — all its Spark work: the build, the keyed
  *      merge, the write into staging — and a COMMIT — only the
  *      driver-side renames ([[graft.sinks.AtomicSwap.Staged]]). A
  *      multi-store pipeline runs its stages concurrently
  *      ([[stageThenCommit]]: one thread per store, each carrying this
  *      thread's Spark local properties), joins them all, and only then
  *      commits them one by one in a fixed order, calling [[afterStage]]
  *      after each commit;
  *   3. commit ONE watermark, after all sinks, through
  *      [[graft.sinks.AtomicSwap.replace]].
  *
  * Consistency model (the reason the watermark is singular and last): each
  * store's upsert is idempotent and individually crash-safe (staged rename
  * swaps, ghost-safe merges), so a multi-store tick needs no cross-store
  * transaction — a crash between any two commits leaves the watermark
  * unadvanced, the next tick re-detects the SAME dirty batch and re-runs
  * every stage, and the already-updated stores converge to the same bytes
  * while the stale ones catch up. No store is ever half-written (per-store
  * swap discipline) and the watermark never claims a batch any sink has not
  * absorbed (commit ordering): at-least-once delivery into idempotent sinks
  * is effectively once. Overlapping the stages changes none of this: the
  * stages touch only staging, and the commits keep their order, so a crash
  * after any [[afterStage]] leaves the same live stores old or new as a
  * tick that staged them one after another. A failed stage commits
  * nothing: the tick waits for the other stages, discards every staging
  * write, and rethrows the first failure with the rest suppressed; a
  * failure during the commits discards the stagings not yet committed.
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
    * simulating a crash BETWEEN commits — production leaves it a no-op.
    */
  protected def afterStage(stage: String): Unit = ()

  /** Write one detected batch into every store, in commit order. */
  protected def sinks(spark: SparkSession, batch: Batch): Unit

  /** The persisted watermark: ONE job reading the one-row state with its
    * pinned schema, the max taken on the driver (footer inference plus an
    * aggregate cost three jobs, and this runs at least once per tick).
    */
  def currentWatermark(spark: SparkSession): java.sql.Timestamp = {
    AtomicSwap.recover(spark, statePath)
    // existence check first: exception-driven first-run detection would
    // dump an analysis stacktrace into every fresh pipeline's log
    if (!AtomicSwap.fs(spark, statePath).exists(new org.apache.hadoop.fs.Path(statePath)))
      Epoch
    else {
      val rows =
        try spark.read.schema(StateSchema).parquet(statePath).collect()
        catch {
          case e: Exception =>
            throw new IllegalStateException(s"unreadable CDC watermark state at $statePath", e)
        }
      val wms = rows.filterNot(_.isNullAt(0)).map(_.getTimestamp(0))
      if (wms.isEmpty)
        throw new IllegalStateException(s"CDC watermark state at $statePath holds no wm")
      wms.reduce((a, b) => if (b.after(a)) b else a)
    }
  }

  /** One tick. Returns the number of distinct dirty keys absorbed by every
    * sink (0 = caught up, nothing touched).
    */
  def tick(spark: SparkSession): Long = {
    val wm = currentWatermark(spark)
    val batch = new Batch(changes(spark).filter(col("modified") > lit(wm)), key)
    try {
      val head = batch.summary
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

  /** Stage every named store write concurrently, then commit them in the
    * given order, calling [[afterStage]] after each commit. One store
    * stages on this thread; several get one thread each, started through
    * `SQLExecution.withThreadLocalCaptured` so their jobs carry this
    * thread's local properties (job group, scheduler pool, listener
    * tags). If any stage fails, or this thread is interrupted while it
    * waits, the others are waited for, every staging write is discarded (a
    * write that failed has already deleted its own, see
    * [[graft.sinks.AtomicSwap.writeStaging]]), and the first failure is
    * rethrown with the rest suppressed. If a commit or an [[afterStage]]
    * throws, the stores not yet committed are discarded; a store whose
    * commit began is left to its own crash recovery.
    */
  protected final def stageThenCommit(
      spark: SparkSession, stores: Seq[(String, () => AtomicSwap.Staged)]): Unit = {
    val staged = stageAll(spark, stores.map(_._2))
    var begun = 0
    try stores.map(_._1).zip(staged).foreach { case (name, s) =>
      begun += 1
      s.commit()
      afterStage(name)
    } finally staged.drop(begun).foreach(_.discard())
  }

  private def stageAll(spark: SparkSession,
                       stages: Seq[() => AtomicSwap.Staged]): Seq[AtomicSwap.Staged] =
    if (stages.size == 1) Seq(stages.head())
    else {
      val pool = Executors.newFixedThreadPool(stages.size)
      try {
        val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val futures = stages.map(st => SQLExecution.withThreadLocalCaptured(classic, pool)(st()))
        // get() every future before judging any: no stage may still be
        // writing when the tick discards or rethrows — not even when this
        // thread is interrupted, which then fails the tick once all joined
        var interrupted = false
        val results = futures.map { f =>
          var r: Option[Try[AtomicSwap.Staged]] = None
          while (r.isEmpty)
            try r = Some(Try(f.get()).recoverWith {
              case e: ExecutionException if e.getCause != null => Failure(e.getCause)
            })
            catch { case _: InterruptedException => interrupted = true }
          r.get
        }
        val failures = (if (interrupted) Seq(new InterruptedException("tick interrupted while staging"))
                        else Nil) ++ results.collect { case Failure(e) => e }
        if (failures.nonEmpty) {
          results.foreach(_.foreach(_.discard()))
          failures.tail.foreach(failures.head.addSuppressed)
          throw failures.head
        }
        results.map(_.get)
      } finally pool.shutdown()
    }

  /** The doc stage the doc and composed pipelines share: rebuild the dirty
    * keys' FULL documents (dirty ids first, then the whole entity — the
    * reference's filter-before-group bug fixed, SURVEY T4) and stage their
    * upsert alongside the `later` stores' stages, commit docs then the
    * `later` stores, and hand the committed docs to `deliver` (the
    * reference's es.bulk) last before the watermark, so a delivery outage
    * pins the watermark while the stores stay converged.
    *
    * Delivery reads the docs back: the doc store semi-joined on the batch's
    * ids is, by construction, exactly what the store committed (stamped
    * columns included), so no rebuilt frame has to outlive the stage that
    * wrote it. The frame is handed over unbuilt, as `() => DataFrame`: a
    * wired deliverer builds it and pays one doc-store scan; the default
    * [[IncrementalDocPipeline.NoDeliver]] never builds it, so a tick
    * without delivery pays neither the store listing nor the analysis of
    * the semi-join. One edge:
    * a dirty id whose builder yields no doc keeps its stored doc, and that
    * unchanged doc is delivered again — idempotent by `_id`.
    */
  protected final def docsThenDeliver(
      spark: SparkSession, batch: Batch,
      docBuilder: (SparkSession, DataFrame) => DataFrame, storePath: String,
      stampTimestamps: Boolean, deliver: (SparkSession, () => DataFrame) => Unit)
      (later: (String, () => AtomicSwap.Staged)*): Unit = {
    val docStage = () => IncrementalDocPipeline.stageDocs(
      spark, storePath, docBuilder(spark, batch.ids), stampTimestamps)
    stageThenCommit(spark, ("docs" -> docStage) +: later)
    // throws ⇒ watermark stays put
    deliver(spark, () => graft.Tables.parquetCached(spark, storePath)
      .join(batch.ids, Seq("id"), "left_semi"))
    afterStage("deliver")
  }
}

object CdcTick {

  /** The watermark of a pipeline that has never committed. */
  val Epoch: java.sql.Timestamp = java.sql.Timestamp.valueOf("1000-01-01 00:00:00")

  /** The state's pinned schema: reading it infers nothing from footers. */
  private val StateSchema = StructType(Seq(StructField("wm", TimestampType)))

  /** Bound on [[CdcTick.runUntilCaughtUp]]'s ticks. */
  private val MaxTicks = 100

  /** One detected batch: the views sinks read of its ONE persisted
    * aggregate.
    */
  final class Batch private[streaming] (dirty: DataFrame, key: String) {

    private val payload = dirty.columns.filterNot(c => c == key || c == "modified").toSeq

    /** Per key, the max of the (modified, payload…) struct: the latest row
      * of a key changed twice in one batch, with equal-timestamp ties kept
      * deterministic — the strictly-greater analog of the reference's
      * last-row-wins bulk ordering. The only persisted relation of a tick;
      * `dirty` is read once, to build it.
      */
    private val byKey: DataFrame = dirty.groupBy(col(key))
      .agg(max(struct((col("modified") +: payload.map(col)): _*)).as("m"))
      .persist()

    /** (rows of [[byKey]], max `modified`, non-null keys) in one job over
      * the cache — the action that materializes it. Row count 0 is an empty
      * batch; the max is the watermark to commit; the key count is what the
      * tick returns, null keys excluded.
      */
    private[streaming] def summary: org.apache.spark.sql.Row =
      byKey.agg(count(lit(1)), max(col("m").getField("modified")), count(col(key))).head

    /** The LATEST row per key, projected from the cached aggregate — built
      * before a multi-store tick's stages fork, so every store reads the one
      * materialization.
      */
    val latest: DataFrame =
      byKey.select(col(key) +: payload.map(c => col("m").getField(c).as(c)): _*)

    /** The distinct dirty keys, named `key` — [[latest]]'s keys, so a
      * DataFrame end to end (a million-key backfill is a semi-join shuffle,
      * never a driver collect) read from the same cache as every other sink.
      */
    def ids: DataFrame = latest.select(col(key))

    private[streaming] def release(): Unit = { byKey.unpersist(); () }
  }
}
