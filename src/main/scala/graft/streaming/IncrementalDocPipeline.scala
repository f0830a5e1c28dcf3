package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's ETL tick (etl/main.py:357-385) rebuilt correctly, as a
  * one-store [[CdcTick]]: the dirty ids' FULL documents (not just the
  * changed join rows — SURVEY T4) upserted idempotently by id (T2/T7:
  * at-least-once delivery + idempotent sink = effectively once), then the
  * watermark. `docBuilder` receives the dirty-id DataFrame and
  * left-semi-joins its sources on it, so a million-id backfill is a shuffle
  * (or broadcast — AQE decides), never a driver collect or giant in-list.
  */
class IncrementalDocPipeline(
    docBuilder: (SparkSession, DataFrame) => DataFrame, // dirty-ids DF ("id") → full docs
    changes: SparkSession => DataFrame,                 // (id, modified) change feed
    storePath: String,
    statePath: String,
    stampTimestamps: Boolean = false, // F16: created/modified sink columns
    // the reference's es.bulk delivery boundary, after the store upsert and
    // before the watermark commit (see HttpSinkSpec/IncrementalPipelineSpec)
    deliver: (SparkSession, DataFrame) => Unit = IncrementalDocPipeline.NoDeliver)
    extends CdcTick(changes, "id", statePath) {

  protected def sinks(spark: SparkSession, batch: CdcTick.Batch): Unit =
    docsThenDeliver(spark, batch, docBuilder, storePath, stampTimestamps, deliver)()
}

object IncrementalDocPipeline {

  /** Named no-op delivery sentinel — reference identity tells
    * [[CdcTick.docsThenDeliver]] whether a real deliverer is wired
    * (persist + deliver) or not (single consumer: skip both).
    */
  val NoDeliver: (SparkSession, DataFrame) => Unit = (_, _) => ()

  /** Idempotent by-id upsert: replace existing versions of the incoming ids,
    * keep everything else. At warehouse scale this is a MERGE / partition
    * overwrite; the read-filter-rewrite here is the same semantics for a
    * plain-parquet store. Shared by the per-store pipeline above and the
    * composed tick ([[ComposedEtlPipeline]]), so both commit through one
    * code path.
    *
    * Crash safety: the swap is write-staging → rename-live-aside →
    * rename-staging-in → drop-old. A crash can leave `store.old` and/or
    * `store.staging` behind, but never a missing-or-half-written live store
    * except in the instant between the two renames — and THAT state is
    * recovered on the next call (staging is complete by construction when the
    * live dir is absent, so it is promoted before reading). The previous
    * delete-then-rename left a window where a crash lost the whole store and
    * the next tick silently rebuilt it from the dirty docs alone.
    */
  def upsertDocs(spark: SparkSession, storePath: String, docs: DataFrame,
                 stampTimestamps: Boolean = false,
                 retainCommitted: Boolean = false): DataFrame = {
    val (committed, staged) =
      stageDocs(spark, storePath, docs, stampTimestamps, retainCommitted)
    staged.commit()
    committed
  }

  /** [[upsertDocs]]'s Spark half: the merge written to staging, and the
    * frame its commit will install.
    */
  def stageDocs(spark: SparkSession, storePath: String, docs: DataFrame,
                stampTimestamps: Boolean = false, retainCommitted: Boolean = false)
      : (DataFrame, graft.sinks.AtomicSwap.Staged) = {
    // recover from a crash between AtomicSwap's two renames: staging was
    // complete and the live dir is gone — promote it instead of treating
    // this as first-run
    graft.sinks.AtomicSwap.recover(spark, storePath)
    val live = new org.apache.hadoop.fs.Path(storePath)
    val existing = if (graft.sinks.AtomicSwap.fs(spark, storePath).exists(live))
      Some(graft.Tables.parquetCached(spark, storePath)) else None
    // F16 (models.py:9-17): auto_now_add/auto_now stamped at the sink — the
    // created-preserving join keys on the same id the merge shuffles on
    val stamped =
      if (!stampTimestamps) docs
      else existing match {
        case Some(ex) => graft.sinks.IngestDefaults.stampUpsert(docs, ex)
        case None     => graft.sinks.IngestDefaults.stampInsert(docs)
      }
    // incoming appears TWICE in the merge (anti-join key side + union), so
    // it caches for the write — but ONLY when this call introduced the
    // plan. With stampTimestamps=false `stamped` IS the caller's `docs`:
    // cache() would alias the caller's persist and the unpersist below
    // would evict it BEFORE the caller's delivery stage reads it, silently
    // reintroducing the version-skew hazard the tick's persist exists to
    // prevent (r15 review).
    val callerCached =
      stamped.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val incoming = if (callerCached) stamped else stamped.cache()
    val merged = existing match {
      case Some(ex) =>
        ex.join(incoming.select("id"), Seq("id"), "left_anti")
          .unionByName(incoming)
      case None => incoming
    }
    // staged write (retry/backoff, the rename swap and crash recovery live
    // in AtomicSwap — shared with the compaction utility)
    val staged = graft.sinks.AtomicSwap.stage(spark, merged, storePath)
    // Return the COMMITTED frame so a delivery consumer ships the exact
    // version the store absorbed — with stampTimestamps=true that is the
    // STAMPED frame, not the caller's `docs` (r15 advice: delivering the
    // unstamped frame broke the byte-identical promise). The write above
    // materialized the cache (the union side scans every incoming
    // partition), so with retainCommitted=true reading the returned frame
    // after the swap serves cached blocks and never re-resolves `existing`
    // against the already-swapped store; the caller unpersists it after
    // delivery (only if it is not the caller's own frame).
    if (!callerCached && !retainCommitted) incoming.unpersist()
    (incoming, staged)
  }
}
