package graft.streaming

import graft.sinks.{AtomicSwap, IngestDefaults}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

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

  /** The default deliverer: nothing is wired, nothing is sent. */
  val NoDeliver: (SparkSession, DataFrame) => Unit = (_, _) => ()

  /** Idempotent by-id upsert: replace existing versions of the incoming ids,
    * keep everything else. At warehouse scale this is a MERGE / partition
    * overwrite; the read-filter-rewrite here is the same semantics for a
    * plain-parquet store. Shared by the per-store pipeline above and the
    * composed tick ([[ComposedEtlPipeline]]), so both commit through one
    * code path: [[graft.sinks.AtomicSwap.stageUpsertByKey]], whose staged
    * swap recovers a crash between its two renames before reading.
    */
  def upsertDocs(spark: SparkSession, storePath: String, docs: DataFrame,
                 stampTimestamps: Boolean = false): Unit =
    stageDocs(spark, storePath, docs, stampTimestamps).commit()

  /** [[upsertDocs]]'s Spark half: the merge written to staging. */
  def stageDocs(spark: SparkSession, storePath: String, docs: DataFrame,
                stampTimestamps: Boolean = false): AtomicSwap.Staged = {
    // F16 (models.py:9-17): auto_now_add/auto_now stamped at the sink — the
    // created-preserving join keys on the same id the merge shuffles on
    val stamped =
      if (!stampTimestamps) docs
      else {
        AtomicSwap.recover(spark, storePath)
        if (AtomicSwap.fs(spark, storePath).exists(new org.apache.hadoop.fs.Path(storePath)))
          IngestDefaults.stampUpsert(docs, graft.Tables.parquetCached(spark, storePath))
        else IngestDefaults.stampInsert(docs)
      }
    // the merge reads incoming TWICE (anti-join keys + union), so it caches
    // for the write — unless the caller already persisted it: cache() would
    // alias that persist and the unpersist below would evict it
    val callerCached = stamped.storageLevel != StorageLevel.NONE
    val incoming = if (callerCached) stamped else stamped.cache()
    try AtomicSwap.stageUpsertByKey(spark, storePath, incoming, incoming.select("id"), "id")
    finally if (!callerCached) incoming.unpersist()
  }
}
