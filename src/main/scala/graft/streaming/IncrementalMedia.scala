package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC maintenance for the served media store — the [[IncrementalPostings]]
  * discipline applied to payload bytes: when documents change, ONLY their
  * payloads are re-encoded and merged (anti-join the dirty ids out of the
  * store, union the freshly-encoded rows, staged-rename swap). This closes
  * the operational gap between the media tier and the postings/vector
  * stores: without it a corpus change meant re-encoding the WHOLE media
  * store (the version-keyed path rebuild), which at 100 TB of payload is
  * days of codec work for a one-document edit.
  *
  * The caller supplies the freshly-encoded dirty rows (doc_id, payload,
  * media_type) — typically a `*MediaTable` face filtered to the dirty ids,
  * so the encode cost is O(dirty) by construction: synthesis/encode runs
  * inside the filtered map, never on clean rows.
  *
  * Idempotent per batch (re-merging the same rows yields a byte-identical
  * store — the crash-between-sink-and-commit re-merge is absorbed), crash-
  * safe via [[graft.sinks.AtomicSwap]]'s staged rename.
  */
object IncrementalMedia {

  /** Merge freshly-encoded dirty payloads into the store at `storePath`. */
  def upsert(spark: SparkSession, storePath: String, fresh: DataFrame): Unit =
    graft.sinks.AtomicSwap.upsertByKey(spark, storePath, fresh,
      fresh.select(col("doc_id")), "doc_id")

  /** The maintained store for the decode faces (schema-cached read). */
  def load(spark: SparkSession, storePath: String): DataFrame = {
    graft.sinks.AtomicSwap.recover(spark, storePath)
    graft.Tables.parquetCached(spark, storePath)
  }
}
