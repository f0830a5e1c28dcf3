package graft.streaming

import graft.ops.SearchOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of the postings index — the search-tier face of
  * the reference's whole ETL purpose: Elasticsearch stays queryable because
  * every CDC tick re-indexes the changed documents
  * (/root/reference/etl/main.py:159-177 bulk-indexes per batch). The
  * relational analog: the (token, doc_id, tf) postings relation is a
  * maintained STORE, not a per-query derivation, and each tick merges the
  * dirty documents' recomputed postings into it.
  *
  * Merge rule: drop EVERY posting of a dirty doc_id (a re-written document
  * may have lost tokens — an append-only merge would leave ghosts), then
  * append the recomputed rows. Same anti-join + union + crash-safe
  * [[graft.sinks.AtomicSwap]] staging the document store upsert uses, so
  * delivery is effectively-once: re-processing a batch rewrites the same
  * rows.
  *
  * Scale shape: the anti-join shuffles on doc_id (or broadcasts the dirty
  * set — AQE decides); at warehouse scale the store is token-bucketed and
  * this becomes a MERGE, with searches reading only their terms' buckets.
  * Every search face already takes a postings DataFrame
  * ([[SearchOps.postingsSearch]], [[SearchOps.rankedPostingsSearch]],
  * [[SearchOps.fuzzyIndexedQuery]]) — they run unchanged over the
  * maintained store.
  */
object IncrementalPostings {

  /** Recompute postings for the given (doc_id, text) rows. */
  def postingsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(SearchOps.analyze(col("text"))).as("token"))
      .groupBy("token", "doc_id")
      .agg(count(lit(1)).as("tf"))

  /** Merge the dirty documents' postings into the store at `storePath`.
    * Idempotent per batch; crash-safe via the staged rename swap.
    */
  def upsert(spark: SparkSession, storePath: String, dirtyDocs: DataFrame): Unit =
    stage(spark, storePath, dirtyDocs).commit()

  /** [[upsert]]'s Spark half: the merge written to staging. */
  def stage(spark: SparkSession, storePath: String,
            dirtyDocs: DataFrame): graft.sinks.AtomicSwap.Staged =
    graft.sinks.AtomicSwap.stageUpsertByKey(spark, storePath, postingsOf(dirtyDocs),
      dirtyDocs.select(col("doc_id")), "doc_id")

  /** The maintained store as a postings DataFrame for the search faces.
    * Schema-cached read: (token, doc_id, tf) is the store's contract, so
    * repeat queries skip the footer-inference job (ticks rewrite content,
    * never the schema).
    */
  def load(spark: SparkSession, storePath: String): DataFrame = {
    graft.sinks.AtomicSwap.recover(spark, storePath)
    graft.Tables.parquetCached(spark, storePath)
  }
}

/** The watermark-driven face of [[IncrementalPostings]]: a one-store
  * [[CdcTick]] that re-indexes each dirty document's LATEST text. With it,
  * `ReferenceEtl`'s document rebuilds and the search index share one
  * operational model: poll, prune to dirty, rebuild, swap.
  */
class IncrementalSearchPipeline(
    changes: SparkSession => DataFrame, // (doc_id, text, modified)
    storePath: String,
    statePath: String) extends CdcTick(changes, "doc_id", statePath) {

  protected def sinks(spark: SparkSession, batch: CdcTick.Batch): Unit =
    IncrementalPostings.upsert(spark, storePath, batch.latest)
}
