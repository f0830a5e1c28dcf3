package graft.streaming

import graft.ops.DocumentOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's FULL tick: three document pipelines per round — movies
  * (fact-keyed), genres and persons (dim-keyed) — each with its own
  * watermark state, all fed by one change stream
  * (etl/main.py:357-385: the forever loop runs movies_data / genres_data /
  * persons_data back to back with separate state keys,
  * STATE_KEY_MOVIES/GENRES/PERSONS at main.py:62-67).
  *
  * Re-expressed on the star schema: one lineitem-level change feed
  * (order_id, part_id, supp_id, modified) fans into three dirty-key
  * streams; each pipeline rebuilds only its dirty documents by semi-join
  * pruning BEFORE aggregation (DocumentOps `only` hook) and upserts
  * idempotently by id. A changed line therefore refreshes the order doc,
  * the part doc, and the supplier doc in the same round — the exact
  * dependency-triggered semantics of the reference's three disjunctive
  * watermark queries (main.py:35,46,57), with its filter-before-group bug
  * fixed (dirty IDS first, then FULL rebuild — SURVEY T4).
  *
  * Scale: each tick is three independent shuffle-side jobs over pruned
  * inputs; states/stores are per-pipeline paths so one pipeline's failure
  * or lag never corrupts another's watermark (same isolation the three
  * state keys give the reference).
  */
class ReferenceEtl(
    dataDir: String,
    workDir: String,
    changes: SparkSession => DataFrame) { // (order_id, part_id, supp_id, modified)

  private def keyed(keyCol: String)(s: SparkSession): DataFrame =
    changes(s).select(col(keyCol).as("id"), col("modified"))

  val movies = new IncrementalDocPipeline(
    docBuilder = (s, ids) => DocumentOps.orderDocsDF(s, dataDir, Some(ids)),
    changes = keyed("order_id"),
    storePath = s"$workDir/movies_store",
    statePath = s"$workDir/movies_state")

  val genres = new IncrementalDocPipeline(
    docBuilder = (s, ids) => DocumentOps.genreDocsDF(s, dataDir, Some(ids)),
    changes = keyed("part_id"),
    storePath = s"$workDir/genres_store",
    statePath = s"$workDir/genres_state")

  val persons = new IncrementalDocPipeline(
    docBuilder = (s, ids) => DocumentOps.personDocsDF(s, dataDir, Some(ids)),
    changes = keyed("supp_id"),
    storePath = s"$workDir/persons_store",
    statePath = s"$workDir/persons_state")

  /** One round: tick all three pipelines (reference order: movies, genres,
    * persons). Returns rebuilt-doc counts per pipeline.
    */
  def tickAll(spark: SparkSession): Map[String, Long] = Map(
    "movies" -> movies.tick(spark),
    "genres" -> genres.tick(spark),
    "persons" -> persons.tick(spark))
}
