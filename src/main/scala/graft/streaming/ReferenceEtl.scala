package graft.streaming

import graft.ops.DocumentOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's FULL tick ([[ThreeIndexEtl]]): three document
  * pipelines per round — movies (fact-keyed), genres and persons
  * (dim-keyed) — all fed by one change stream.
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
  * inputs.
  */
class ReferenceEtl(
    dataDir: String,
    workDir: String,
    changes: SparkSession => DataFrame) // (order_id, part_id, supp_id, modified)
    extends ThreeIndexEtl(workDir,
      ((s, ids) => DocumentOps.orderDocsDF(s, dataDir, Some(ids)),
        ReferenceEtl.keyed(changes, "order_id")),
      ((s, ids) => DocumentOps.genreDocsDF(s, dataDir, Some(ids)),
        ReferenceEtl.keyed(changes, "part_id")),
      ((s, ids) => DocumentOps.personDocsDF(s, dataDir, Some(ids)),
        ReferenceEtl.keyed(changes, "supp_id")))

object ReferenceEtl {

  /** One dirty-key stream of the lineitem feed, as an (id, modified) feed. */
  private def keyed(changes: SparkSession => DataFrame, keyCol: String)
                   (s: SparkSession): DataFrame =
    changes(s).select(col(keyCol).as("id"), col("modified"))
}
