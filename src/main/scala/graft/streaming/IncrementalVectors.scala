package graft.streaming

import graft.sinks.AtomicSwap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of the cell-partitioned IVF vector store — the
  * embedding-tier twin of [[IncrementalPostings]]: a production corpus
  * re-embeds documents continuously (new docs, re-crawls, encoder
  * upgrades), and the ANN index must absorb those changes without
  * re-writing the corpus. The reference's ETL keeps Elasticsearch fresh by
  * re-indexing changed rows per tick (/root/reference/etl/main.py:159-177);
  * this is the same contract for the vector index
  * [[graft.ops.SimilarityOps.annIvfServed]] probes.
  *
  * Merge rule (ghost-safe, like the postings merge): a re-embedded vector
  * may move to a DIFFERENT cell, so every row of a dirty vec_id is dropped
  * — from its OLD cell — before the recomputed assignment is appended.
  *
  * The scale-critical part is WHAT gets rewritten: only the AFFECTED cells
  * (old cells of the dirty ids ∪ cells the fresh assignments land in, both
  * bounded by nlist), never the whole store. A tick of 1k dirty vectors
  * against a 10B-vector store touches ≤ 2k cell partitions' worth of data,
  * not 10B rows — the difference between a MERGE and a rebuild. The
  * unaffected cells' files are not opened, not rewritten, not even listed
  * by the write job (ScaleLayoutSpec pins byte-identical files).
  *
  * Commit protocol (per-partition staged swap): the merged affected cells
  * are written in ONE job to a HIDDEN `.staging` dir under the store root
  * (dot-prefixed ⇒ invisible to Spark's file listing, so a reader never
  * sees a half-written tick), proven complete by parquet's job-level
  * `_SUCCESS` marker, then each staged `cell=N` dir is renamed into place
  * (live dir set aside under hidden `.old` first). A crash anywhere is
  * absorbed: before the marker exists the staging is garbage and the next
  * tick overwrites it; after the marker, [[recoverCells]] — run by every
  * [[load]] and [[upsert]] — rolls the commit FORWARD rename by rename
  * (each cell is either old-complete or new-complete at every instant;
  * re-delivery of the same tick converges to the same bytes). This is the
  * plain-parquet analog of a table format's partition-level commit.
  */
object IncrementalVectors {

  /** Cell assignment for (vec_id, label, v) rows under an nlist-entry
    * codebook (index = cell id) — the same native `ivf_assign` every
    * in-line probe uses, so maintained-store rows are bit-identical to a
    * from-scratch build and the served-ANN oracles replay unchanged.
    */
  def assignedOf(vecs: DataFrame, codebook: Seq[Seq[Double]]): DataFrame =
    vecs.select(col("vec_id"), col("label"), col("v"),
      call_function("ivf_assign", col("v"), typedlit(codebook)).as("cell"))

  /** Merge dirty (vec_id, label, v) rows into the store. Returns the
    * affected cell ids (empty dirty set ⇒ no-op). First call with no
    * store present builds it whole through the same staged-swap discipline
    * [[graft.sinks.AtomicSwap]] gives every other store.
    */
  def upsert(spark: SparkSession, storePath: String, dirtyVecs: DataFrame,
             codebook: Seq[Seq[Double]]): Seq[Int] = {
    recoverCells(spark, storePath)
    val f = AtomicSwap.fs(spark, storePath)
    val root = new org.apache.hadoop.fs.Path(storePath)
    // PERSIST the assigned batch: upsert runs several actions over it (the
    // old-cell collect, the staged write, the first-build cell listing),
    // and each action re-reading a LIVE source (a CDC feed being
    // compacted, a non-deterministic frame) could otherwise see different
    // rows — the staged dirs and the deletion manifest must describe ONE
    // materialization or commit could drop a never-merged live cell.
    val fresh = assignedOf(dirtyVecs, codebook).persist()
    try {
      // empty dirty set is a no-op BEFORE the first-build branch: building
      // a store from zero rows would swap in a data-less parquet dir that
      // poisons every later schema read at this path
      if (fresh.isEmpty) return Seq.empty
      if (!f.exists(root)) {
        AtomicSwap.replaceWith(spark, storePath)(staging =>
          graft.sources.BucketedLayout.writePartitioned(fresh, staging, "cell"))
        return fresh.select("cell").distinct() // cached — no re-assignment job
          .collect().map(_.getInt(0)).toSeq.sorted
      }
      val store = graft.Tables.parquetCached(spark, storePath) // recovered above
      val dirtyIds = fresh.select(col("vec_id")).distinct()
      // both cell sets are ≤ nlist — model-artifact-sized collects, the same
      // class as the codebook itself. The old-cell lookup joins the store on
      // vec_id; at warehouse scale that side is served by a (vec_id → cell)
      // secondary index maintained alongside (vec_id-bucketed), not a scan.
      val oldCells = store.join(dirtyIds, Seq("vec_id"))
        .select("cell").distinct().collect().map(_.getInt(0))
      val newCells = fresh.select("cell").distinct().collect().map(_.getInt(0))
      val affected = (oldCells ++ newCells).distinct.sorted.toSeq
      if (affected.isEmpty) return affected
      // merged content of ONLY the affected cells: partition pruning keeps
      // the read to those cells' files; unaffected cells are untouched
      val merged = store
        .filter(col("cell").isin(affected: _*))
        .join(dirtyIds, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("label"), col("v"), col("cell"))
        .unionByName(fresh)
      val staging = new org.apache.hadoop.fs.Path(root, ".staging")
      f.delete(staging, true)
      // fresh commit starts clean: recoverCells above finished any prior
      // commit, so a surviving .old is stale debris — and commitStaged reads
      // "aside exists" as THIS commit's already-swapped evidence, so stale
      // asides must not leak into that judgment
      f.delete(new org.apache.hadoop.fs.Path(root, ".old"), true)
      graft.sinks.Retry.withBackoff() {
        graft.sources.BucketedLayout.writePartitioned(merged, staging.toString, "cell")
      }
      // the AFFECTED manifest is the commit's completeness marker, written
      // AFTER the parquet job, and records KEEP and DROP as SEPARATE sets:
      // keep = the staged dirs actually written (ground truth from a
      // listing, immune to plan re-execution drift); drop = planned
      // affected cells the merge EMPTIED (their only vectors moved away —
      // parquet's partitionBy writes nothing for an empty partition, so
      // without the drop list the ghost dir would survive). The split is
      // crash-critical, not cosmetic: a KEEP cell whose staged dir is gone
      // on replay was already swapped by a prior pass of the commit loop —
      // conflating it with "emptied" (as a single merged list did before
      // r10) made replay DELETE a freshly created cell that had no prior
      // live dir to leave an aside behind. A crash before this write
      // leaves staging without the marker ⇒ discarded; after ⇒ rolled
      // forward, drops included.
      val stagedCells = f.listStatus(staging).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("cell="))
        .map(_.stripPrefix("cell=").toInt)
      val keep = stagedCells.distinct.sorted
      val drop = affected.filterNot(keep.toSet).sorted
      val manifest =
        keep.map(c => s"keep:$c") ++ drop.map(c => s"drop:$c")
      val out = f.create(new org.apache.hadoop.fs.Path(staging, AffectedMarker), true)
      out.write(manifest.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
      commitStaged(spark, storePath)
      affected
    } finally fresh.unpersist()
  }

  // v2 marker NAME: the manifest format changed in r10 (merged int list →
  // keep:/drop: prefixed sets). Parsing a surviving OLD-format staging
  // under the new parser would yield empty keep/drop and delete the staged
  // cells without swapping them in (r10 ADVICE) — so the format change
  // rides a marker RENAME: a legacy `_AFFECTED` staging has no v2 marker,
  // recoverCells treats it as incomplete and discards it, and the next
  // tick re-merges the batch off the still-uncommitted watermark (the
  // sink-before-watermark ordering makes any discarded commit re-runnable;
  // redelivery idempotence absorbs the replay).
  private val AffectedMarker = "_AFFECTED2"

  /** Pre-r10 marker name — recognized ONLY to drive crash recovery of a
    * store last written by an old binary (see [[recoverCells]]); the v2
    * parser never reads its content.
    */
  private val LegacyAffectedMarker = "_AFFECTED"

  /** Roll a completed `.staging` commit forward and clear debris — safe to
    * call at any time; every [[load]]/[[upsert]] does.
    */
  def recoverCells(spark: SparkSession, storePath: String): Unit = {
    AtomicSwap.recover(spark, storePath) // whole-store first build
    val f = AtomicSwap.fs(spark, storePath)
    val root = new org.apache.hadoop.fs.Path(storePath)
    val staging = new org.apache.hadoop.fs.Path(root, ".staging")
    if (!f.exists(staging)) return
    if (f.exists(new org.apache.hadoop.fs.Path(staging, AffectedMarker)))
      commitStaged(spark, storePath) // marker ⇒ write completed: roll FORWARD
    else {
      // A LEGACY-binary crash mid-commit may have set live cells aside
      // under .old without completing their swap — live dir missing, the
      // only surviving complete copy in the aside (the staged dir of an
      // unfinished commit holds merged content we choose not to trust
      // without its manifest format). Restore those asides BEFORE
      // discarding the staging: deleting .staging and then .old (the
      // pre-r12 behavior) permanently lost the affected cells' NON-dirty
      // rows, because the re-merge off the un-advanced watermark replays
      // only dirty rows (r11 ADVICE). Asides whose live dir exists are
      // stale pre-commit copies — left for the normal .old cleanup.
      if (f.exists(new org.apache.hadoop.fs.Path(staging, LegacyAffectedMarker))) {
        val oldRoot = new org.apache.hadoop.fs.Path(root, ".old")
        if (f.exists(oldRoot))
          f.listStatus(oldRoot).filter(_.isDirectory).map(_.getPath)
            .filter(_.getName.startsWith("cell="))
            .foreach { aside =>
              val live = new org.apache.hadoop.fs.Path(root, aside.getName)
              if (!f.exists(live)) AtomicSwap.mustRename(f, aside, live)
            }
      }
      f.delete(staging, true) // partial write: next tick rewrites it
    }
  }

  /** The rename dance, driven by the AFFECTED manifest's two sets: a KEEP
    * cell gets its staged dir moved in (live set aside under hidden .old
    * first); a DROP cell — the merge emptied it — gets its live dir
    * deleted. Idempotent under replay: a KEEP cell whose staged dir is
    * gone was swapped by a prior pass and is left alone (the manifest, not
    * filesystem forensics, says it was never "emptied" — the pre-r10
    * aside-existence heuristic got this wrong for a cell with no prior
    * live dir and destroyed it); a DROP cell's delete is naturally
    * re-runnable.
    */
  private def commitStaged(spark: SparkSession, storePath: String): Unit = {
    val f = AtomicSwap.fs(spark, storePath)
    val root = new org.apache.hadoop.fs.Path(storePath)
    val staging = new org.apache.hadoop.fs.Path(root, ".staging")
    val oldRoot = new org.apache.hadoop.fs.Path(root, ".old")
    f.mkdirs(oldRoot)
    val (keep, drop) = {
      val in = f.open(new org.apache.hadoop.fs.Path(staging, AffectedMarker))
      val s = new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      in.close()
      val lines = s.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      (lines.collect { case l if l.startsWith("keep:") => l.stripPrefix("keep:").toInt },
        lines.collect { case l if l.startsWith("drop:") => l.stripPrefix("drop:").toInt })
    }
    keep.foreach { cid =>
      val name = s"cell=$cid"
      val staged = new org.apache.hadoop.fs.Path(staging, name)
      val live = new org.apache.hadoop.fs.Path(root, name)
      val aside = new org.apache.hadoop.fs.Path(oldRoot, name)
      if (f.exists(staged)) {
        f.delete(aside, true)
        if (f.exists(live)) AtomicSwap.mustRename(f, live, aside)
        AtomicSwap.mustRename(f, staged, live)
      } // staged gone ⇒ a prior pass already swapped this cell: no-op
    }
    drop.foreach { cid =>
      f.delete(new org.apache.hadoop.fs.Path(root, s"cell=$cid"), true)
    }
    f.delete(staging, true) // manifest + job marker
    f.delete(oldRoot, true) // best-effort; stale .old dropped next commit
    ()
  }

  /** The maintained store as a DataFrame (partition column `cell`
    * discovered from the layout, schema-cached like every served store).
    */
  def load(spark: SparkSession, storePath: String): DataFrame = {
    recoverCells(spark, storePath)
    graft.Tables.parquetCached(spark, storePath)
  }
}

/** The watermark-driven tick face of [[IncrementalVectors]]: a one-store
  * [[CdcTick]] that merges each dirty vector's LATEST embedding cell-wise.
  */
class IncrementalVectorPipeline(
    changes: SparkSession => DataFrame, // (vec_id, label, v, modified)
    codebook: Seq[Seq[Double]],
    storePath: String,
    statePath: String) extends CdcTick(changes, "vec_id", statePath) {

  protected def sinks(spark: SparkSession, batch: CdcTick.Batch): Unit =
    IncrementalVectors.upsert(spark, storePath, batch.latest, codebook)
}
