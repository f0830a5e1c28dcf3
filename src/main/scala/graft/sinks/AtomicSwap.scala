package graft.sinks

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col

/** Crash-safe whole-directory replacement for plain-parquet stores:
  * write-staging → rename-live-aside → rename-staging-in → drop-old.
  *
  * Crash states and their recovery (all handled by `recover`, which callers
  * run before reading):
  *  - crash during staging write → staging is garbage (no `_SUCCESS` job
  *    marker) → recover ignores it, next write overwrites staging. This
  *    includes the first-run case where no live dir exists yet: a partial
  *    staging (committed task files, no job commit) must NOT be promoted —
  *    recover checks the marker, not mere existence;
  *  - crash between the two renames → live dir absent and staging carries
  *    `_SUCCESS` (the write fully committed before any rename started) →
  *    staging is promoted;
  *  - crash after the swap → a stale `.old` remains → dropped on next swap.
  *
  * This is the same discipline a table format (Iceberg/Delta) gets from
  * metadata commits; for plain parquet the rename pair is the atom.
  * Extracted from IncrementalDocPipeline so compaction and any other
  * rewrite-in-place sink share one audited implementation.
  */
object AtomicSwap {

  /** The parquet codec of every store this engine writes ([[stage]],
    * [[replaceParts]], the vector store's cells, the bucketed postings
    * stores): zstd stores are smaller than Spark's default snappy ones, and
    * a store is read far more often than it is written.
    */
  private[graft] val Codec = "zstd"

  /** Resolve the filesystem FROM the store path, not the default FS: a
    * scheme-qualified store (s3a://bucket/store, hdfs://nn/store) must land
    * its renames on ITS filesystem — `FileSystem.get(conf)` would silently
    * operate on fs.defaultFS and "succeed" against the wrong tree.
    */
  private[graft] def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Hadoop rename reports failure by RETURNING FALSE, not throwing — an
    * unchecked rename can silently leave the old store live (or none at
    * all) while the caller commits its watermark past the lost write.
    * Every swap-critical rename goes through this.
    */
  private[graft] def mustRename(f: org.apache.hadoop.fs.FileSystem,
                                src: org.apache.hadoop.fs.Path,
                                dst: org.apache.hadoop.fs.Path): Unit =
    if (!f.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")

  /** Promote a completed staging dir if a crash left the live dir missing.
    * "Completed" is proven by parquet's `_SUCCESS` job-commit marker — a
    * staging dir without it is a partial write (crash mid-job on a first
    * run) and promoting it would install a silently truncated store.
    */
  def recover(spark: SparkSession, livePath: String): Unit = {
    val f = fs(spark, livePath)
    val dst = new org.apache.hadoop.fs.Path(livePath)
    val staging = new org.apache.hadoop.fs.Path(livePath + ".staging")
    val marker = new org.apache.hadoop.fs.Path(staging, "_SUCCESS")
    if (!f.exists(dst) && f.exists(staging) && f.exists(marker))
      mustRename(f, staging, dst)
    ()
  }

  /** A store rewrite whose Spark work is done: the new content sits in
    * staging and only the driver-side swap is left. Exactly one of
    * [[commit]] or [[discard]] runs; a CDC tick stages every store first
    * and commits them in order only once all staged (see
    * [[graft.streaming.CdcTick]]).
    */
  final class Staged private[graft] (swap: () => Unit, drop: () => Unit) {
    def commit(): Unit = swap()
    def discard(): Unit = drop()

    /** This write, whose commit also seeds the schema cache of
      * [[graft.Tables.parquetCached]] with the schema of the frame written,
      * so the next read of the rewritten store infers nothing from footers.
      */
    private[graft] def seeding(spark: SparkSession, livePath: String,
                               written: org.apache.spark.sql.types.StructType): Staged =
      new Staged(() => {
        swap()
        graft.Tables.seedSchema(spark, livePath, written)
      }, drop)
  }

  object Staged {
    /** Nothing was staged (an empty batch): both ends are no-ops. */
    val Empty: Staged = new Staged(() => (), () => ())
  }

  /** Write `df` as the new content of `livePath` via the staged swap.
    * The write itself retries with backoff (overwrite ⇒ idempotent).
    */
  def replace(spark: SparkSession, df: DataFrame, livePath: String): Unit =
    stage(spark, df, livePath).commit()

  /** [[replace]]'s Spark half; its commit seeds the store's schema. */
  def stage(spark: SparkSession, df: DataFrame, livePath: String): Staged =
    stageWith(spark, livePath) { staging =>
      df.write.mode(SaveMode.Overwrite).option("compression", Codec).parquet(staging)
    }.seeding(spark, livePath, df.schema)

  /** Keyed merge into the store at `livePath`: drop every row whose `key`
    * is in `dirtyKeys` ([[dropKeys]]), append `fresh`, swap. The dirty keys
    * are explicit, not derived from `fresh`, because a dirty key may have
    * no fresh rows (a document rewritten to zero tokens must still lose its
    * postings), and may repeat: a row is dropped once however often its
    * key appears, so callers pass them without a distinct (one shuffle
    * less). Idempotent per batch: re-merging the same rows yields the same
    * store.
    */
  def upsertByKey(spark: SparkSession, livePath: String, fresh: DataFrame,
                  dirtyKeys: DataFrame, key: String): Unit =
    stageUpsertByKey(spark, livePath, fresh, dirtyKeys, key).commit()

  /** [[upsertByKey]]'s Spark half: the merge written to staging. */
  def stageUpsertByKey(spark: SparkSession, livePath: String, fresh: DataFrame,
                       dirtyKeys: DataFrame, key: String): Staged = {
    recover(spark, livePath)
    val merged =
      if (!fs(spark, livePath).exists(new org.apache.hadoop.fs.Path(livePath))) fresh
      else dropKeys(graft.Tables.parquetCached(spark, livePath), dirtyKeys, key)
        .unionByName(fresh)
    // rebalanced on the key: the write is sized by its bytes, not by its
    // input's partitions. Unhinted, it inherited the store scan's splits
    // plus the fresh rows' partitions — 7-8 tasks and files per write on
    // the 4-core perfbench `etl` tick, for stores of a few hundred KB; AQE
    // now coalesces that to one file per small store, and still splits by
    // bytes (advisoryPartitionSizeInBytes) at warehouse scale. On the key,
    // not round-robin: round-robin sorts each input partition first and
    // the sf0.01 postings store came out 19 % larger (28.0 vs 23.5 KB);
    // hashed on the key it stays within 0.2 % of the unhinted bytes, and
    // a key's rows stay together.
    stage(spark, merged.hint("rebalance", col(key)), livePath)
  }

  /** `store` without the rows whose `key` is among `dirtyKeys` (a frame of
    * that one column; repeats and nulls allowed). Keys held on the driver
    * ([[heldRows]]) drop as a filter with the keys as literals,
    * `key IS NULL OR NOT key IN (<non-null keys>)`: no join, no shuffle,
    * and the filter is pushed into the store scan. It drops exactly what
    * the anti-join drops: a store row with a null key survives and a null
    * dirty key drops nothing (a bare `NOT IN` whose list holds a null
    * drops every row). Any other key frame is the left anti-join on `key`.
    */
  def dropKeys(store: DataFrame, dirtyKeys: DataFrame, key: String): DataFrame =
    heldRows(dirtyKeys) match {
      case Some(rows) =>
        val keys = rows.iterator.map(_.get(0)).filter(_ != null).toSeq.distinct
        if (keys.isEmpty) store
        else store.filter(col(key).isNull || !col(key).isin(keys: _*))
      case None => store.join(dirtyKeys, Seq(key), "left_anti")
    }

  /** `df`'s rows when its plan folds to a relation held on the driver (a
    * `LocalRelation`) smaller than `spark.sql.autoBroadcastJoinThreshold`,
    * read with no Spark job; `None` for any other plan, and always at -1.
    */
  private[graft] def heldRows(df: DataFrame): Option[Array[Row]] = {
    val limit = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation if l.stats.sizeInBytes < limit => Some(df.collect())
      case _ => None
    }
  }

  /** The staged swap with a caller-supplied writer (partitioned layouts,
    * bucketed tables) — the writer targets the STAGING path; the rename
    * dance is identical, so a crash mid-write can never leave a partial
    * store at the live path (the exists-check that gates store builds
    * would otherwise serve it forever).
    */
  def replaceWith(spark: SparkSession, livePath: String)
                 (write: String => Unit): Unit =
    stageWith(spark, livePath)(write).commit()

  /** [[replaceWith]] for a store of several relations, one sub-directory
    * each (`$livePath/<name>`), swapped in as ONE unit. The root `_SUCCESS`
    * goes in last: [[recover]] promotes only a staging whose every part
    * committed (each part's own marker sits in its sub-directory).
    */
  def replaceParts(spark: SparkSession, livePath: String)
                  (parts: (String, org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row])*): Unit =
    replaceWith(spark, livePath) { staging =>
      parts.foreach { case (name, w) =>
        w.mode(SaveMode.Overwrite).option("compression", Codec).parquet(s"$staging/$name") }
      fs(spark, livePath).create(new org.apache.hadoop.fs.Path(s"$staging/_SUCCESS")).close()
    }

  /** [[replaceWith]]'s Spark half: the write into staging. Discarding
    * deletes the staging, so a first build never promoted stays absent.
    */
  def stageWith(spark: SparkSession, livePath: String)
               (write: String => Unit): Staged = {
    val f = fs(spark, livePath)
    val dst     = new org.apache.hadoop.fs.Path(livePath)
    val staging = new org.apache.hadoop.fs.Path(livePath + ".staging")
    val old     = new org.apache.hadoop.fs.Path(livePath + ".old")
    writeStaging(f, staging)(write(staging.toString))
    new Staged(() => {
      f.delete(old, true)
      if (f.exists(dst)) mustRename(f, dst, old) // keep the live store recoverable
      mustRename(f, staging, dst)
      f.delete(old, true) // best-effort: a stale .old is dropped next swap
      ()
    }, () => { f.delete(staging, true); () })
  }

  /** Write a store's staging, retried with backoff (overwrite ⇒
    * idempotent). A write that still fails deletes what it left in staging,
    * so a failed stage leaves nothing behind for its tick to outlive.
    */
  private[graft] def writeStaging(f: org.apache.hadoop.fs.FileSystem,
                                  staging: org.apache.hadoop.fs.Path)(write: => Unit): Unit =
    try Retry.withBackoff()(write)
    catch { case e: Throwable => f.delete(staging, true); throw e }

  /** Small-files compaction: rewrite a store into ~`targetFileBytes` files
    * (computed from the store's current on-disk size) and swap it in
    * atomically. The chronic failure mode of an incremental pipeline is a
    * store of ten thousand tick-sized files — NameNode/listing pressure and
    * tiny scan tasks; periodic compaction is the standard fix. Returns the
    * file count written.
    */
  def compact(spark: SparkSession, livePath: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    recover(spark, livePath)
    val f = fs(spark, livePath)
    val dst = new org.apache.hadoop.fs.Path(livePath)
    val bytes = f.getContentSummary(dst).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    // coalesce, not repartition: compaction must not pay a full shuffle —
    // it only narrows the file count (at 100 TB run it per partition)
    val df = spark.read.parquet(livePath).coalesce(nFiles)
    replace(spark, df, livePath)
    nFiles
  }
}
