package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

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

  /** Write `df` as the new content of `livePath` via the staged swap.
    * The write itself retries with backoff (overwrite ⇒ idempotent).
    */
  def replace(spark: SparkSession, df: DataFrame, livePath: String): Unit =
    replaceWith(spark, livePath) { staging =>
      df.write.mode(SaveMode.Overwrite).parquet(staging)
    }

  /** Keyed merge into the store at `livePath`: drop every row whose `key`
    * is in `dirtyKeys`, append `fresh`, swap. The dirty keys are explicit,
    * not derived from `fresh`, because a dirty key may have no fresh rows
    * (a document rewritten to zero tokens must still lose its postings).
    * Idempotent per batch: re-merging the same rows yields the same store.
    */
  def upsertByKey(spark: SparkSession, livePath: String, fresh: DataFrame,
                  dirtyKeys: DataFrame, key: String): Unit = {
    recover(spark, livePath)
    val merged =
      if (!fs(spark, livePath).exists(new org.apache.hadoop.fs.Path(livePath))) fresh
      else spark.read.parquet(livePath).join(dirtyKeys, Seq(key), "left_anti")
        .unionByName(fresh)
    replace(spark, merged, livePath)
  }

  /** The ONE copy of the build-or-serve guard every store builder shares:
    * materialize `df` at `path` iff nothing lives there yet, return the
    * path. Callers memoizing paths in a ConcurrentHashMap must resolve any
    * DEPENDENT store BEFORE entering their computeIfAbsent mapping — a
    * nested computeIfAbsent on the same map throws "Recursive update".
    */
  def buildIfAbsent(spark: SparkSession, path: String)(df: => DataFrame): String =
    buildIfAbsentWith(spark, path)(staging =>
      df.write.mode(SaveMode.Overwrite).parquet(staging))

  /** Writer-flavored [[buildIfAbsent]] for stores needing a custom write
    * (partitioned layouts, sorted files): same guard, the caller supplies
    * the staging write.
    */
  def buildIfAbsentWith(spark: SparkSession, path: String)
                       (write: String => Unit): String = {
    val hp = new org.apache.hadoop.fs.Path(path)
    if (!fs(spark, path).exists(hp)) replaceWith(spark, path)(write)
    path
  }

  /** The staged swap with a caller-supplied writer (partitioned layouts,
    * bucketed tables) — the writer targets the STAGING path; the rename
    * dance is identical, so a crash mid-write can never leave a partial
    * store at the live path (the exists-check that gates store builds
    * would otherwise serve it forever).
    */
  def replaceWith(spark: SparkSession, livePath: String)
                 (write: String => Unit): Unit = {
    val f = fs(spark, livePath)
    val dst     = new org.apache.hadoop.fs.Path(livePath)
    val staging = new org.apache.hadoop.fs.Path(livePath + ".staging")
    val old     = new org.apache.hadoop.fs.Path(livePath + ".old")
    Retry.withBackoff() {
      write(staging.toString)
    }
    f.delete(old, true)
    if (f.exists(dst)) mustRename(f, dst, old) // keep the live store recoverable
    mustRename(f, staging, dst)
    f.delete(old, true) // best-effort: a stale .old is dropped next swap
    ()
  }

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
