package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed physical layout — the shuffle-elimination face of the catalog
  * (SURVEY S2). At 100 TB the fact tables are written once, bucketed on
  * their join/aggregate key; every later equi-join or groupBy on that key
  * then reads co-located buckets and skips the exchange entirely, which is
  * THE dominant cost of the denorm pipelines at scale (each tick of the
  * reference's ETL re-joins fact↔bridge on the same key forever —
  * etl/main.py:24-38 — exactly the amortization bucketing exists for).
  *
  * Verified in ScaleLayoutSpec: the co-located join plan contains zero
  * shuffle exchanges, and results are identical to the plain join.
  */
object BucketedLayout {

  /** Write `df` as a bucketed, per-bucket-sorted parquet table registered in
    * the session catalog. `buckets` should be sized so one bucket of the
    * LARGEST co-bucketed table fits an executor's memory (e.g. 100 TB
    * fact / 8192 buckets ≈ 12 GB splits).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** Equi-join two co-bucketed tables on their bucket key. With matching
    * bucket counts Catalyst plans a SortMergeJoin whose children report
    * HashPartitioning(key, n) straight from the scan — no Exchange.
    */
  def colocatedJoin(spark: SparkSession, left: String, right: String,
                    key: String, joinType: String = "inner"): DataFrame =
    spark.table(left).join(spark.table(right), Seq(key), joinType)

  /** Date/key-partitioned layout — the other half of the physical story
    * (events by day, orders by month; Tables.scala scale note made real).
    * Partition values become directory keys, so an equality/range filter on
    * the partition column prunes whole directories at PLANNING time: a
    * one-month query over a 100 TB fact touches one directory, not the
    * table. Verified in ScaleLayoutSpec via the scan's PartitionFilters.
    * Written with the stores' codec ([[graft.sinks.AtomicSwap.Codec]]).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("compression", graft.sinks.AtomicSwap.Codec)
      .partitionBy(partitionCol).parquet(path)

  /** TRAINING-SHARD export — the last-mile write of a curation pipeline:
    * the kept corpus goes out as `nShards` deterministic, size-bounded,
    * internally-ordered parquet shards plus a manifest a trainer (or the
    * next pipeline) can reconcile against without listing data files.
    *
    * Layout mechanics, each load-bearing at 100 TB:
    *  - `repartitionByRange(nShards, key)` — contiguous key ranges, so a
    *    shard boundary is a key interval (resumable, mergeable, and the
    *    assignment is deterministic for a given dataset, unlike
    *    round-robin/hash whose task scheduling can move rows);
    *  - `sortWithinPartitions(key)` — intra-shard order gives parquet
    *    min/max stats their bite and trainers a stable read order;
    *  - `maxRecordsPerFile` — bounds any one file even if a range is hot
    *    (range skew splits files, never tasks).
    * The manifest (one tiny JSON-lines relation: shard → rows, key span)
    * is derived from the SAME ranged frame in one extra aggregate and
    * written beside the data; ScaleLayoutSpec reconciles it against the
    * files and pins determinism across two writes.
    */
  def exportShards(df: DataFrame, path: String, key: String, nShards: Int,
                   maxRecordsPerFile: Long = 1000000L): Unit = {
    import org.apache.spark.sql.functions._
    // persisted BEFORE the two actions: repartitionByRange samples its
    // boundaries per execution (seeded by the physical rdd), so an
    // unpersisted frame could compute DIFFERENT shard bounds for the data
    // write and the manifest aggregate — a manifest describing a
    // partitioning the files don't have. The persist pins one sampled
    // boundary set for both consumers; the storage cost is the export
    // itself (disk-spillable), paid once per export.
    val ranged = df.repartitionByRange(nShards, col(key))
      .sortWithinPartitions(key)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      ranged.write
        .mode(SaveMode.Overwrite)
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .parquet(s"$path/data")
      // min/max on the NATIVE key (cast only for the wire format): a string
      // min over numeric keys is lexicographic and records e.g. 999 as the
      // max of a shard containing 1000
      val present = ranged
        .select(spark_partition_id().cast("long").as("shard"), col(key).as("k"))
        .groupBy("shard")
        .agg(count(lit(1)).as("rows"),
          min(col("k")).cast("string").as("key_min"),
          max(col("k")).cast("string").as("key_max"))
      // every declared shard gets a row — an EMPTY range shard (skewed or
      // low-cardinality keys) must be distinguishable from a LOST one
      val spark = df.sparkSession
      val manifest = spark.range(nShards).select(col("id").as("shard"))
        .join(present, Seq("shard"), "left")
        .select(col("shard"), coalesce(col("rows"), lit(0L)).as("rows"),
          col("key_min"), col("key_max"))
      manifest.coalesce(1).write.mode(SaveMode.Overwrite).json(s"$path/manifest")
    } finally { ranged.unpersist(); () }
  }
}
