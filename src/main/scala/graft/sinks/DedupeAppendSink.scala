package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Insert-if-absent sink: the Spark analog of the reference's per-row
  * `INSERT … ON CONFLICT (id) DO NOTHING` loader
  * (sqlite_to_postgres/postgres_saver_file.py:17-38).
  *
  * Semantics: rows whose key already exists in the target are dropped
  * (existing version wins — exactly ON CONFLICT DO NOTHING); new keys are
  * appended once even if duplicated inside the incoming batch.
  *
  * Scale: the existence probe is a left-anti join on the key only — the
  * target is scanned key-column-only (parquet column pruning), and with a
  * key-partitioned target the join co-partitions. Append is a pure add of new
  * files, no rewrite of existing data (unlike replace-upsert, which is
  * IncrementalDocPipeline's job).
  */
object DedupeAppendSink {

  /** Returns the number of new rows appended. */
  def append(incoming: DataFrame, targetPath: String, key: String): Long = {
    val spark = incoming.sparkSession
    val fresh = incoming.dropDuplicates(key)
    val toWrite =
      if (AtomicSwap.fs(spark, targetPath).exists(new org.apache.hadoop.fs.Path(targetPath))) {
        val existingKeys = spark.read.parquet(targetPath).select(key)
        fresh.join(existingKeys, Seq(key), "left_anti")
      } else fresh
    // count once, write once: cache the delta (small by construction)
    toWrite.cache()
    val n = toWrite.count()
    // T6: retry the append action (a failed parquet write never commits
    // files, so re-running cannot double-append)
    if (n > 0) Retry.withBackoff() {
      toWrite.write.mode(SaveMode.Append).parquet(targetPath)
    }
    toWrite.unpersist()
    n
  }
}
