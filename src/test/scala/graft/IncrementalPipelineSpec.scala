package graft

import graft.streaming.IncrementalDocPipeline
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

class IncrementalPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private val base = "/tmp/graft_incr_test"
  private val srcPath = s"$base/source"

  private def writeSource(rows: Seq[(Long, String, String)], mode: SaveMode): Unit =
    rows.toDF("id", "val", "m")
      .withColumn("modified", col("m").cast("timestamp")).drop("m")
      .write.mode(mode).parquet(srcPath)

  private def pipeline() = new IncrementalDocPipeline(
    // dirty ids arrive as a DataFrame: rebuild = left-semi join, shuffle-side
    // at any scale (no driver collect, no in-list predicate)
    docBuilder = (s: SparkSession, ids: DataFrame) =>
      s.read.parquet(srcPath)
        .join(ids, Seq("id"), "left_semi")
        .groupBy("id") // full rebuild: latest version per id
        .agg(max(struct(col("modified"), col("val"))).as("v"))
        .select(col("id"), upper(col("v.val")).as("doc"), col("v.modified")),
    changes = (s: SparkSession) => s.read.parquet(srcPath).select("id", "modified"),
    storePath = s"$base/store",
    statePath = s"$base/state")

  test("CDC ticks: initial load, incremental rebuild, idempotent upsert, watermark restart") {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)

    // tick 1: initial load
    writeSource(Seq((1L, "a", "2024-01-01 10:00:00"), (2L, "b", "2024-01-01 10:00:00"),
      (3L, "c", "2024-01-01 10:00:01")), SaveMode.Overwrite)
    val p = pipeline()
    assert(p.tick(spark) === 3L)
    val store1 = spark.read.parquet(s"$base/store")
    assert(store1.count() === 3)
    assert(p.tick(spark) === 0L) // caught up: strictly-greater watermark

    // tick 2: one update (id 3), one insert (id 4) — only dirty ids rebuilt
    writeSource(Seq((3L, "c2", "2024-01-01 11:00:00"),
      (4L, "d", "2024-01-01 11:00:00")), SaveMode.Append)
    assert(p.tick(spark) === 2L)
    val store2 = spark.read.parquet(s"$base/store").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("doc")).toMap
    assert(store2 === Map(1L -> "A", 2L -> "B", 3L -> "C2", 4L -> "D"))
    // no duplicate ids after re-upsert (idempotence)
    assert(spark.read.parquet(s"$base/store").groupBy("id").count()
      .filter(col("count") > 1).count() === 0)

    // a fresh pipeline instance restarts from the persisted watermark
    assert(pipeline().tick(spark) === 0L)
  }

  test("dirty-ids-first semantics: rebuilt doc reflects ALL rows of the entity, not just changed ones") {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    // entity 1 has two source rows; only one changes later — the rebuild
    // must still see both (the reference's T4 bug rebuilt from changed rows
    // only; SURVEY flags the corrected design)
    val multiSrc = s"$base/source"
    Seq((1L, "x", "2024-01-01 09:00:00"), (1L, "y", "2024-01-01 09:00:00"))
      .toDF("id", "val", "m").withColumn("modified", col("m").cast("timestamp")).drop("m")
      .write.mode(SaveMode.Overwrite).parquet(multiSrc)
    val p = new IncrementalDocPipeline(
      docBuilder = (s: SparkSession, ids: DataFrame) =>
        s.read.parquet(multiSrc).join(ids, Seq("id"), "left_semi")
          .groupBy("id")
          .agg(concat_ws(",", sort_array(collect_list("val"))).as("doc"),
               max("modified").as("modified")),
      changes = (s: SparkSession) => s.read.parquet(multiSrc).select("id", "modified"),
      storePath = s"$base/store", statePath = s"$base/state")
    p.tick(spark)
    // now a third row arrives for entity 1
    Seq((1L, "z", "2024-01-01 10:00:00"))
      .toDF("id", "val", "m").withColumn("modified", col("m").cast("timestamp")).drop("m")
      .write.mode(SaveMode.Append).parquet(multiSrc)
    p.tick(spark)
    val doc = spark.read.parquet(s"$base/store").filter(col("id") === 1).head.getAs[String]("doc")
    assert(doc === "x,y,z") // full rebuild — includes the unchanged rows
  }

  test("rebuild plan is a semi-join on the dirty-id frame — no driver collect, no in-list") {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    writeSource(Seq((1L, "a", "2024-01-01 10:00:00")), SaveMode.Overwrite)
    val ids = Seq(1L).toDF("id")
    val plan = spark.read.parquet(srcPath).join(ids, Seq("id"), "left_semi")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.toLowerCase.contains(" in ("), plan) // no giant in-list predicate
  }

  test("crash between swap renames: complete staging dir is promoted, store not lost") {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    writeSource(Seq((1L, "a", "2024-01-01 10:00:00"), (2L, "b", "2024-01-01 10:00:00")),
      SaveMode.Overwrite)
    val p = pipeline()
    assert(p.tick(spark) === 2L)
    // simulate a crash in the swap window: live store renamed away (gone),
    // staging holds the complete merged table
    val store = new org.apache.hadoop.fs.Path(s"$base/store")
    val staging = new org.apache.hadoop.fs.Path(s"$base/store.staging")
    fs.rename(store, staging)
    assert(!fs.exists(store) && fs.exists(staging))
    // next tick must recover from staging, not rebuild the store from the
    // dirty docs alone (the pre-fix behavior silently dropped ids 1 and 2)
    writeSource(Seq((3L, "c", "2024-01-01 11:00:00")), SaveMode.Append)
    assert(p.tick(spark) === 1L)
    val ids = spark.read.parquet(s"$base/store").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 2L, 3L))
  }

  test("IncrementalPostings: maintained store ≡ from-scratch index, ghosts dropped, idempotent") {
    import spark.implicits._
    import graft.streaming.IncrementalPostings
    val base = java.nio.file.Files.createTempDirectory("graft-postings").toString
    val store = s"$base/postings"
    def canon(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
      df.collect().map(r => (r.getAs[String]("token"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("tf"))).toSet

    // v1 corpus → initial build
    val v1 = Seq((1L, "data streams and windows"),
                 (2L, "models train on data")).toDF("doc_id", "text")
    IncrementalPostings.upsert(spark, store, v1)
    assert(canon(IncrementalPostings.load(spark, store)) ===
      canon(IncrementalPostings.postingsOf(v1)))

    // doc 1 rewritten: loses 'stream'/'window', gains 'quality' — the stale
    // postings must disappear (ghost tokens are the classic append-only bug)
    val v2doc = Seq((1L, "data quality gates")).toDF("doc_id", "text")
    IncrementalPostings.upsert(spark, store, v2doc)
    val expected = Seq((1L, "data quality gates"),
                       (2L, "models train on data")).toDF("doc_id", "text")
    assert(canon(IncrementalPostings.load(spark, store)) ===
      canon(IncrementalPostings.postingsOf(expected)))
    val tokensOf1 = IncrementalPostings.load(spark, store)
      .filter(col("doc_id") === 1L).select("token")
      .collect().map(_.getString(0)).toSet
    assert(!tokensOf1.contains("stream") && !tokensOf1.contains("window"))

    // at-least-once redelivery: same batch twice → same store
    IncrementalPostings.upsert(spark, store, v2doc)
    assert(canon(IncrementalPostings.load(spark, store)) ===
      canon(IncrementalPostings.postingsOf(expected)))

    // the search faces run unchanged over the maintained store
    val hits = graft.ops.SearchOps.postingsSearch(
        IncrementalPostings.load(spark, store), "data quality", 10)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score")).toMap
    assert(hits(1L) === 2L) // data + quality
    assert(hits(2L) === 1L) // data only
  }

  test("IncrementalSearchPipeline: watermark-driven re-index, latest-text-wins, search stays fresh") {
    import spark.implicits._
    import graft.streaming.{IncrementalPostings, IncrementalSearchPipeline}
    val base = java.nio.file.Files.createTempDirectory("graft-searchpipe").toString
    val (src, store, state) = (s"$base/src", s"$base/postings", s"$base/state")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def writeSrc(rows: Seq[(Long, String, java.sql.Timestamp)],
                 mode: org.apache.spark.sql.SaveMode): Unit =
      rows.toDF("doc_id", "text", "modified").write.mode(mode).parquet(src)
    val p = new IncrementalSearchPipeline(
      s => s.read.parquet(src), store, state)

    writeSrc(Seq(
      (1L, "data streams in windows", ts("2024-01-01 10:00:00")),
      (2L, "models and training", ts("2024-01-01 10:00:00"))),
      org.apache.spark.sql.SaveMode.Overwrite)
    assert(p.tick(spark) === 2L)
    assert(p.tick(spark) === 0L) // caught up: nothing re-indexed
    def search(q: String): Map[Long, Long] =
      graft.ops.SearchOps.postingsSearch(
          IncrementalPostings.load(spark, store), q, 10)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score")).toMap
    assert(search("data stream").keySet === Set(1L))

    // doc 1 rewritten TWICE in one batch — the later text must win, the
    // old tokens must vanish, doc 2 must be untouched
    writeSrc(Seq(
      (1L, "interim version", ts("2024-01-01 11:00:00")),
      (1L, "quality gates for corpora", ts("2024-01-01 12:00:00"))),
      org.apache.spark.sql.SaveMode.Append)
    assert(p.tick(spark) === 1L)
    assert(search("quality gate").keySet === Set(1L))
    assert(search("data stream").keySet === Set.empty[Long]) // ghosts gone
    assert(search("interim").keySet === Set.empty[Long])     // latest wins
    assert(search("model training").keySet === Set(2L))
    // watermark advanced: nothing to do
    assert(p.tick(spark) === 0L)
  }

  test("upsertDocs never evicts a caller-persisted frame (delivery reads the store-committed version)") {
    // r15 review: with stampTimestamps=false the stamped frame IS the
    // caller's docs, and upsertDocs' internal cache()/unpersist() pair
    // aliased the caller's persist — evicting it BEFORE the delivery
    // stage read it, so ES could receive a recomputed (possibly
    // different) doc version than the store committed. Pin: after
    // upsertDocs, a caller-persisted frame is still cached.
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("upsert_cache").toString + "/docs"
    val docs = Seq((1L, "a"), (2L, "b")).toDF("id", "doc").persist()
    try {
      docs.count() // materialize the cache
      IncrementalDocPipeline.upsertDocs(spark, store, docs)
      assert(docs.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "upsertDocs evicted the caller's persist - the delivery consumer would recompute")
      // and a second upsert (the existing-store merge path, where incoming
      // appears twice) must also leave it cached
      IncrementalDocPipeline.upsertDocs(spark, store, docs)
      assert(docs.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    } finally docs.unpersist()
  }

  test("delivery ships the store-committed STAMPED frame, not the pre-stamp docs") {
    // r15 advice: with stampTimestamps=true the store commits the
    // ingest-stamped frame — delivery must ship exactly that version
    // (created/modified columns included), byte-identical to the store,
    // not the caller's unstamped rebuild.
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    writeSource(Seq((1L, "a", "2024-01-01 10:00:00"),
      (2L, "b", "2024-01-01 10:00:05")), SaveMode.Overwrite)
    var deliveredCols = Set.empty[String]
    var delivered = Seq.empty[(Long, java.sql.Timestamp, java.sql.Timestamp)]
    val p = new IncrementalDocPipeline(
      docBuilder = (s: SparkSession, ids: DataFrame) =>
        s.read.parquet(srcPath).join(ids, Seq("id"), "left_semi")
          .groupBy("id").agg(max(struct(col("modified"), col("val"))).as("v"))
          .select(col("id"), upper(col("v.val")).as("doc"), col("v.modified")),
      changes = (s: SparkSession) => s.read.parquet(srcPath).select("id", "modified"),
      storePath = s"$base/store",
      statePath = s"$base/state",
      stampTimestamps = true,
      deliver = (_, df) => {
        deliveredCols = df().columns.toSet
        delivered = df().select("id", "created", "modified").collect()
          .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSeq
      })
    assert(p.tick(spark) === 2L)
    assert(deliveredCols.contains("created") && deliveredCols.contains("modified"),
      "delivery must carry the sink-stamped columns the store committed")
    val stored = spark.read.parquet(s"$base/store")
      .select("id", "created", "modified").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSeq
    assert(delivered.sortBy(_._1) === stored.sortBy(_._1),
      "the delivered frame must match the store-committed version exactly")
  }

  test("each tick delivers exactly its dirty ids' rows, equal to the stored rows") {
    // the ES stubs key docs by _id, so a delivery of the whole store would
    // look the same there: pin the delivered rows themselves
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    writeSource(Seq((1L, "a", "2024-01-01 10:00:00"),
      (2L, "b", "2024-01-01 10:00:00")), SaveMode.Overwrite)
    def rows(df: DataFrame): Seq[(Long, String, java.sql.Timestamp)] =
      df.select("id", "doc", "modified").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2))).toSeq.sortBy(_._1)
    var delivered = Seq.empty[Seq[(Long, String, java.sql.Timestamp)]]
    val p = new IncrementalDocPipeline(
      docBuilder = (s: SparkSession, ids: DataFrame) =>
        s.read.parquet(srcPath).join(ids, Seq("id"), "left_semi")
          .groupBy("id").agg(max(struct(col("modified"), col("val"))).as("v"))
          .select(col("id"), upper(col("v.val")).as("doc"), col("v.modified")),
      changes = (s: SparkSession) => s.read.parquet(srcPath).select("id", "modified"),
      storePath = s"$base/store",
      statePath = s"$base/state",
      deliver = (_, df) => delivered :+= rows(df()))
    assert(p.tick(spark) === 2L)
    assert(delivered === Seq(rows(spark.read.parquet(s"$base/store"))))
    writeSource(Seq((2L, "b2", "2024-01-01 11:00:00")), SaveMode.Append)
    assert(p.tick(spark) === 1L)
    val stored = rows(spark.read.parquet(s"$base/store"))
    assert(delivered.size === 2)
    assert(delivered(1) === stored.filter(_._1 == 2L),
      "the second tick must deliver only id 2, as the store holds it")
    assert(delivered(1).map(_._2) === Seq("B2"))
  }
}
