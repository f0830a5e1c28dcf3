package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's loop updates EVERY index per round from one change
  * detection (etl/main.py:357-385: each iteration runs all pipelines back
  * to back before sleeping) — this is that [[CdcTick]] composed across the
  * three maintained stores this engine serves queries from: the dirty ids'
  * full documents → doc store ([[IncrementalDocPipeline.stageDocs]]),
  * their latest text's postings → postings store
  * ([[IncrementalPostings.upsert]]), their latest embeddings cell-wise →
  * vector store ([[IncrementalVectors.upsert]]), then (when wired) the
  * reference's es.bulk delivery of the committed docs, read back from the
  * doc store ([[CdcTick.docsThenDeliver]]), then ONE watermark.
  * The three stores stage concurrently and commit in that order
  * ([[CdcTick.stageThenCommit]]).
  *
  * Per-tick cost is NOT O(dirty) for every store. Detection, the doc
  * rebuild and the postings recompute are O(dirty); the vector merge reads
  * and rewrites only the affected cells (≤ nlist, at most the whole store
  * when a batch touches every cell); but the doc and postings merges read
  * and rewrite their WHOLE store every tick (anti-join + union + swap), so
  * they are O(store). Every store write is rebalanced, so it is sized by
  * its bytes: at this scale one file for the doc store, one for the
  * postings store and one per affected cell, where it was one per writing
  * task (the stores held 70 files after a perfbench run, now 10); the
  * price is one shuffle of each merged store per tick. On the perfbench
  * `etl` workload (2,000 ids, ~30 dirty per tick, 4 cores) a tick writes
  * ~1.1 MB against ~0.82 MB of corpus, about 30× the changed payload
  * (`sinks.rewrite_amp`). A table format's MERGE, or a key-bucketed layout
  * that rewrites only the dirty keys' buckets, is what would make those
  * two merges O(dirty).
  */
class ComposedEtlPipeline(
    changes: SparkSession => DataFrame, // (id, text, label, v, modified)
    docBuilder: (SparkSession, DataFrame) => DataFrame, // dirty-ids DF ("id") → full docs
    codebook: Seq[Seq[Double]],
    docStorePath: String,
    postingsStorePath: String,
    vectorStorePath: String,
    statePath: String,
    deliver: (SparkSession, () => DataFrame) => Unit = IncrementalDocPipeline.NoDeliver)
    extends CdcTick(changes, "id", statePath) {

  protected def sinks(spark: SparkSession, batch: CdcTick.Batch): Unit = {
    val latest = batch.latest // built once, before the stages fork
    docsThenDeliver(spark, batch, docBuilder, docStorePath,
      stampTimestamps = false, deliver)(
      "postings" -> (() => IncrementalPostings.stage(spark, postingsStorePath,
        latest.select(col("id").as("doc_id"), col("text")))),
      "vectors" -> (() => IncrementalVectors.stage(spark, vectorStorePath,
        latest.select(col("id").as("vec_id"), col("label"), col("v")), codebook)._2))
  }
}

/** The composed tick as a DRIVER-GATED query (q_composed_tick): run the
  * reference's core loop — detect → rebuild docs → re-index postings →
  * re-assign vectors → commit ONE watermark (etl/main.py:357-385) — over a
  * deterministic change feed derived from the testdata tables, then emit
  * ALL THREE maintained stores' contents plus the committed watermark as
  * one uniform relation. The DuckDB oracle replays the whole loop
  * declaratively (latest-row-wins, the ru_en analyzer tokenization, the
  * argmax cell assignment, the max-modified watermark), so the tick's END
  * STATE is hash-gated — ComposedEtlSpec proves crash-convergence, this
  * row proves the converged bytes are the RIGHT bytes.
  *
  * Feed shape: documents⋈embeddings on id for id < 100, stamped with
  * synthetic per-id timestamps; every 7th id arrives TWICE (a later
  * " v2" rewrite), so the latest-wins merge is exercised on the gated
  * path, not just in spec fixtures. The tick is idempotent and
  * watermark-committed, so re-invocations detect an empty batch and serve
  * the same store bytes — the caught-up poll of the reference's loop.
  */
object ComposedEtlQuery {
  import org.apache.spark.sql.functions._

  private val BaseMicros = 1704067200000000L // 2024-01-01 00:00:00 UTC
  private val NList = 8
  private val MaxId = 100L

  private def feedRows(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(spark, dir)
      .select(col("doc_id").as("id"), col("text"))
      .filter(col("id") < MaxId)
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    d.join(e, Seq("id"))
  }

  private def feed(dir: String)(spark: SparkSession): DataFrame = {
    val rows = feedRows(spark, dir)
    val first = rows.select(col("id"), col("text"), col("label"), col("v"),
      timestamp_micros(lit(BaseMicros) + col("id") * lit(1000000L))
        .as("modified"))
    // every 7th id is REWRITTEN later in the batch — latest-wins must pick
    // the " v2" payload for postings/vectors
    val second = rows.filter(col("id") % 7 === 0)
      .select(col("id"), concat(col("text"), lit(" v2")).as("text"),
        col("label"), col("v"),
        timestamp_micros(lit(BaseMicros) + col("id") * lit(1000000L) +
          lit(500000000L)).as("modified"))
    first.unionByName(second)
  }

  /** T4 semantics: the doc store rebuilds from the SOURCE tables for the
    * dirty ids (the reference rebuilds full documents from Postgres, not
    * from the change event's payload).
    */
  private def docBuilder(dir: String)(spark: SparkSession,
                                      ids: DataFrame): DataFrame =
    graft.Tables.documents(spark, dir)
      .select(col("doc_id").as("id"), col("text"), col("lang"), col("source"))
      .join(ids, Seq("id"), "left_semi")

  private def codebook(spark: SparkSession, dir: String): Seq[Seq[Double]] =
    graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < NList)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .orderBy("vec_id").collect()
      .map(_.getSeq[Double](1).toSeq).toSeq

  def composedTick(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.DerivedStore.path(spark, "composedtick", dir, "documents.parquet")
    val pipeline = new ComposedEtlPipeline(
      feed(dir), docBuilder(dir), codebook(spark, dir),
      s"$base/docs", s"$base/postings", s"$base/vectors", s"$base/state")
    pipeline.runUntilCaughtUp(spark)
    // schema-cached reads (ticks rewrite content, never schemas) — raw
    // spark.read.parquet pays a footer-inference job per invocation
    val docs = graft.Tables.parquetCached(spark, s"$base/docs")
      .select(lit("docs").as("store"), col("id"),
        md5(col("text").cast("binary")).as("k"),
        length(col("text")).cast("long").as("n"))
    val posts = IncrementalPostings.load(spark, s"$base/postings")
      .select(lit("postings").as("store"), col("doc_id").as("id"),
        col("token").as("k"), col("tf").cast("long").as("n"))
    val vecs = IncrementalVectors.load(spark, s"$base/vectors")
      .select(lit("vectors").as("store"), col("vec_id").as("id"),
        col("label").cast("string").as("k"), col("cell").cast("long").as("n"))
    val state = graft.Tables.parquetCached(spark, s"$base/state")
      .select(lit("state").as("store"), lit(0L).as("id"), lit("wm").as("k"),
        unix_micros(col("wm")).as("n"))
    docs.unionByName(posts).unionByName(vecs).unionByName(state)
  }

  /** DuckDB replay of the WHOLE loop: feed → latest-row-wins → the three
    * store derivations → watermark. Tokenization replays through the same
    * duckToks fragment every search oracle uses; cell assignment replays
    * the argmax-with-larger-cid-ties the native `ivf_assign` implements.
    */
  val oracle: Map[String, String] = {
    val toks = graft.ops.SearchOps.duckToksOf("text")
    Map("q_composed_tick" ->
      s"""WITH cb AS (
         |  SELECT CAST(vec_id AS INT) AS cid, CAST(embedding AS DOUBLE[]) AS cv
         |  FROM embeddings WHERE vec_id < $NList),
         |feed AS (
         |  SELECT d.doc_id AS id, d.text, e.label,
         |    CAST(e.embedding AS DOUBLE[]) AS v,
         |    $BaseMicros + d.doc_id * 1000000 AS m_us
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
         |  WHERE d.doc_id < $MaxId
         |  UNION ALL
         |  SELECT d.doc_id, d.text || ' v2', e.label,
         |    CAST(e.embedding AS DOUBLE[]),
         |    $BaseMicros + d.doc_id * 1000000 + 500000000
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
         |  WHERE d.doc_id < $MaxId AND d.doc_id % 7 = 0),
         |latest AS (
         |  SELECT id, text, label, v FROM (
         |    SELECT *, row_number() OVER (PARTITION BY id
         |      ORDER BY m_us DESC) AS rn
         |    FROM feed) WHERE rn = 1),
         |docs_store AS (
         |  SELECT 'docs' AS store, d.doc_id AS id, md5(d.text) AS k,
         |    CAST(length(d.text) AS BIGINT) AS n
         |  FROM documents d
         |  WHERE d.doc_id IN (SELECT id FROM latest)),
         |toks AS (SELECT id, unnest($toks) AS token FROM latest),
         |posts AS (
         |  SELECT 'postings' AS store, id, token AS k,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM toks GROUP BY id, token),
         |assign AS (
         |  SELECT l.id, cb.cid,
         |    row_number() OVER (PARTITION BY l.id
         |      ORDER BY list_cosine_similarity(l.v, cb.cv) DESC,
         |        cb.cid DESC) AS rn
         |  FROM latest l CROSS JOIN cb),
         |vecs AS (
         |  SELECT 'vectors' AS store, a.id, CAST(l.label AS VARCHAR) AS k,
         |    CAST(a.cid AS BIGINT) AS n
         |  FROM assign a JOIN latest l USING (id) WHERE a.rn = 1),
         |state AS (
         |  SELECT 'state' AS store, CAST(0 AS BIGINT) AS id, 'wm' AS k,
         |    CAST(MAX(m_us) AS BIGINT) AS n FROM feed)
         |SELECT store, id, k, n FROM docs_store
         |UNION ALL SELECT store, id, k, n FROM posts
         |UNION ALL SELECT store, id, k, n FROM vecs
         |UNION ALL SELECT store, id, k, n FROM state""".stripMargin)
  }
}
