package graft.ops

import graft.{DerivedStore, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents`: exact (hash groupBy),
  * MinHash + LSH banding, SimHash, and word-n-gram Jaccard.
  *
  * Scale design:
  *  - exact dedup = one shuffle on a 128-bit content hash (not on the text);
  *  - MinHash signatures are per-row expression pipelines (codegen, no
  *    shuffle); LSH candidate generation shuffles only (band_id, band_hash)
  *    pairs — the classic "never compare all pairs" path. At 100 TB the band
  *    join's skew (a hot bucket of boilerplate docs) is the known hazard;
  *    bucket-size capping below keeps the self-join bounded;
  *  - SimHash is again pure per-row expressions over xxhash64 tokens.
  */
object DedupOps {
  /** Materialize the bounded (≤k-row) result eagerly via localCheckpoint,
    * then release the big intermediate cache: a long-lived session must not
    * accumulate executor storage across operator calls, and re-invocations
    * must not hit "already cached" plan collisions. localCheckpoint keeps
    * the materialization distributed (no driver funnel).
    */
  private[ops] def releasing(intermediate: DataFrame)(result: DataFrame): DataFrame = {
    val out = result.localCheckpoint()
    intermediate.unpersist()
    out
  }

  /** [[releasing]] for BOUNDED (top-k) results: the ≤k rows (k ≤ 50 across
    * all callers — a model-serving answer, not data) come back to the driver
    * and re-enter the plan as a LocalRelation. One job where
    * localCheckpoint's distributed materialization costs two, and the
    * downstream consumer reads a LocalTableScan instead of a checkpoint
    * RDD. Unbounded faces (semDedup's pruned corpus) keep [[releasing]].
    */
  private[ops] def releasingBounded(intermediate: DataFrame)(result: DataFrame): DataFrame = {
    val spark = result.sparkSession
    val rows = java.util.Arrays.asList(result.collect(): _*)
    intermediate.unpersist()
    spark.createDataFrame(rows, result.schema)
  }
  /** Exact dedup: group by content hash, keep min doc_id as canonical. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper_id"),
           count(lit(1)).as("n_copies"))
  }

  /** 4-hash MinHash signature per doc — oracle-checked column by column.
    * Uses the native fused [[graft.functions.Md5MinHash]] expression: one
    * traversal of the text computes all 4 salted mins (reused digest, raw
    * 16-byte comparisons, hex only at the end). Bit-identical to the
    * composed form below — FunctionsSpec asserts equality; the DuckDB
    * oracle replays the composed semantics.
    */
  def minhashSignature(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsSpread(spark, dir)
    d.select(col("doc_id"), expr("md5_minhash(text)").as("sig"))
      .select(col("doc_id"),
        element_at(col("sig"), 1).as("mh1"), element_at(col("sig"), 2).as("mh2"),
        element_at(col("sig"), 3).as("mh3"), element_at(col("sig"), 4).as("mh4"))
  }

  /** Composed built-ins form (the (b)-tier): staged distinct shingles, one
    * md5 transform pass per salt. Retained as the equality reference for
    * the native expression (FunctionsSpec) — this IS the specification.
    */
  private[graft] def minhashSignatureComposed(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    def mh(salt: String): Column =
      array_min(transform(col("sh"), s => md5(concat(lit(salt), s).cast("binary"))))
    d.select(col("doc_id"), shingles(col("text")).as("sh"))
      .select(col("doc_id"),
        mh("s1").as("mh1"), mh("s2").as("mh2"),
        mh("s3").as("mh3"), mh("s4").as("mh4"))
  }

  /** Distinct character k-shingles of `text`, materialized ONCE per row —
    * every downstream hash family reads this array instead of re-slicing the
    * string (the single biggest cost in a minhash pipeline).
    */
  private def shingles(text: Column, k: Int = 5): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => text.substr(i, lit(k))))

  /** Portable 60-bit string hash: the first 15 hex digits of md5, read as an
    * integer. md5 is the one hash every engine computes identically over
    * UTF-8 bytes, and 15 hex digits (< 2^60) fit a signed 64-bit lane in all
    * of them — this is what lets the DuckDB oracle replay the whole LSH
    * pipeline value-for-value (`CAST('0x' || substr(md5(s),1,15) AS BIGINT)`).
    */
  private[graft] def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** SQL fragment computing hash60 in DuckDB — must stay in lockstep with
    * [[hash60]] (cross-engine equality is what the oracles stand on).
    */
  private def sql60(e: String): String =
    s"CAST('0x' || substr(md5($e),1,15) AS BIGINT)"

  /** Fast minhash signature from a PRE-HASHED shingle array (longs), using
    * the portable affine family [[graft.functions.MinHashFamily]]:
    * h_i(m) = ((m % P) * A(i) + B(i)) % P — pure integer arithmetic, so the
    * string pass (md5) happens once in the staging projection and the oracle
    * can replay the signature exactly.
    *
    * IMPORTANT plan shape: the input must be a bare column reference to a
    * staged `hashes` array. Inlining the shingle expression here would make
    * Catalyst rebuild the array once per hash function (no CSE inside
    * higher-order lambdas) — measured 5.6x slower at sf0.1. CollapseProject
    * keeps the staging projection intact because the alias is non-cheap and
    * multiply referenced.
    */
  private[graft] def fastSignature(hashes: Column, nHashes: Int): Column = {
    import graft.functions.MinHashFamily.{A, B, P}
    array((0 until nHashes).map(i =>
      array_min(transform(hashes, x => ((x % P) * A(i) + B(i)) % P))): _*)
  }

  /** Staging projection: distinct shingles hashed once to portable longs —
    * native fused [[graft.functions.ShingleHash60]] (one traversal, reused
    * digest, 60-bit prefix read from raw bytes). Bit-identical to
    * [[hashedShinglesComposed]] per FunctionsSpec; the oracle replays the
    * composed semantics.
    */
  private def hashedShingles(text: Column): Column =
    call_function("shingle_hash60", text, lit(5))

  /** The composed built-ins form — the semantic reference the native
    * expression is asserted against (FunctionsSpec). Two interpreted lambda
    * passes with a substring + md5-hex + base-16 parse per shingle — don't
    * use in hot paths.
    */
  private[graft] def hashedShinglesComposed(text: Column): Column =
    transform(shingles(text), s => hash60(s))

  /** Slot-list SQL for the oracle: the same affine family, one list_min per
    * slot over the staged `m` array.
    */
  private def slotSql(i: Int): String = {
    import graft.functions.MinHashFamily.{A, B, P}
    s"list_min([((x % $P) * ${A(i)} + ${B(i)}) % $P for x in m])"
  }

  /** MinHash+LSH near-dup candidates: 8 hashes → 4 bands × 2 rows; docs
    * sharing any band hash become candidates; estimated Jaccard = fraction of
    * the 8 hashes agreeing. Top-50 pairs by estimate (rows-only check — the
    * pair join is not expressible in one portable SQL statement).
    *
    * Scale shape: the band self-join only ever sees (band_id, band_hash)
    * buckets that hold 2..maxBucket docs — singleton buckets (the vast
    * majority of a real corpus) are dropped before the join, and pathological
    * boilerplate buckets are capped so one hot key cannot produce O(n²) pairs.
    */
  def minhashPairs(spark: SparkSession, dir: String, maxBucket: Int = 64): DataFrame = {
    val (d, pairs) = bandedCandidatePairs(spark, dir, maxBucket)
    releasing(d)(pairs
      .orderBy(col("est_jaccard").desc, col("left_id"), col("right_id"))
      .limit(50))
  }

  /** Spread policy in this family (r16, measured at sf0.1): the spread
    * exchange pays off ONLY where the single-task compute dominates the
    * wall — minhashSignature (2.01 → 0.28 s) and this generator's
    * signature stage (1.93 → ~1.2 s). For ngramJaccard / dedupSpans /
    * containmentPairs the wall is shuffle-barrier/dispatch-bound (cpu ≪
    * wall), and the spread left walls flat while multiplying summed task
    * CPU ~10–20× (32-task stages over a pinned 32-partition cache) — those
    * faces keep the bare scan.
    */

  /** The banded candidate generator shared by [[minhashPairs]] (top-k face)
    * and [[dupClusters]] (graph face). Returns (cached signature frame to
    * release, unbounded candidate pairs with estimates).
    * `private[graft]` so DedupSpec can assert the census guard's skew bound
    * on the UNCAPPED pair stream.
    */
  private[graft] def bandedCandidatePairs(spark: SparkSession, dir: String,
                                          maxBucket: Int): (DataFrame, DataFrame) = {
    val nHashes = 8
    // cache: the signature stage feeds THREE consumers (bucket census, left,
    // right side of the self-join) — uncached it is recomputed per consumer
    // (3.9x measured). At warehouse scale this materialization is the
    // persisted signature table. Released via `releasing` before return.
    val d = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), hashedShingles(col("text")).as("hashes"))
      // native single-pass expression (bit-identical to fastSignature —
      // FunctionsSpec asserts it): k mins in one codegen'd traversal
      .select(col("doc_id"), expr(s"minhash_slots(hashes, $nHashes)").as("sig"))
      .cache()

    // band key = the raw slot pair (a 2-long struct), not a re-hash of it:
    // identical bucket semantics, and the oracle can replay membership
    // exactly. At 100 TB you'd optionally compress the struct to one
    // xxhash64 — equality semantics are the same modulo 2^-64 collisions.
    val bands = d.select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(nHashes / 2 - 1)),
          b => struct(element_at(col("sig"), b * 2 + 1).as("h1"),
                      element_at(col("sig"), b * 2 + 2).as("h2")))))
      .withColumnsRenamed(Map("pos" -> "band_id", "col" -> "band_key"))

    // skew guard: keep only buckets that can produce pairs and are not hot.
    // r16: the census is a WINDOW count over the same key instead of a
    // groupBy + join-back — identical row set, but one keyed exchange
    // (whose hash partitioning the self-join below then reuses on both
    // sides) replaces the aggregate exchange + broadcast-build of `useful`.
    val b = bands
      .withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band_id", "band_key")))
      .filter(col("bsz") >= 2 && col("bsz") <= maxBucket)
      .drop("bsz")

    val l = b.select(col("band_id"), col("band_key"),
      col("doc_id").as("left_id"), col("sig").as("left_sig"))
    val r = b.select(col("band_id"), col("band_key"),
      col("doc_id").as("right_id"), col("sig").as("right_sig"))

    val pairs = l.join(r, Seq("band_id", "band_key"))
      .filter(col("left_id") < col("right_id"))
      .select("left_id", "right_id", "left_sig", "right_sig")
      .dropDuplicates("left_id", "right_id")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("left_sig"), col("right_sig"),
            (a, b) => (a === b).cast("int")),
          lit(0), (acc, x) => acc + x).cast("double") / nHashes)
      .select(col("left_id"), col("right_id"), col("est_jaccard"))
    (d, pairs)
  }

  /** The per-doc banded signature relation (doc_id, band_id, h1, h2, sig)
    * — shared by the corpus store build and the inline batch derivation of
    * [[incrementalDedup]], so both sides band IDENTICALLY by construction.
    */
  private def bandsOf(docs: DataFrame): DataFrame = {
    val nHashes = 8
    docs
      .select(col("doc_id"), hashedShingles(col("text")).as("hashes"))
      .select(col("doc_id"), expr(s"minhash_slots(hashes, $nHashes)").as("sig"))
      .select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(nHashes / 2 - 1)),
          b => struct(element_at(col("sig"), b * 2 + 1).as("h1"),
                      element_at(col("sig"), b * 2 + 2).as("h2")))))
      .select(col("doc_id"), col("pos").as("band_id"),
        col("col.h1"), col("col.h2"), col("sig"))
  }

  /** Served corpus band store for [[incrementalDedup]]: the banded MinHash
    * index of everything ALREADY INGESTED (the fixture corpus = doc_id %
    * mod ≠ rem), version-keyed per data dir, hot buckets (> maxBucket
    * members) suppressed AT BUILD — the skew guard is a property of the
    * index, exactly where a production build bakes it. At 100 TB this
    * store is the persistent dedup index a daily shard probes; it is
    * append-maintained, never rebuilt per batch.
    */
  private def servedCorpusBands(spark: SparkSession, dir: String, mod: Int,
                                rem: Int, maxBucket: Int): DataFrame =
    DerivedStore.parquet(spark, s"incbands$mod-$rem-$maxBucket", dir,
        "documents.parquet") {
      val corpus = bandsOf(Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(mod)) =!= rem))
      val useful = corpus.groupBy("band_id", "h1", "h2").count()
        .filter(col("count") <= maxBucket).drop("count")
      corpus.join(useful, Seq("band_id", "h1", "h2"))
    }

  /** INCREMENTAL near-dup admission — the shape production dedup actually
    * runs (a daily shard against yesterday's corpus, not corpus × corpus):
    * the incoming batch (fixture: doc_id % mod = rem, ~5% of documents)
    * computes its MinHash bands inline (new data always pays its own
    * signatures), BROADCASTS into the served corpus band store (batch ≪
    * corpus — the asymmetric join is the whole economics: cost is
    * O(batch × matched buckets), the corpus is never rescanned; a batch
    * too large to broadcast drops the hint and hash-joins on the band
    * key, zero-exchange on the store side once the store is bucketed by
    * (band_id, h1) — the BucketedLayout discipline), and each
    * batch doc gets an admission verdict: duplicate of its best-estimate
    * corpus doc at est ≥ threshold (0.75 — admission gates run stricter
    * than the 0.5 cluster tier), else novel. Ties break est DESC,
    * corpus_id ASC on exact-eighth estimates, so the verdict replays
    * bit-for-bit.
    */
  def incrementalDedup(spark: SparkSession, dir: String, mod: Int = 20,
                       rem: Int = 7, threshold: Double = 0.75,
                       maxBucket: Int = 64): DataFrame = {
    val store = servedCorpusBands(spark, dir, mod, rem, maxBucket)
      .withColumnsRenamed(Map("doc_id" -> "corpus_id", "sig" -> "csig"))
    val batchDocs = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(mod)) === rem)
    val batch = bandsOf(batchDocs)
      .withColumnsRenamed(Map("doc_id" -> "batch_id", "sig" -> "bsig"))
    val est = broadcast(batch).join(store, Seq("band_id", "h1", "h2"))
      .dropDuplicates("batch_id", "corpus_id")
      .withColumn("est",
        aggregate(zip_with(col("bsig"), col("csig"),
            (a, b) => (a === b).cast("int")),
          lit(0), (acc, x) => acc + x).cast("double") / 8)
    val best = est
      .withColumn("rn", row_number().over(
        Window.partitionBy("batch_id")
          .orderBy(col("est").desc, col("corpus_id").asc)))
      .filter(col("rn") === 1)
      .select(col("batch_id"), col("corpus_id"), col("est"))
    batchDocs.select(col("doc_id").as("batch_id"))
      .join(best, Seq("batch_id"), "left_outer")
      .select(col("batch_id"),
        coalesce(col("est") >= threshold, lit(false)).as("is_dup"),
        when(col("est") >= threshold, col("corpus_id")).as("dup_of"),
        coalesce(col("est"), lit(0.0)).as("best_est"))
  }

  /** Duplicate-cluster resolution: connected components over the near-dup
    * pair graph — the step a dedup pipeline runs AFTER pair generation
    * (pick one canonical doc per cluster, drop the rest). Output: one row
    * per clustered doc with its cluster id (= min doc_id in the component)
    * and the cluster size.
    *
    * Algorithm: min-label propagation (Pregel-style) — every node starts
    * labeled with itself; each round takes the min of its own and its
    * neighbors' labels; converged when no label changes. O(component
    * diameter) rounds; near-dup clusters are dense (diameter 1-3), and the
    * LSH maxBucket census upstream caps star blowups, so rounds stay few at
    * any corpus size. Each round is one shuffle join keyed on doc id;
    * `localCheckpoint` truncates lineage so plans don't grow with rounds
    * (the standard iterative-algorithm hygiene — without it round N
    * re-derives rounds 1..N-1).
    *
    * The driver-side loop is CONTROL FLOW only (a convergence count per
    * round, one scalar) — all data stays distributed.
    */
  def dupClusters(spark: SparkSession, dir: String,
                  threshold: Double = 0.5, maxRounds: Int = 20): DataFrame = {
    val (d, pairs) = bandedCandidatePairs(spark, dir, maxBucket = 64)
    // edges flow straight into connectedComponents, whose persisted edge RDD
    // materializes the banded pipeline in its FIRST round job — the round-3
    // separate eager checkpoint paid one extra full-pipeline job for nothing.
    // The signature cache is released after the loop (every round reads the
    // persisted edge RDD, not the pipeline).
    val edges = pairs.filter(col("est_jaccard") >= threshold)
      .select("left_id", "right_id")
    val labels = connectedComponents(edges, maxRounds)
    d.unpersist()
    // cluster size as a window count over the label exchange — one shuffle
    // on cluster_id instead of groupBy + join-back (two exchanges + a join);
    // the per-partition state is one counter per cluster, same key
    // distribution the groupBy would shuffle on
    val byCluster = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(byCluster))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** [[dupClusters]] SERVED from a per-(dir version, threshold) store — a
    * dedup pass is an offline corpus artifact (you cluster once, then every
    * downstream consumer reads the assignment), so no consumer re-runs the
    * CC fixpoint per query. Since r16 this is ALSO the q_dup_clusters face:
    * the cluster assignment is what a user of the engine queries, and the
    * build (one fixpoint per corpus version, crash-safe via the staged
    * swap) amortizes across every read exactly as it does for the five
    * downstream consumers. The direct compute path stays spec-exercised
    * (DedupSpec's component-min/cluster-boundary cases call [[dupClusters]]
    * itself), so the build cost remains measured where it is paid.
    */
  def servedDupClusters(spark: SparkSession, dir: String,
                        threshold: Double = 0.5): DataFrame =
    DerivedStore.parquet(spark, s"dupclusters-$threshold", dir, "documents.parquet")(
      dupClusters(spark, dir, threshold))

  /** Cluster-representative selection — the policy layer production dedup
    * actually ships: within every near-dup cluster KEEP the best copy and
    * drop the rest. "Best" here is the longest copy (n_chars, an exact
    * integer from the table — a truncated or boilerplate-stripped duplicate
    * loses to the full document), with min-doc_id tie-break; swapping in
    * any other integer quality key (crawl priority, source rank) is a
    * one-line change. Contrast with the min-id representative the curation
    * gate uses — that picks an ARBITRARY survivor; this picks the right
    * one, which is why RefinedWeb/FineWeb-class pipelines select by quality
    * rather than id.
    *
    * Served shape: reads the [[servedDupClusters]] store (the CC fixpoint
    * is an offline artifact — this query never re-clusters), joins the
    * integer quality key, one rank window PARTITIONED BY cluster — the
    * exchange is cluster-keyed and clusters are tiny, so the window never
    * globalizes. All-integer ordering ⇒ the keep verdict replays
    * bit-for-bit.
    */
  def dupBest(spark: SparkSession, dir: String,
              threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = servedDupClusters(spark, dir, threshold)
    val keys = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    clusters.join(keys, Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("n_chars"), (col("rk") === 1).as("keep"))
  }

  /** Per-source duplication rates — the dedup DASHBOARD row a curator
    * reads before anything else: for each source, how many documents sit
    * in a near-dup cluster and how many the min-id survivor policy would
    * drop. A source with an outlier drop rate is a mirror, a scraper
    * echo, or a template farm — this is the number that decides which
    * source gets investigated. All counts exact integers, the rate in
    * 2^20 fixed point by integer division.
    *
    * Served shape: reads [[servedDupClusters]] (never re-clusters), one
    * left join to attach sources, one keyed aggregate. The cluster
    * representative is the component-min label, so `doc_id =!= cluster_id`
    * IS the dropped predicate — no second ranking pass.
    */
  def dupRate(spark: SparkSession, dir: String,
              threshold: Double = 0.5): DataFrame = {
    val clusters = servedDupClusters(spark, dir, threshold)
      .select(col("doc_id"), col("cluster_id"))
    graft.Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(clusters, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cluster_id").isNotNull, 1L).otherwise(0L)).as("n_clustered"),
        sum(when(col("cluster_id").isNotNull &&
          col("doc_id") =!= col("cluster_id"), 1L).otherwise(0L)).as("n_dropped"))
      .select(col("source"), col("n_docs"), col("n_clustered"), col("n_dropped"),
        expr("(1048576 * n_dropped) div n_docs").as("drop_rate_fp"))
  }

  /** LEAKAGE-FREE train/validation split — the assignment every training
    * pipeline needs before any eval number is trustworthy: a naive per-doc
    * hash split puts near-duplicate copies on BOTH sides, so the model is
    * evaluated on (near-)training data and the val loss lies. The fix is
    * to split by NEAR-DUP CLUSTER, not by document: the split key is the
    * cluster representative (the doc itself when unclustered), so an
    * entire duplicate family lands on one side by construction.
    *
    * The split itself is the repo's deterministic salted-md5 device
    * ([[graft.ops.TextOps.domainCap]] / stratifiedSample): hex digests
    * compare LEXICOGRAPHICALLY the same in every engine, so
    * `md5("split:" ++ key) < "1a"` is a portable ≈10.2% cut (prefixes
    * below "1a" cover 26/256 of the uniform hash space) with no
    * hex-to-int conversion to diverge.
    *
    * Served shape: reads [[servedDupClusters]] (never re-clusters), one
    * left join, per-row hash — map-only after the join. At 100 TB both
    * sides bucket by doc_id.
    */
  def splitLeakfree(spark: SparkSession, dir: String,
                    threshold: Double = 0.5,
                    valHexCut: String = "1a"): DataFrame = {
    val clusters = servedDupClusters(spark, dir, threshold)
      .select(col("doc_id"), col("cluster_id"))
    graft.Tables.documents(spark, dir).select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("split_key"))
      .select(col("doc_id"), col("split_key"),
        when(md5(concat(lit("split:"), col("split_key").cast("string")))
          < valHexCut, "val").otherwise("train").as("split"))
  }

  /** Connected components over an undirected pair graph (`left_id`,
    * `right_id` columns) → one `(id, label)` row per node, label = the
    * component minimum. Shared by [[dupClusters]] (text near-dup graph) and
    * [[SimilarityOps.semDedup]] (embedding near-dup graph).
    *
    * Min-label propagation (Pregel-style) — every node starts labeled with
    * itself; each round takes the min of its own and its neighbors' labels,
    * then pointer-doubles (label := label-of-label), so convergence is
    * O(log diameter) rounds; converged when no label changes.
    *
    * WHY AN RDD LOOP (the one deliberate RDD use in this library): an
    * iterative fixpoint with a data-dependent round count is the documented
    * case where a declarative re-plan loses. The round-3 DataFrame loop
    * spent ~0.2 s of DRIVER time per round re-running the analyzer/
    * optimizer/planner on every join (profiled at sf0.1: the four
    * convergence-count jobs cost 0.22 s while the loop wall-clock was
    * 1.29 s — Catalyst planning, not execution, dominated), which is pure
    * fixed cost at any scale. RDD operators construct in O(1); this is
    * exactly the Pregel/GraphX execution shape for CC. The shuffle
    * structure is unchanged and scale-correct: every reduceByKey/join is
    * keyed by node id under ONE shared HashPartitioner, so after the
    * initial partitionBy the per-round joins are narrow (no re-shuffle of
    * the persisted sides); each round materializes and persists its label
    * RDD (the RDD-level lineage truncation), intermediates are unpersisted
    * before return, and the driver sees one convergence scalar per round —
    * all data stays distributed.
    */
  private[ops] def connectedComponents(edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    val spark = edges.sparkSession
    // toRdd (no encoder round-trip); longs are copied out of the row before
    // it is reused by the next iterator element
    val raw = edges
      .select(col("left_id").cast("long"), col("right_id").cast("long"))
      .queryExecution.toRdd
    val part = new HashPartitioner(math.max(raw.getNumPartitions, 1))
    // symmetric adjacency entries (labelOwner, recipient): for edge {l, r}
    // both (r, l) and (l, r) — keyed by the node whose label a message
    // reads, which by symmetry also enumerates each node's neighbors
    val adj = raw.flatMap { row =>
      val l = row.getLong(0); val r = row.getLong(1)
      Iterator((r, l), (l, r))
    }.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    var persisted: List[RDD[_]] = List(adj)

    // seed = min(self, neighbors): the first propagation round fused into
    // initialization. Near-dup components are dense (diameter 1-2), so the
    // seeding alone converges isolated pairs and stars; the loop's first
    // iteration then verifies the fixpoint instead of discovering it
    var labels: RDD[(Long, Long)] = adj.reduceByKey(part, math.min(_, _))
      .mapPartitions(_.map { case (id, nm) => (id, math.min(id, nm)) },
        preservesPartitioning = true)

    var backing: RDD[_] = null // the persisted RDD the final labels read
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val nmin = adj.join(labels, part)
        .map { case (_, (rcpt, l)) => (rcpt, l) }
        .reduceByKey(part, math.min(_, _))
      // carry the pre-step label so convergence is a filter over the
      // persisted step output — the materializing count IS the round's only
      // job (round-3 paid a separate probe job on top of the checkpoint).
      // (Packing two propagation steps per round was tried and measured
      // SLOWER at sf0.1 — post-seed round counts are already 2-3, so the
      // second message join outweighed the saved verify job.)
      val paired = labels.leftOuterJoin(nmin, part)
        .mapValues { case (l, n) => (l, math.min(l, n.getOrElse(l))) }
        .persist(StorageLevel.MEMORY_AND_DISK)
      persisted ::= paired
      val changed = paired.filter { case (_, (prev, l)) => prev != l }.count()
      if (changed == 0L) {
        // step fixpoint ⇒ GLOBAL fixpoint, so skip the doubling join on the
        // final round: stability under one propagation step means
        // label(x) ≤ label(y) along every edge in both directions, i.e. the
        // label is constant per component; combined with the invariants
        // label(x) ≤ x and label(x) ∈ component(x), that constant is the
        // component min — exactly what convergence promises. (The round-3
        // check ran AFTER doubling; this one is equivalent and cheaper.)
        converged = true
        backing = paired
        labels = paired.mapValues(_._2)
      } else {
        // pointer doubling (label := label-of-label): compresses paths each
        // round, so convergence is O(log diameter) instead of O(diameter) —
        // a long chain component can't stretch the round count linearly
        val cur = paired.mapPartitions(
          _.map { case (id, (_, l)) => (id, l) }, preservesPartitioning = true)
        labels = cur.map { case (id, l) => (l, id) }
          .leftOuterJoin(cur, part)
          .map { case (l, (id, ll)) => (id, ll.getOrElse(l)) }
      }
      round += 1
    }
    if (!converged) {
      // maxRounds exit: materialize + persist the last doubled labels so
      // unpersisting the intermediates below cannot cascade a recompute
      val last = labels.persist(StorageLevel.MEMORY_AND_DISK)
      last.count()
      backing = last
      labels = last
    }
    persisted.foreach { r => if (r ne backing) r.unpersist(blocking = false) }
    // a silent non-converged exit would break the contract that the label
    // is the component min (and a transitive-closure oracle would then
    // hash-mismatch for an untraceable reason) — make it loud
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents: label propagation NOT converged after $maxRounds " +
        "rounds; label may not be the component min — raise maxRounds " +
        "(pointer doubling needs O(log diameter) rounds)")
    import spark.implicits._
    spark.createDataset(labels).toDF("id", "label")
  }

  /** Composed (built-ins-only) simhash — retained as the reference
    * implementation the native SimHash64 expression is equality-tested
    * against in FunctionsSpec.
    */
  private[graft] def simhashComposed(hashes: Column): Column = {
    val votes: Seq[Column] = (0 until 64).map { j =>
      val mask = 1L << j
      aggregate(hashes, lit(0L),
        (acc, h) => acc + when(h.bitwiseAND(lit(mask)) =!= 0, lit(1L)).otherwise(lit(-1L)))
    }
    votes.zipWithIndex.map { case (v, j) =>
      when(v > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** SimHash-64 per doc from xxhash64(token) bit votes; bucket = top 16 bits
    * (near-dups collide in-bucket with high probability at hamming ≤ 3).
    * Native single-traversal expression — the composed form walks the token
    * hash array 64 times (once per bit) through interpreted folds.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val tokens = split(trim(col("text")), "\\s+")
    // hash60 tokens (not xxhash64): bits 60-63 are structurally 0, which
    // costs 4 of 64 simhash bits — acceptable, and it buys an exact DuckDB
    // oracle over the identical token hashes
    val hashed = d.select(col("doc_id"),
      transform(tokens, t => hash60(t)).as("hashes"))
    hashed.select(col("doc_id"), expr("simhash64(hashes)").as("simhash"))
      .withColumn("bucket", shiftrightunsigned(col("simhash"), 48))
  }

  /** Word-trigram Jaccard, exact, over MinHash-LSH-blocked candidate pairs.
    *
    * Two-stage scale shape: stage 1 generates candidates from 2 wide LSH
    * bands (never all pairs — a per-language cross join would be O(n²) per
    * group and die at corpus scale); stage 2 computes the exact trigram
    * Jaccard only on candidates. Recall < 1 by construction (LSH), precision
    * exact.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    // tokens staged as a column: inlined, the split() would re-run for every
    // element_at inside the gram lambda (3 evals per gram per row)
    val toks = d.select(col("doc_id"),
      split(lower(trim(col("text"))), "\\s+").as("toks"))
    // try_element_at: 1-2-token docs index past the array end — null-skip
    // (concat_ws drops nulls) matches the oracle instead of an ANSI error
    val grams = transform(sequence(lit(1), greatest(size(col("toks")) - 2, lit(1))),
      i => concat_ws(" ", try_element_at(col("toks"), i), try_element_at(col("toks"), i + 1),
                          try_element_at(col("toks"), i + 2)))
    // 8 gram-level minhashes → 2 bands of 4: wide bands = high-similarity bias
    val base = toks.select(col("doc_id"), array_distinct(grams).as("grams"))
      .withColumn("gram_hashes", transform(col("grams"), g => hash60(g)))
      .withColumn("sig", expr("minhash_slots(gram_hashes, 8)"))
      .drop("gram_hashes")
      .cache() // three consumers, same as minhashPairs; released before return
    val bands = base.select(col("doc_id"), col("grams"),
        posexplode(transform(sequence(lit(0), lit(1)),
          b => struct(element_at(col("sig"), b * 4 + 1).as("h1"),
                      element_at(col("sig"), b * 4 + 2).as("h2"),
                      element_at(col("sig"), b * 4 + 3).as("h3"),
                      element_at(col("sig"), b * 4 + 4).as("h4")))))
      .withColumnsRenamed(Map("pos" -> "band_id", "col" -> "band_key"))
    // same skew guard as minhashPairs: only pair-capable, non-hot buckets
    // join (without it, template-heavy corpora go quadratic in the join).
    // NOTE (r16, measured): unlike minhashPairs, this census stays the
    // narrow groupBy + join-back — the window-count fusion regressed here
    // (0.84 → 1.01 s isolated) because the window's sort drags the wide
    // per-doc gram ARRAYS through the exchange, while the groupBy census
    // shuffles only (band_id, band_key). Payload width picks the shape.
    val useful = bands.groupBy("band_id", "band_key").count()
      .filter(col("count") >= 2 && col("count") <= 64)
      .select("band_id", "band_key")
    val b = bands.join(useful, Seq("band_id", "band_key"))
    val l = b.select(col("band_id"), col("band_key"),
      col("doc_id").as("left_id"), col("grams").as("lg"))
    val r = b.select(col("band_id"), col("band_key"),
      col("doc_id").as("right_id"), col("grams").as("rg"))
    releasing(base)(l.join(r, Seq("band_id", "band_key"))
      .filter(col("left_id") < col("right_id"))
      .dropDuplicates("left_id", "right_id")
      .withColumn("jaccard",
        size(array_intersect(col("lg"), col("rg"))).cast("double") /
        size(array_union(col("lg"), col("rg"))).cast("double"))
      .filter(col("jaccard") >= 0.2)
      .select(col("left_id"), col("right_id"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("left_id"), col("right_id"))
      .limit(50))
  }

  /** Dedup-ESTIMATOR eval — the QA harness a production dedup pipeline
    * runs before trusting its signatures (the [[SimilarityOps]] tier's
    * retrievalEval analog): over a deterministic hash-gated document
    * sample, compare the 8-slot MinHash similarity estimate against the
    * EXACT word-trigram Jaccard on every in-sample pair at `threshold`,
    * and emit one row of (pairs, truth, predicted, hits, precision,
    * recall, f1).
    *
    * Scale shape: ground truth requires exact Jaccard, which must never
    * go all-pairs over the corpus — instead a deterministic gated PROBE
    * set BROADCASTS against one corpus scan: O(probes × corpus), the same
    * join direction percolate uses, never corpus². The probe modulus
    * SCALES with the corpus (max(20, n/25), derived from the same count
    * in both engines) so the probe count stays ~25 no matter the corpus
    * size — the eval is constant-width at any scale. The estimator
    * verdict transfers because the signature law is identical everywhere.
    */
  /** The one threshold both the Spark face and the oracle replay — a
    * parameter here with a hardcoded oracle would silently diverge
    * (r13 review). */
  private[graft] val DedupEvalThreshold = 0.5

  /** Served staging artifact for [[dedupEval]]: per-doc hashed trigram set
    * + 8-slot signature, built ONCE per corpus version (r13 verdict task
    * 6 — the QA harness runs repeatedly per corpus rev and its dominant
    * cost was re-hashing every trigram of every document per run: 1.7
    * cpu-s at sf0.1 for ~25 probes). The eval becomes a store read + the
    * bounded probe crossjoin; the oracle still derives the same sets from
    * `documents` directly, so the gate is unchanged.
    */
  private def servedEvalStage(spark: SparkSession, dir: String): DataFrame =
    DerivedStore.parquet(spark, "evalstage8b", dir, "documents.parquet") {
      val toks = Tables.documents(spark, dir).select(col("doc_id"),
        split(lower(trim(col("text"))), "\\s+").as("toks"))
      val grams = transform(sequence(lit(1), greatest(size(col("toks")) - 2, lit(1))),
        i => concat_ws(" ", try_element_at(col("toks"), i), try_element_at(col("toks"), i + 1),
                            try_element_at(col("toks"), i + 2)))
      // exact Jaccard runs on the HASHED gram sets (int64 intersects,
      // not string compares — identical values in both engines because
      // the oracle replays the same hash60; collisions at 2^60 are
      // negligible and, crucially, identical on both sides of the gate)
      toks.select(col("doc_id"),
          transform(array_distinct(grams), g => hash60(g)).as("gh"))
        .withColumn("sig", expr("minhash_slots(gh, 8)"))
        // per-doc set sizes as store-build statistics, so the pair
        // frame never touches the gram arrays (parquet prunes `gh` out
        // of the signature scan entirely): sz feeds the size gate
        // (the oracle's len(l.m)), szd the union identity below
        .withColumn("sz", size(col("gh")))
        .withColumn("szd", size(array_distinct(col("gh"))))
    }

  def dedupEval(spark: SparkSession, dir: String): DataFrame = {
    // no threshold parameter on purpose: the oracle interpolates
    // DedupEvalThreshold, so a divergent value is a compile-time
    // impossibility rather than a runtime require (r13 second review)
    val threshold = DedupEvalThreshold
    val base = servedEvalStage(spark, dir)
    val nDocs = base.count() // 1-value driver artifact (one store row per doc)
    val modulus = math.max(20L, nDocs / 25L)
    val isProbe = pmod(col("doc_id"), lit(modulus)) === 3
    // exact-intersection sizes via ONE distinct-gram equi-join — the r13
    // form built two hash sets per PAIR (array_intersect + array_union
    // over ~200-element arrays × probes × corpus = the query's whole
    // cpu); this computes every |l ∩ r| in one codegen'd broadcast join +
    // keyed count, and the union comes free from the set identity
    // |l ∪ r| = |l| + |r| − |l ∩ r| (sizes are store statistics). Same
    // set semantics as array_intersect/array_union: both sides explode
    // DISTINCT gram hashes.
    val lGrams = base.filter(isProbe)
      .select(col("doc_id").as("left_id"), explode(array_distinct(col("gh"))).as("h"))
    val rGrams = base
      .select(col("doc_id").as("right_id"), explode(array_distinct(col("gh"))).as("h"))
    val inter = rGrams.join(broadcast(lGrams), Seq("h")) // probes broadcast
      .filter(col("left_id") =!= col("right_id"))
      .groupBy("left_id", "right_id")
      .agg(count(lit(1)).as("n_inter"))
    // the pair frame rides SIGNATURES + sizes only (gh pruned out of both
    // scans); inter joins back LEFT — a no-overlap pair has n_inter 0
    val probes = base.filter(isProbe)
      .select(col("doc_id").as("left_id"), col("sig").as("lsig"),
        col("sz").as("lsz"), col("szd").as("lszd"))
    val corpus = base
      .select(col("doc_id").as("right_id"), col("sig").as("rsig"),
        col("sz").as("rsz"), col("szd").as("rszd"))
    val est = (1 to 8).map(i =>
        when(element_at(col("lsig"), i) === element_at(col("rsig"), i), lit(1))
          .otherwise(lit(0)))
      .reduce(_ + _).cast("double") / lit(8.0)
    // size bound: j ≥ θ is impossible unless the smaller set holds at
    // least θ× the larger — spelled on the raw sizes like the oracle
    val sizeOk = least(col("lsz"), col("rsz")).cast("double") >=
      lit(threshold) * greatest(col("lsz"), col("rsz")).cast("double")
    val nInter = coalesce(col("n_inter"), lit(0L))
    val exact = nInter.cast("double") /
      (col("lszd") + col("rszd") - nInter).cast("double")
    val pairs = broadcast(probes).crossJoin(corpus) // probes × corpus scan
      .filter(col("left_id") =!= col("right_id"))
      .join(broadcast(inter), Seq("left_id", "right_id"), "left")
      .select((sizeOk && exact >= threshold).as("truth"), (est >= threshold).as("pred"))
    val p = when(col("n_pred") > 0,
      col("n_hit").cast("double") / col("n_pred").cast("double")).otherwise(lit(0.0))
    val rr = when(col("n_truth") > 0,
      col("n_hit").cast("double") / col("n_truth").cast("double")).otherwise(lit(0.0))
    pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("truth"), 1L).otherwise(0L)).as("n_truth"),
        sum(when(col("pred"), 1L).otherwise(0L)).as("n_pred"),
        sum(when(col("truth") && col("pred"), 1L).otherwise(0L)).as("n_hit"))
      .withColumn("precision", p)
      .withColumn("recall", rr)
      .withColumn("f1", when(col("precision") + col("recall") > 0,
        lit(2.0) * col("precision") * col("recall") / (col("precision") + col("recall")))
        .otherwise(lit(0.0)))
  }

  /** Shared CTE chain: shingles → portable hashes → affine signature →
    * banding → census guard → candidate pairs (lsig/rsig attached).
    */
  /** The shingle → portable-hash → signature → banding CTE chain alone —
    * shared by [[candCtes]] (corpus self-join) and the incremental oracle
    * (corpus/batch split), so banding can never fork between gates.
    */
  private[ops] def bandCtes: String = {
    val slots = (0 until 8).map(slotSql).mkString(",\n    ")
    s"""sh AS (
       |  SELECT doc_id, list_distinct([substr(text, CAST(i AS INT), 5)
       |    for i in range(1, greatest(len(text)-4, 1)+1)]) AS shs
       |  FROM documents),
       |ms AS (SELECT doc_id, [${sql60("s")} for s in shs] AS m FROM sh),
       |sg AS (SELECT doc_id, [
       |    $slots] AS sig FROM ms),
       |bands AS (
       |  SELECT doc_id, sig, b AS band_id, [sig[2*b+1], sig[2*b+2]] AS bk
       |  FROM sg, (SELECT unnest(range(4)) AS b) bs)""".stripMargin
  }

  private[ops] def candCtes: String = {
    s"""$bandCtes,
       |useful AS (
       |  SELECT band_id, bk FROM bands GROUP BY band_id, bk
       |  HAVING count(*) BETWEEN 2 AND 64),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id,
       |         l.sig AS lsig, r.sig AS rsig
       |  FROM bands l
       |  JOIN useful u ON l.band_id = u.band_id AND l.bk = u.bk
       |  JOIN bands r ON l.band_id = r.band_id AND l.bk = r.bk
       |             AND l.doc_id < r.doc_id)""".stripMargin
  }

  /** DuckDB replay of the full MinHash+LSH pipeline (shingles → portable
    * hashes → affine signature → banding → census guard → pair join →
    * signature-agreement estimate). Exact-match oracle, not a brute-force
    * approximation: the banded candidate set itself is part of the contract.
    */
  private def minhashPairsOracle: String =
    s"""WITH $candCtes
       |SELECT left_id, right_id,
       |  CAST(len([i for i in range(1,9) if lsig[i] = rsig[i]]) AS DOUBLE) / 8
       |    AS est_jaccard
       |FROM cand
       |ORDER BY est_jaccard DESC, left_id, right_id
       |LIMIT 50""".stripMargin

  /** DuckDB replay of the incremental admission: same banding chain, the
    * corpus/batch split by the fixture predicate, the corpus-side bucket
    * census (≤ 64 — baked into the Spark store at build), best-estimate
    * verdict with est-DESC/id-ASC ties on exact eighths.
    */
  private def incrementalDedupOracle: String =
    s"""WITH $bandCtes,
       |corpus AS (SELECT * FROM bands WHERE doc_id % 20 <> 7),
       |batch AS (SELECT * FROM bands WHERE doc_id % 20 = 7),
       |cuseful AS (
       |  SELECT band_id, bk FROM corpus GROUP BY band_id, bk
       |  HAVING count(*) <= 64),
       |cand AS (
       |  SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id,
       |         b.sig AS bsig, c.sig AS csig
       |  FROM batch b
       |  JOIN corpus c ON b.band_id = c.band_id AND b.bk = c.bk
       |  JOIN cuseful u ON c.band_id = u.band_id AND c.bk = u.bk),
       |est AS (
       |  SELECT batch_id, corpus_id,
       |    CAST(len([i for i in range(1,9) if bsig[i] = csig[i]]) AS DOUBLE) / 8
       |      AS est
       |  FROM cand),
       |best AS (
       |  SELECT batch_id, corpus_id, est,
       |    row_number() OVER (PARTITION BY batch_id
       |      ORDER BY est DESC, corpus_id ASC) AS rn
       |  FROM est)
       |SELECT a.doc_id AS batch_id,
       |  CASE WHEN b.est IS NULL THEN FALSE ELSE b.est >= 0.75 END AS is_dup,
       |  CASE WHEN b.est >= 0.75 THEN b.corpus_id END AS dup_of,
       |  coalesce(b.est, 0.0) AS best_est
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 = 7) a
       |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON a.doc_id = b.batch_id""".stripMargin

  /** The est-thresholded edge CLOSURE (candidate pairs → undirected edges
    * → transitive reach → per-doc component min) — ONE definition that
    * every cluster-replaying oracle (clusters, best, rate, split,
    * hard-negatives) interpolates after `WITH RECURSIVE $candCtes,`, so
    * the closure semantics — the 0.5 threshold, the UNION dedup, the
    * min-label representative — can never fork between gates.
    */
  private[ops] val clusterClosureCtes: String =
    """p AS MATERIALIZED (
      |  SELECT left_id, right_id FROM (
      |    SELECT left_id, right_id,
      |      CAST(len([i for i in range(1,9) if lsig[i] = rsig[i]]) AS DOUBLE) / 8 AS est
      |    FROM cand)
      |  WHERE est >= 0.5),
      |edges AS MATERIALIZED (
      |  SELECT left_id AS src, right_id AS dst FROM p
      |  UNION ALL SELECT right_id, left_id FROM p),
      |reach AS (
      |  SELECT DISTINCT src AS id, src AS label FROM edges
      |  UNION
      |  SELECT e.src AS id, r.label FROM edges e JOIN reach r ON e.dst = r.id),
      |comp AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** Recursive-CTE replay of the connected-components step: transitive
    * closure of reachable labels, min per node — exactly the fixpoint the
    * Spark label propagation converges to.
    */
  private def dupClustersOracle: String =
    s"""WITH RECURSIVE $candCtes,
       |$clusterClosureCtes
       |SELECT c.doc_id, c.cluster_id, s.cluster_size
       |FROM comp c
       |JOIN (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp
       |      GROUP BY cluster_id) s USING (cluster_id)""".stripMargin

  /** [[dupClusters]]' recursive replay extended with the keep-best-copy
    * policy: longest n_chars wins, min doc_id ties.
    */
  private def dupBestOracle: String =
    s"""WITH RECURSIVE $candCtes,
       |$clusterClosureCtes,
       |sized AS (
       |  SELECT c.doc_id, c.cluster_id, s.cluster_size, d.n_chars,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |      ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk
       |  FROM comp c
       |  JOIN (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp
       |        GROUP BY cluster_id) s USING (cluster_id)
       |  JOIN documents d USING (doc_id))
       |SELECT doc_id, cluster_id, cluster_size, n_chars, rk = 1 AS keep
       |FROM sized""".stripMargin

  /** [[dupClusters]]' recursive replay folded into the per-source rates. */
  private def dupRateOracle: String =
    s"""WITH RECURSIVE $candCtes,
       |$clusterClosureCtes
       |SELECT d.source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN c.cluster_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_clustered,
       |  CAST(SUM(CASE WHEN c.cluster_id IS NOT NULL AND d.doc_id <> c.cluster_id
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |  (1048576 * CAST(SUM(CASE WHEN c.cluster_id IS NOT NULL
       |     AND d.doc_id <> c.cluster_id THEN 1 ELSE 0 END) AS BIGINT))
       |    // COUNT(*) AS drop_rate_fp
       |FROM documents d LEFT JOIN comp c USING (doc_id)
       |GROUP BY d.source""".stripMargin

  /** DuckDB replay of the LSH-blocked exact word-trigram Jaccard. */
  private def ngramJaccardOracle: String = {
    val slots = (0 until 8).map(slotSql).mkString(",\n    ")
    s"""WITH tk AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, list_distinct([concat_ws(' ', toks[i], toks[i+1], toks[i+2])
       |    for i in range(1, greatest(len(toks)-2, 1)+1)]) AS grams
       |  FROM tk),
       |ms AS (SELECT doc_id, grams, [${sql60("s")} for s in grams] AS m FROM g),
       |sg AS (SELECT doc_id, grams, [
       |    $slots] AS sig FROM ms),
       |bands AS (
       |  SELECT doc_id, grams, b AS band_id,
       |         [sig[4*b+1], sig[4*b+2], sig[4*b+3], sig[4*b+4]] AS bk
       |  FROM sg, (SELECT unnest(range(2)) AS b) bs),
       |useful AS (
       |  SELECT band_id, bk FROM bands GROUP BY band_id, bk
       |  HAVING count(*) BETWEEN 2 AND 64),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id,
       |         l.grams AS lg, r.grams AS rg
       |  FROM bands l
       |  JOIN useful u ON l.band_id = u.band_id AND l.bk = u.bk
       |  JOIN bands r ON l.band_id = r.band_id AND l.bk = r.bk
       |             AND l.doc_id < r.doc_id)
       |SELECT * FROM (
       |  SELECT left_id, right_id,
       |    CAST(len(list_intersect(lg, rg)) AS DOUBLE)
       |      / len(list_distinct(list_concat(lg, rg))) AS jaccard
       |  FROM cand)
       |WHERE jaccard >= 0.2
       |ORDER BY jaccard DESC, left_id, right_id
       |LIMIT 50""".stripMargin
  }

  /** DuckDB replay of the estimator eval: the same trigram/signature laws
    * as [[ngramJaccardOracle]], the doc_id%20=3 probe set against every
    * other document, counts and ratios with the guards spelled identically.
    */
  private def dedupEvalOracle: String = {
    val slots = (0 until 8).map(slotSql).mkString(",\n    ")
    s"""WITH tk AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, list_distinct([concat_ws(' ', toks[i], toks[i+1], toks[i+2])
       |    for i in range(1, greatest(len(toks)-2, 1)+1)]) AS grams
       |  FROM tk),
       |ms AS (SELECT doc_id, [${sql60("s")} for s in grams] AS m FROM g),
       |sg AS (SELECT doc_id, m, [
       |    $slots] AS sig FROM ms),
       |pairs AS (
       |  SELECT
       |    (CAST(least(len(l.m), len(r.m)) AS DOUBLE)
       |       >= $DedupEvalThreshold * greatest(len(l.m), len(r.m)))
       |    AND ((CAST(len(list_intersect(l.m, r.m)) AS DOUBLE)
       |      / len(list_distinct(list_concat(l.m, r.m)))) >= $DedupEvalThreshold) AS truth,
       |    (CAST(len([i for i in range(1,9) if l.sig[i] = r.sig[i]]) AS DOUBLE) / 8)
       |      >= $DedupEvalThreshold AS pred
       |  FROM (SELECT * FROM sg
       |        WHERE doc_id % (SELECT greatest(20, count(*) // 25) FROM documents) = 3) l
       |  JOIN sg r ON l.doc_id <> r.doc_id),
       |agg AS (
       |  SELECT count(*) AS n_pairs,
       |    sum(CASE WHEN truth THEN 1 ELSE 0 END) AS n_truth,
       |    sum(CASE WHEN pred THEN 1 ELSE 0 END) AS n_pred,
       |    sum(CASE WHEN truth AND pred THEN 1 ELSE 0 END) AS n_hit
       |  FROM pairs),
       |pr AS (
       |  SELECT CAST(n_pairs AS BIGINT) AS n_pairs, CAST(n_truth AS BIGINT) AS n_truth,
       |    CAST(n_pred AS BIGINT) AS n_pred, CAST(n_hit AS BIGINT) AS n_hit,
       |    CASE WHEN n_pred > 0 THEN CAST(n_hit AS DOUBLE) / CAST(n_pred AS DOUBLE)
       |         ELSE 0.0 END AS precision,
       |    CASE WHEN n_truth > 0 THEN CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE)
       |         ELSE 0.0 END AS recall
       |  FROM agg)
       |SELECT *, CASE WHEN precision + recall > 0
       |  THEN 2.0 * precision * recall / (precision + recall) ELSE 0.0 END AS f1
       |FROM pr""".stripMargin
  }

  /** DuckDB replay of simhash64 over hash60 tokens: per-bit sign votes.
    * Bits 60-63 are structurally zero (hash60 < 2^60), so the sum stops at
    * bit 59 — identical to the native expression's output on these inputs.
    */
  private def simhashOracle: String = {
    val terms = (0 until 60).map { j =>
      s"""(CASE WHEN list_sum([CASE WHEN ((x >> $j) & 1) = 1 THEN 1 ELSE -1 END
         | for x in h]) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"""
        .stripMargin.replace("\n", "")
    }.mkString("\n    + ")
    s"""WITH hs AS (
       |  SELECT doc_id,
       |    [${sql60("t")} for t in string_split_regex(trim(text), '\\s+')] AS h
       |  FROM documents),
       |v AS (SELECT doc_id, $terms AS simhash FROM hs)
       |SELECT doc_id, simhash, simhash >> 48 AS bucket FROM v""".stripMargin
  }

  /** EXACT SUBSTRING DEDUP as a TRANSFORM (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" §4.1 shape): every w-token
    * window whose exact content occurs more than once ANYWHERE in the
    * corpus is removed from the document — tokens covered by at least one
    * duplicated window are dropped, the remainder is re-joined. Unlike the
    * q_dup_* SIGNALS (fractions a filter thresholds on), this emits the
    * cleaned corpus itself: (doc_id, n_toks, n_removed, clean_text).
    *
    * Scale shape: windows explode with their start position and exchange
    * ONCE keyed by window content — the occurrence count is a window over
    * that same exchange (the `keywords` df pattern, no join-back); dup
    * starts then group per doc (bounded by the doc's own window count) and
    * the span-union filter runs row-locally over the token array. Nothing
    * is global. The exchange keys on the 60-bit md5-prefix window hash
    * (native [[graft.functions.GramHash60Pos]] — positional, duplicates
    * kept: one traversal per doc, no per-window string allocation, and
    * 8-byte shuffle keys instead of ~50-byte window strings; the
    * hash-keyed form cut this query 1.08 → 0.5s at sf0.1). A 60-bit
    * collision can only OVER-remove — the right failure mode for a
    * removal heuristic, and the oracle replays the same hashes so the
    * gate stays exact. The per-token coverage test is O(|dup_starts|) per
    * token — a sorted-merge sweep at real doc lengths; spelled as
    * `exists` so both engines share it.
    */
  def dedupSpans(spark: SparkSession, dir: String, w: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = filter(split(lower(trim(col("text"))), "\\s+"),
      t => length(t) > 0)
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("toks"))
    val wins = base
      .select(col("doc_id"),
        posexplode(expr(s"gram_hash60_pos(toks, $w)")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("g"))
    val dupStarts = wins
      .withColumn("occ", count(lit(1)).over(Window.partitionBy("g")))
      .filter(col("occ") >= 2)
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("pos"))).as("dup_starts"))
    val ds = coalesce(col("dup_starts"), array().cast("array<int>"))
    val kept = filter(col("toks"), (t, i) => // i 0-based; positions 1-based
      !exists(ds, s => s <= i + 1 && i + 1 <= s + (w - 1)))
    base.join(dupStarts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        (size(col("toks")) - size(kept)).cast("long").as("n_removed"),
        concat_ws(" ", kept).as("clean_text"))
  }

  /** ASYMMETRIC containment pairs — `|A∩B| / |A|` over word-trigram sets:
    * the sub-document-copy detector symmetric Jaccard is structurally
    * blind to (a 20-gram doc pasted verbatim inside a 100-gram doc has
    * Jaccard ≤ 0.2 but containment 1.0). Dolma/RefinedWeb-class pipelines
    * run exactly this signal for quote/boilerplate/excerpt analysis.
    *
    * Blocking is the load-bearing choice: minhash-LSH bands (the
    * [[ngramJaccard]] stage-1) estimate JACCARD, so they systematically
    * MISS high-containment/low-Jaccard pairs — the very target. Candidates
    * instead come from a RARE-shared-gram self-join: explode distinct
    * grams, keep grams with 2 ≤ df ≤ `dfCap` (the df guard is the same
    * boilerplate-saturation defense sourceOverlap and the minhash bucket
    * caps use — ubiquitous grams would go quadratic), pair docs sharing
    * one. A contained copy of ≥ 1 rare gram is found; pure-boilerplate
    * overlap is excluded BY the guard, which is the curation-correct
    * reading. Exact containment then runs on candidates only.
    *
    * Scale shape: one gram exchange (count window reuses it), a keyed
    * self-join on the guarded grams, two keyed joins back for the gram
    * arrays — no broadcast of corpus-scaled data, no cross join anywhere.
    *
    * Cost notes (measured at sf0.1): the synthetic bench corpus is
    * ADVERSARIAL for rare-gram blocking — a ~40-word vocabulary puts mean
    * trigram df ≈ 12, so nearly every gram lands inside the [2, dfCap]
    * band (natural text is Zipfian: df=1 grams dropped, boilerplate
    * capped, thin band). Three measured levers got the adversarial case
    * from 13 s to 1.2 s: the `minShared` gate keeps the array join-back
    * off one-gram chance pairs (it cut the DuckDB replay 68 → 7.8 s);
    * persisting `base` and `gramRows` stops every self-join side and
    * join-back from re-running the gram pipeline; and keying the df
    * window + self-join on the 60-bit hash instead of the gram STRING
    * moves 8-byte longs through both shuffles (9.3 → 1.2 s together with
    * the persists).
    */
  def containmentPairs(spark: SparkSession, dir: String,
                       minContainment: Double = 0.5, dfCap: Int = 8,
                       k: Int = 50): DataFrame =
    containmentPairsOn(Tables.documents(spark, dir), minContainment, dfCap,
      k = k)

  /** The same detector over any (doc_id, text) frame — the seam DedupSpec
    * plants sub-document copies and boilerplate saturation through.
    */
  private[graft] def containmentPairsOn(d: DataFrame,
                                        minContainment: Double = 0.5,
                                        dfCap: Int = 8,
                                        minShared: Int = 2,
                                        k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = d.select(col("doc_id"),
      split(lower(trim(col("text"))), "\\s+").as("toks"))
    // r16: the per-doc distinct gram set is staged directly as 60-bit gram
    // HASHES via the native one-pass `gram_hash60` (bit-identical to
    // hash60 over the concat_ws gram strings, distinct + short-doc
    // clipping laws included — FunctionsSpec). The composed form built a
    // concat string + md5-hex + base-16 parse PER GRAM OCCURRENCE and was
    // this query's whole CPU bill (isolated sf0.1 cpuSec 5.7 → see
    // OPTIMIZATION_r16.md); downstream the containment intersections now
    // compare 8-byte longs instead of ~30-byte strings. The oracle
    // intersects the gram STRINGS — equality of the outputs holds modulo
    // md5-prefix collisions (≈ n²/2^60; the hash gate would catch one).
    // base is read THREE times (both self-join sides derive from it, and
    // both array join-backs) — persist it, or each consumer re-runs the
    // whole gram construction over the corpus
    val base = toks.select(col("doc_id"),
        call_function("gram_hash60", col("toks"), lit(3)).as("grams"))
      .persist()
    // join/shuffle key = the 60-bit md5-prefix gram hash, not the ~30-byte
    // gram STRING: the df window and the self-join move 8-byte longs
    // instead of strings (measured 9.3 → 2.6 s at sf0.1), and the oracle
    // joins on the SAME hash, so even a collision (≈ n²/2^60, none at any
    // test scale) would replay identically. gramRows itself is persisted:
    // it feeds both sides of the self-join, and uncached each side would
    // re-run the explode + window pipeline.
    val gramRows = base.select(col("doc_id"),
        explode(col("grams")).as("gk"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("gk")))
      .filter(col("df") >= 2 && col("df") <= dfCap)
      .select(col("gk"), col("doc_id"))
      .persist()
    // ≥ minShared INDEPENDENT rare co-occurrences gate the expensive
    // array join-back: one shared rare gram is routine chance (on a
    // small-vocabulary corpus the [2, dfCap] band alone admits millions
    // of one-gram pairs), two is quadratically suppressed noise, while a
    // real contained copy shares its whole gram set. The count is
    // computed on the id pairs only — the arrays join AFTER the gate.
    val cand = gramRows.select(col("gk"), col("doc_id").as("left_id"))
      .join(gramRows.select(col("gk"), col("doc_id").as("right_id")), Seq("gk"))
      .filter(col("left_id") < col("right_id"))
      .groupBy("left_id", "right_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    val inter = size(array_intersect(col("lg"), col("rg"))).cast("double")
    val cl = inter / size(col("lg")).cast("double")
    val cr = inter / size(col("rg")).cast("double")
    val out = cand
      .join(base.select(col("doc_id").as("left_id"), col("grams").as("lg")), Seq("left_id"))
      .join(base.select(col("doc_id").as("right_id"), col("grams").as("rg")), Seq("right_id"))
      .select(col("left_id"), col("right_id"), col("n_shared"),
        round(cl, 6).as("contain_l"), round(cr, 6).as("contain_r"),
        greatest(cl, cr).as("c_raw"))
      .filter(col("c_raw") >= minContainment)
      .orderBy(col("c_raw").desc, col("left_id"), col("right_id"))
      .limit(k)
      .drop("c_raw")
    val materialized = releasingBounded(base)(out)
    gramRows.unpersist()
    materialized
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    * SIGMOD 2003; the MOSS algorithm): over the positional k-gram hash
    * stream, slide a `w`-hash window and select each window's MINIMUM
    * (rightmost on ties — the paper's robust-winnowing rule, realized
    * cross-engine as first-match over the REVERSED window). The selected
    * (position, hash) set is the fingerprint: any shared substring of
    * length ≥ k + w − 1 tokens is GUARANTEED to contribute at least one
    * common fingerprint — the local-selection guarantee neither plain
    * [[graft.ops.TextOps.fingerprint]] (whole-doc hash: any edit breaks
    * it) nor random sampling (no guarantee) has. Selection density is
    * bounded in [1/w, 1], so the fingerprint is a tunable-size sketch.
    *
    * One map-only scan: the hash stream is the same native
    * `gram_hash60_pos` the span dedup keys on, and window-min selection
    * is a per-row expression — zero shuffles at any corpus size. Docs
    * shorter than one full window winnow their whole (shorter) hash
    * array — one selection; sub-k-token docs fingerprint empty. Output
    * digests the ordered (pos:hash) pairs to one md5 so the driver gate
    * hash-compares the SELECTION itself, not a lossy summary.
    */
  def winnow(spark: SparkSession, dir: String, k: Int = 4, w: Int = 4): DataFrame =
    winnowCore(Tables.documents(spark, dir), k, w)
      .select(col("doc_id"),
        size(col("gs")).cast("long").as("n_grams"),
        size(col("pos")).cast("long").as("n_fp"),
        md5(concat_ws(" ", transform(col("pos"), p =>
          concat(p.cast("string"), lit(":"),
            element_at(col("gs"), p.cast("int")).cast("string")))))
          .as("fp_md5"))

  /** The selection itself — (doc_id, gs: all positional hashes, pos:
    * selected 1-based positions) — the seam DedupSpec drives the
    * shared-substring guarantee and density bounds through.
    */
  private[graft] def winnowCore(docs: DataFrame, k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"need k,w >= 1, got k=$k w=$w")
    val toks = filter(split(lower(trim(col("text"))), "\\s+"),
      t => length(t) > 0)
    // native one-pass monotonic-deque selection — bit-identical to the
    // composed slice/reverse/array_min form ([[winnowSelectComposed]],
    // FunctionsSpec) which allocated four arrays per window and was the
    // engine's last local weak-gate row
    docs
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), expr(s"gram_hash60_pos(toks, $k)").as("gs"))
      .select(col("doc_id"), col("gs"),
        expr(s"winnow_select(gs, $w)").as("pos"))
  }

  /** The r13 composed spelling of the winnowing selection over a `gs`
    * hash-array column — kept as the independent reference the native
    * `winnow_select` is bit-equality-tested against (FunctionsSpec).
    */
  private[graft] def winnowSelectComposed(w: Int): Column = {
    def sl(i: Column) = slice(col("gs"), i, lit(w))
    val selected = transform(
      sequence(lit(1), greatest(size(col("gs")) - lit(w - 1), lit(1))),
      i => (i.cast("long") + size(sl(i)).cast("long")) -
        array_position(reverse(sl(i)), array_min(sl(i))))
    when(size(col("gs")) > 0, array_sort(array_distinct(selected)))
      .otherwise(array().cast("array<long>"))
  }

  /** Exact replay of [[dedupSpans]] at w=8: same tokenizer spelling, same
    * 1-based window starts, the gram_hash60 md5-prefix hash per POSITION
    * (the q_dup_ngram_frac comprehension minus its `list_distinct`, with
    * no truncated tail gram), occurrence count over the hash, and the same
    * span-union token filter (DuckDB's lambda index is 1-based where
    * Spark's is 0-based — both test the 1-based position).
    */
  private def dedupSpansOracle: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |gr AS (
      |  SELECT doc_id,
      |    [CAST('0x' || substr(md5(concat_ws(' ',
      |        toks[i], toks[i+1], toks[i+2], toks[i+3],
      |        toks[i+4], toks[i+5], toks[i+6], toks[i+7])),1,15) AS BIGINT)
      |      for i in range(1, CASE WHEN len(toks) >= 8 THEN len(toks) - 6 ELSE 1 END)] AS gs
      |  FROM t),
      |wn AS (
      |  SELECT doc_id, CAST(u.i AS INT) AS pos, gs[CAST(u.i AS INT)] AS g
      |  FROM gr, LATERAL unnest(range(1, len(gs) + 1)) AS u(i)),
      |oc AS (
      |  SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY g) AS occ FROM wn)
      |  WHERE occ >= 2),
      |ds AS (SELECT doc_id, list_sort(list(DISTINCT pos)) AS dup_starts
      |       FROM oc GROUP BY doc_id),
      |f AS (
      |  SELECT t.doc_id, len(t.toks) AS n, t.toks,
      |    coalesce(ds.dup_starts, CAST([] AS INT[])) AS dst
      |  FROM t LEFT JOIN ds USING (doc_id)),
      |k AS (
      |  SELECT doc_id, n,
      |    list_filter(toks, (x, j) ->
      |      len(list_filter(dst, s -> s <= j AND j <= s + 7)) = 0) AS kept
      |  FROM f)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_toks,
      |  CAST(n - len(kept) AS BIGINT) AS n_removed,
      |  coalesce(array_to_string(kept, ' '), '') AS clean_text
      |FROM k""".stripMargin

  /** Exact replay of [[winnow]] at k=4, w=4 — the positional-hash
    * comprehension (minus nothing: duplicates kept), window-min with the
    * rightmost-tie rule via reversed first-match, the same (pos:hash)
    * digest format.
    */
  private def winnowOracle: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    [CAST('0x' || substr(md5(concat_ws(' ',
      |        toks[i], toks[i+1], toks[i+2], toks[i+3])),1,15) AS BIGINT)
      |      for i in range(1, CASE WHEN len(toks) >= 4 THEN len(toks) - 2 ELSE 1 END)] AS gs
      |  FROM t),
      |s AS (
      |  SELECT doc_id, gs,
      |    CASE WHEN len(gs) = 0 THEN CAST([] AS BIGINT[])
      |    ELSE list_sort(list_distinct([
      |      CAST(i + len(list_slice(gs, i, i + 3))
      |           - list_position(list_reverse(list_slice(gs, i, i + 3)),
      |                           list_min(list_slice(gs, i, i + 3))) AS BIGINT)
      |      for i in range(1, greatest(len(gs) - 3, 1) + 1)])) END AS pos
      |  FROM g)
      |SELECT doc_id,
      |  CAST(len(gs) AS BIGINT) AS n_grams,
      |  CAST(len(pos) AS BIGINT) AS n_fp,
      |  md5(array_to_string([CAST(p AS VARCHAR) || ':' ||
      |      CAST(gs[CAST(p AS INT)] AS VARCHAR) for p in pos], ' ')) AS fp_md5
      |FROM s""".stripMargin

  /** Exact replay of [[containmentPairs]]: identical gram spelling to the
    * Jaccard oracle, the df window guard, the rare-gram pair join, and the
    * same raw-greatest ordering with id tie-breaks.
    */
  private def containmentOracle: String =
    """WITH tk AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |gsets AS (
      |  SELECT doc_id, list_distinct([concat_ws(' ', toks[i], toks[i+1], toks[i+2])
      |    for i in range(1, greatest(len(toks)-2, 1)+1)]) AS grams
      |  FROM tk),
      |gr AS (
      |  SELECT doc_id, CAST('0x' || substr(md5(g),1,15) AS BIGINT) AS gk
      |  FROM (SELECT doc_id, unnest(grams) AS g FROM gsets)),
      |guarded AS (
      |  SELECT gk, doc_id FROM (
      |    SELECT gk, doc_id, COUNT(*) OVER (PARTITION BY gk) AS df FROM gr)
      |  WHERE df BETWEEN 2 AND 8),
      |cand AS (
      |  SELECT l.doc_id AS left_id, r.doc_id AS right_id,
      |         CAST(COUNT(*) AS BIGINT) AS n_shared
      |  FROM guarded l JOIN guarded r ON l.gk = r.gk AND l.doc_id < r.doc_id
      |  GROUP BY l.doc_id, r.doc_id HAVING COUNT(*) >= 2),
      |p AS (
      |  SELECT left_id, right_id, n_shared,
      |    CAST(len(list_intersect(ld.grams, rd.grams)) AS DOUBLE) AS inter,
      |    CAST(len(ld.grams) AS DOUBLE) AS nl,
      |    CAST(len(rd.grams) AS DOUBLE) AS nr
      |  FROM cand
      |  JOIN gsets ld ON cand.left_id = ld.doc_id
      |  JOIN gsets rd ON cand.right_id = rd.doc_id)
      |SELECT left_id, right_id, n_shared,
      |  round(inter / nl, 6) AS contain_l,
      |  round(inter / nr, 6) AS contain_r
      |FROM p
      |WHERE greatest(inter / nl, inter / nr) >= 0.5
      |ORDER BY greatest(inter / nl, inter / nr) DESC, left_id, right_id
      |LIMIT 50""".stripMargin

  /** Replay: the recursive-CTE cluster closure (shared with dup_best /
    * dup_rate) feeds the same coalesce(cluster, doc) split key and the same
    * lexicographic md5-hex cut — engine-portable by construction.
    */
  private def splitLeakfreeOracle: String =
    s"""WITH RECURSIVE $candCtes,
       |$clusterClosureCtes
       |SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS split_key,
       |  CASE WHEN md5('split:' || CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR))
       |       < '1a' THEN 'val' ELSE 'train' END AS split
       |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_split_leakfree" -> splitLeakfreeOracle,
    "q_containment" -> containmentOracle,
    "q_winnow" -> winnowOracle,
    "q_dedup_spans" -> dedupSpansOracle,
    "q_minhash_pairs" -> minhashPairsOracle,
    "q_incremental_dedup" -> incrementalDedupOracle,
    "q_dup_clusters" -> dupClustersOracle,
    "q_dup_best" -> dupBestOracle,
    "q_dup_rate" -> dupRateOracle,
    "q_ngram_jaccard" -> ngramJaccardOracle,
    "q_dedup_eval" -> dedupEvalOracle,
    "q_simhash" -> simhashOracle,
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q_minhash_sig" ->
      """SELECT doc_id,
        |  list_min([md5('s1' || substr(text, CAST(i AS INT), 5)) for i in range(1, greatest(len(text)-4, 1)+1)]) AS mh1,
        |  list_min([md5('s2' || substr(text, CAST(i AS INT), 5)) for i in range(1, greatest(len(text)-4, 1)+1)]) AS mh2,
        |  list_min([md5('s3' || substr(text, CAST(i AS INT), 5)) for i in range(1, greatest(len(text)-4, 1)+1)]) AS mh3,
        |  list_min([md5('s4' || substr(text, CAST(i AS INT), 5)) for i in range(1, greatest(len(text)-4, 1)+1)]) AS mh4
        |FROM documents""".stripMargin)
}
