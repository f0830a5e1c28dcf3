package graft.ops

import graft.{DerivedStore, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over `documents`
  * (token counting, language ID, quality scoring, fingerprinting).
  *
  * Everything here is built from codegen'd `functions._` expressions — no
  * UDFs — so the whole stage stays inside WholeStageCodegen and scales
  * embarrassingly parallel (per-row, no shuffle).
  */
object TextOps {

  /** The fused single-traversal metrics struct
    * ([[graft.functions.TextMetrics]]): every counter the token-count /
    * quality / language-ID operators read, computed in one pass instead of
    * six regex passes. Bit-identical to [[textMetricsComposed]]
    * (FunctionsSpec + PropertySpec).
    */
  private def metrics: Column = call_function("text_metrics", col("text"))

  /** The composed (regexp_count/split) form of the metrics struct — the
    * semantic reference the native expression is equality-tested against.
    * Six Java-regex passes per row — don't use in hot paths.
    */
  private[graft] def textMetricsComposed: Column = {
    val trimmed = trim(col("text"))
    struct(
      length(col("text")).as("n_chars"),
      when(length(trimmed) === 0, lit(0))
        .otherwise(size(split(trimmed, "\\s+"))).as("n_tokens"),
      regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).as("bpe_tokens"),
      regexp_count(col("text"), lit("[^A-Za-z0-9\\s]")).as("punct"),
      hits(col("text"), "\\b(the|a|an|and|or|of|in|to|is)\\b").as("stop_hits"),
      hits(col("text"), "\\b(the|and|of|is|to)\\b").as("en_hits"),
      hits(col("text"), "\\b(der|die|und|das|ist)\\b").as("de_hits"),
      hits(col("text"), "\\b(le|et|les|des|est)\\b").as("fr_hits"),
      hits(col("text"), "\\b(el|los|las|una|es)\\b").as("es_hits"),
      regexp_count(col("text"), lit("[\\x{4e00}-\\x{9fff}]")).as("cjk_hits"))
  }

  /** Whitespace token count + a BPE-ish regex token estimate
    * (letters-runs | digit-runs | single other-non-space).
    */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val m = metrics
    d.select(
      col("doc_id"),
      col("n_chars"),
      m.getField("n_chars").as("n_chars_calc"),
      m.getField("n_tokens").as("n_tokens"),
      m.getField("bpe_tokens").as("bpe_tokens"))
  }

  /** REAL subword token count: [[graft.functions.BpeCount]] applies the
    * rank-ordered [[graft.functions.BpeModel.merges]] table inside each
    * pre-tokenizer piece (the `bpe_tokens` column above only counted the
    * pieces). One codegen'd projection, zero shuffles; the DuckDB oracle
    * replays the merge chain as one global regexp_replace per rank (exact —
    * equivalence argued on BpeModel). A corpus-trained table from
    * [[bpeTrainMerges]] drops into the same slot; the oracled face uses the
    * fixture, which a statically-authored oracle can inline.
    */
  def tokenCountBpe(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(spark, dir).select(
      col("doc_id"),
      size(regexp_extract_all(col("text"),
        lit(graft.functions.BpeModel.PreTokPattern), lit(0)))
        .cast("long").as("n_pieces"),
      call_function("bpe_count", col("text")).as("n_bpe_tokens"))

  /** The composed regexp-replace-chain form of `bpe_count` — the semantic
    * reference the native expression is equality-tested against
    * (FunctionsSpec) and the exact shape the DuckDB oracle replays. One
    * interpreted lambda + |merges|+1 regex passes PER PIECE — don't use in
    * hot paths.
    *
    * Token encoding: every token is written `|tok/` — a LEAD marker and a
    * TRAIL marker, both outside the letter alphabet. The merge pattern
    * `\|a/\|b/` therefore (a) can never match a token SUFFIX (the lead `|`
    * must immediately precede all of `a` — tokens `xa`,`b` don't match
    * `a`,`b`), (b) can never match a token PREFIX (`b` must be immediately
    * followed by its trail `/` — tokens `a`,`bab` don't match `a`,`b`),
    * and (c) stays exhaustive over adjacent same-pair runs in one global
    * pass (each token carries its OWN markers, so a match consumes no
    * neighbor's boundary: `|a/|a/|a/|a/` → `|aa/|aa/`). A single-separator
    * format fails (a): `xa/b/` contains `a/b/` — the bug this docstring
    * exists to prevent.
    */
  private[graft] def tokenCountBpeComposed: Column = {
    val pieces = regexp_extract_all(col("text"),
      lit(graft.functions.BpeModel.PreTokPattern), lit(0))
    def chain(marked: Column): Column =
      graft.functions.BpeModel.merges.foldLeft(marked) { case (acc, (a, b)) =>
        regexp_replace(acc, s"\\|$a/\\|$b/", s"|$a$b/")
      }
    val perPiece = transform(pieces, p =>
      when(p.rlike("^[A-Za-z]+$"),
        (size(split(chain(regexp_replace(p, "(.)", "|$1/")), "/")) - 1).cast("long"))
        .otherwise(length(p).cast("long")))
    aggregate(perPiece, lit(0L), (acc, x) => acc + x)
  }

  /** BPE merge-table TRAINING (Sennrich et al. 2016): the distributed part
    * is a corpus-wide word count capped to the top-`vocabCap` words — BPE
    * trains on a word-frequency DICTIONARY, which is vocabulary-bounded, so
    * the driver-side merge loop runs over a model-sized artifact (same
    * class as the IVF codebook; the cap is the standard dictionary
    * truncation, not a correctness fudge). Each round counts adjacent pair
    * frequencies over the dictionary, merges the argmax pair (ties:
    * lexicographic — deterministic across runs), and rewrites the
    * dictionary in place. The output table is valid by construction
    * ([[graft.functions.BpeModel.requireValid]] passes on it) and feeds the
    * same counting mechanics as the fixture.
    */
  def bpeTrainMerges(spark: SparkSession, dir: String, nMerges: Int = 32,
                     vocabCap: Int = 4096): Vector[(String, String)] = {
    val words = Tables.documents(spark, dir)
      .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc)
      .limit(vocabCap)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    var dict: Array[(Array[String], Long)] =
      words.map { case (w, c) => (w.toCharArray.map(_.toString), c) }
    val out = Vector.newBuilder[(String, String)]
    var r = 0
    var done = false
    while (r < nMerges && !done) {
      val pairCounts = scala.collection.mutable.HashMap[(String, String), Long]()
      for ((toks, c) <- dict; i <- 0 until toks.length - 1)
        pairCounts.updateWith((toks(i), toks(i + 1)))(p => Some(p.getOrElse(0L) + c))
      if (pairCounts.isEmpty) done = true
      else {
        val best = pairCounts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        out += best
        dict = dict.map { case (toks, c) =>
          (graft.functions.BpeModel.mergePass(toks, best._1, best._2), c) }
        r += 1
      }
    }
    out.result()
  }

  private def hits(c: Column, pattern: String): Column =
    regexp_count(lower(c), lit(pattern))

  /** N-gram/marker-word language ID heuristic: CJK codepoints ⇒ zh, else
    * argmax of per-language stopword hits with a fixed tie order. The same
    * arithmetic is replicated in the DuckDB oracle — both engines run RE2/
    * Java-compatible patterns.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val m = metrics
    d.select(col("doc_id"), col("lang"),
        m.getField("en_hits").as("en_hits"), m.getField("de_hits").as("de_hits"),
        m.getField("fr_hits").as("fr_hits"), m.getField("es_hits").as("es_hits"),
        m.getField("cjk_hits").as("cjk_hits"))
      .withColumn("lang_pred",
        when(col("cjk_hits") > 0, "zh")
          .when(col("en_hits") >= col("de_hits") && col("en_hits") >= col("fr_hits") &&
                col("en_hits") >= col("es_hits"), "en")
          .when(col("de_hits") >= col("fr_hits") && col("de_hits") >= col("es_hits"), "de")
          .when(col("fr_hits") >= col("es_hits"), "fr")
          .otherwise("es"))
  }

  /** The argmax CASE of [[langId]] as a single expression over `text` —
    * shared by [[filterChain]] so the gate never rescans for a second
    * metric frame. Must stay in lockstep with langId's column form.
    */
  private def langPredCol: Column = {
    val m = metrics
    val en = m.getField("en_hits")
    val de = m.getField("de_hits")
    val fr = m.getField("fr_hits")
    val es = m.getField("es_hits")
    when(m.getField("cjk_hits") > 0, "zh")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  /** The quality sub-expressions over `text`, shared by [[qualityScore]]
    * (the metric table) and [[filterChain]] (the gate): (punct_ratio,
    * stop_ratio, mean_word_len, quality_score).
    */
  private def qualityParts: (Column, Column, Column, Column) = {
    val m = metrics
    val nChars   = m.getField("n_chars").cast("double")
    val nTokens  = m.getField("n_tokens").cast("double")
    val punct    = m.getField("punct").cast("double")
    val stopHits = m.getField("stop_hits").cast("double")
    val punctRatio = punct / greatest(nChars, lit(1.0))
    val stopRatio  = stopHits / greatest(nTokens, lit(1.0))
    val meanWordLen = nChars / greatest(nTokens, lit(1.0))
    val lengthOk = (nChars >= 50 && nChars <= 10000).cast("int").cast("double")
    val score = lengthOk * lit(0.4) +
      when(stopRatio > 0.02, lit(0.3)).otherwise(lit(0.0)) +
      when(punctRatio < 0.2, lit(0.3)).otherwise(lit(0.0))
    (punctRatio, stopRatio, meanWordLen, score)
  }

  /** Quality scoring: length, punctuation ratio, stopword ratio, mean word
    * length — combined into a [0,1] score. Deterministic per-row IEEE math,
    * identical on both engines.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val m = metrics
    val (punctRatio, stopRatio, meanWordLen, score) = qualityParts
    d.select(col("doc_id"),
      m.getField("n_chars").cast("double").as("n_chars_d"),
      m.getField("n_tokens").cast("double").as("n_tokens_d"),
      punctRatio.as("punct_ratio"), stopRatio.as("stop_ratio"),
      meanWordLen.as("mean_word_len"), score.as("quality_score"))
  }

  /** Document fingerprint: md5 over whitespace-collapsed lowercased text —
    * the exact-dedup key. (A rolling/winnowing fingerprint variant lives in
    * DedupOps as the minhash path.)
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val normalized = lower(regexp_replace(trim(col("text")), "\\s+", " "))
    d.select(col("doc_id"),
      md5(col("text").cast("binary")).as("raw_md5"),
      md5(normalized.cast("binary")).as("norm_fingerprint"))
  }

  /** Corpus length statistics per language: exact linear-interpolation
    * percentiles (the curation dashboard's length histogram). Exact
    * `percentile`, not `percentile_approx`: t-digest/GK sketches are
    * engine-specific, while both engines compute the same
    * `p·(n−1)`-interpolated order statistic bit-for-bit — so the oracle can
    * hash-match. Scale: one shuffle on lang (5 groups); exact percentile
    * sorts within-group — at 100 TB switch to `percentile_approx` (same
    * call shape) and trade the hash gate for an error-bound contract like
    * q_approx_distinct's.
    */
  def lengthStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      min("n_chars").as("min_chars"),
      max("n_chars").as("max_chars"),
      avg(col("n_chars")).as("avg_chars"),
      expr("percentile(n_chars, 0.5)").as("p50"),
      expr("percentile(n_chars, 0.9)").as("p90"),
      expr("percentile(n_chars, 0.99)").as("p99"))
  }

  /** The 100 TB percentile path, graded: `percentile_approx` (KLL-style
    * sketch, mergeable, no within-group sort) next to the exact windows that
    * bound it. Sketches are engine-specific, so — like q_approx_distinct —
    * the OUTPUT is the contract, not the estimate: accuracy=1000 guarantees
    * the returned element's rank is within n/1000 of the target, and the
    * emitted booleans assert it lands inside the much wider exact rank
    * windows p∈[0.45,0.55] and p∈[0.85,0.95]. A broken sketch flips a
    * boolean and fails the driver's hash gate; the exact percentiles ride
    * along so the row is still value-anchored.
    */
  def lengthApprox(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        expr("percentile(n_chars, 0.5)").as("exact_p50"),
        expr("percentile(n_chars, 0.9)").as("exact_p90"),
        expr("percentile(n_chars, 0.45)").as("lo50"),
        expr("percentile(n_chars, 0.55)").as("hi50"),
        expr("percentile(n_chars, 0.85)").as("lo90"),
        expr("percentile(n_chars, 0.95)").as("hi90"),
        percentile_approx(col("n_chars"), lit(0.5), lit(1000)).as("a50"),
        percentile_approx(col("n_chars"), lit(0.9), lit(1000)).as("a90"))
      .select(col("lang"), col("n_docs"), col("exact_p50"), col("exact_p90"),
        col("a50").between(col("lo50"), col("hi50")).as("p50_in_bounds"),
        col("a90").between(col("lo90"), col("hi90")).as("p90_in_bounds"))
  }

  /** Deterministic stratified sampling: per-language Bernoulli rates keyed
    * on the portable 60-bit doc-id hash — the training-mix downsampler
    * (keep all low-resource languages, thin the dominant one). Hash-gated
    * (`hash60(id) % 100 < rate`), NOT `rand()`: the sample is reproducible
    * across runs, engines, and task retries, and adding documents never
    * flips the membership of existing ones. Pure per-row filter — no
    * shuffle, pushes nothing but computes nothing heavier than one md5.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val rate = when(col("lang") === "en", lit(25))
      .when(col("lang") === "zh", lit(50))
      .otherwise(lit(100))
    d.filter(pmod(DedupOps.hash60(col("doc_id").cast("string")), lit(100)) < rate)
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /** Benchmark decontamination: flag corpus documents sharing any word
    * 8-gram with an "eval set" (here: doc_ids < 20 stand in for a held-out
    * benchmark). The standard contamination check run before training.
    *
    * Scale shape: the eval side is SMALL by definition (benchmarks are
    * thousands of rows, not billions) — its distinct gram hashes broadcast,
    * so the corpus side is a map-only scan + broadcast semi-join per gram
    * with a final per-doc count: no shuffle of the corpus, no all-pairs.
    * Grams hash through the portable [[DedupOps.hash60]] so DuckDB replays
    * membership exactly.
    */
  /** The composed gram stage — the semantic reference `gram_hash60` is
    * bit-equality-tested against in FunctionsSpec. Interpreted lambda with a
    * concat + md5-hex + base-16 parse PER GRAM — don't use in hot paths.
    */
  private[graft] def gramHash60Composed(toks: Column, nGram: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(size(toks) - (nGram - 1), lit(1))),
      i => DedupOps.hash60(concat_ws(" ",
        (0 until nGram).map(k => try_element_at(toks, i + k)): _*))))

  def decontaminate(spark: SparkSession, dir: String, nGram: Int = 8,
                    evalMaxId: Long = 20L): DataFrame = {
    // STAGE the token array as a column before the gram stage references
    // it 8 times per gram — inlined, the split() re-runs per
    // try_element_at (same trap ngramJaccard documents; inlining measured
    // 22s vs 1.5s at sf0.1)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
    // native fused sliding-window md5 (GramHash60): one thread-local digest
    // per window, token bytes fetched once per doc, no per-gram strings —
    // ≡ gramHash60Composed per FunctionsSpec, ≡ the oracle's hash60 replay
    val grams: Column = expr(s"gram_hash60(toks, $nGram)")
    toks.filter(col("doc_id") >= evalMaxId)
      .select(col("doc_id"), explode(grams).as("g"))
      .join(broadcast(servedEvalGrams(spark, dir, nGram, evalMaxId)), Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_contaminated_grams"))
  }

  /** The eval set's distinct gram hashes, SERVED from a per-(dir, nGram,
    * evalMaxId) store — the same train/serve split as the unigram / DSIR
    * models: a benchmark suite is a fixed artifact, its gram set is derived
    * once and every decontamination run reads it, never re-derives it. This
    * is also how the real pipeline works (eval sets are versioned files, the
    * contamination gram index ships with them).
    *
    * Perf attribution (the round-7 regression): rebuilding the eval set
    * inline cost a distinct shuffle + broadcast-collect of a corpus-derived
    * subtree on EVERY call — diag showed 4 jobs, 1.62 s wall vs 0.93 cpuSec
    * (the gap = the extra job dispatch + exchange). Served, steady state is
    * one corpus gram scan joined to a broadcast of a tiny parquet scan.
    */
  private def servedEvalGrams(spark: SparkSession, dir: String, nGram: Int,
                              evalMaxId: Long): DataFrame =
    DerivedStore.parquet(spark, s"evalgrams-$nGram-$evalMaxId", dir,
        "documents.parquet") {
      Tables.documents(spark, dir)
        .filter(col("doc_id") < evalMaxId)
        .select(split(lower(trim(col("text"))), "\\s+").as("toks"))
        .select(explode(expr(s"gram_hash60(toks, $nGram)")).as("g"))
        .distinct()
    }

  /** Corpus-wide duplicated-n-gram profile (the RefinedWeb / Dolma
    * "duplicate text fraction" signal): for each document, the fraction of
    * its DISTINCT word 8-grams that also appear in at least one other
    * document. Complements the pairwise tiers — `ngramJaccard` compares
    * document pairs, this profiles each document against the whole corpus
    * (boilerplate, syndicated fragments, template text score high without
    * any single near-duplicate partner).
    *
    * Scale shape: per-doc distinct grams ride the native `gram_hash60`
    * (one traversal, no per-gram strings); document frequency is a count
    * window over the gram exchange — the `keywords` df pattern: one gram
    * shuffle feeds both the df and the per-doc rollup, no second corpus
    * scan, no join-back. Both shuffles are keyed (gram, then doc_id);
    * nothing is ever global.
    */
  def dupNgramFraction(spark: SparkSession, dir: String,
                       nGram: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docGrams = Tables.documents(spark, dir)
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
      .select(col("doc_id"), explode(expr(s"gram_hash60(toks, $nGram)")).as("g"))
    docGrams
      // (doc_id, g) is distinct by construction ⇒ the window count IS df
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_dup_grams"),
        round(col("n_dup_grams").cast("double") / col("n_grams"), 6).as("dup_frac"))
  }

  /** Gopher-style repetition metrics per document: the fraction of word
    * bigram occurrences claimed by the single most frequent bigram, and the
    * fraction of trigram occurrences whose trigram appears more than once —
    * the two classic "templated/spammy document" signals a quality filter
    * thresholds on (Rae et al. 2021, table of repetition filters).
    *
    * Scale shape: shuffle-FREE. All four counters are PER-DOCUMENT
    * quantities (no cross-document state exists), so the native fused
    * [[graft.functions.GramStats]] expression computes them row-locally in
    * one token-array traversal — the round-3 explode + two
    * `groupBy(doc_id, gram)` aggregations + join paid a full doc_id
    * repartition for metrics that never needed one. Bit-identical to
    * [[repetitionStatsComposed]] (FunctionsSpec + PropertySpec); TextSpec
    * pins the plan at ZERO exchanges. The per-row count map is bounded by
    * the document's own token count — the same bound the exploded gram
    * array already materialized.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val gs = call_function("gram_stats",
      split(lower(trim(col("text"))), "\\s+"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), gs.as("gs"))
      .select(col("doc_id"),
        col("gs.n_bigrams").as("n_bigrams"),
        col("gs.top_bigram_n").as("top_bigram_n"),
        (col("gs.top_bigram_n").cast("double") / col("gs.n_bigrams"))
          .as("top_bigram_frac"),
        col("gs.n_trigrams").as("n_trigrams"),
        col("gs.dup_trigram_occ").as("dup_trigram_occ"),
        (col("gs.dup_trigram_occ").cast("double") / col("gs.n_trigrams"))
          .as("dup_trigram_frac"))
  }

  /** The composed (explode + double groupBy + join) gram-aggregation core
    * over a staged (doc_id, toks) frame — the semantic reference the native
    * `gram_stats` expression is equality-tested against (FunctionsSpec +
    * PropertySpec). Pays a doc_id shuffle for per-document quantities —
    * don't use in hot paths.
    */
  private[graft] def repetitionStatsComposed(toks: DataFrame): DataFrame = {
    // same partial-gram edge handling as decontaminate/ngramJaccard: short
    // docs yield one truncated gram (concat_ws drops the null tail), which
    // the oracle replays with identical range/NULL semantics
    def grams(n: Int): Column =
      transform(sequence(lit(1), greatest(size(col("toks")) - (n - 1), lit(1))),
        i => concat_ws(" ", (0 until n).map(k => try_element_at(col("toks"), i + k)): _*))
    val big = toks.select(col("doc_id"), explode(grams(2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_bigrams"),
        max("c").as("top_bigram_n"))
    val tri = toks.select(col("doc_id"), explode(grams(3)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_trigrams"),
        sum(when(col("c") >= 2, col("c")).otherwise(lit(0L))).as("dup_trigram_occ"))
    big.join(tri, Seq("doc_id"))
      .withColumn("top_bigram_frac",
        col("top_bigram_n").cast("double") / col("n_bigrams"))
      .withColumn("dup_trigram_frac",
        col("dup_trigram_occ").cast("double") / col("n_trigrams"))
  }

  /** Corpus-mix dashboard: per (lang, source) document/token/char totals and
    * each cell's share of the global token budget — the table a training-mix
    * designer reads before setting sampling weights (and the denominator the
    * stratified sampler's rates come from).
    *
    * Scale shape: one hash aggregation over the corpus (map-side partial,
    * ~langs×sources result rows) collected as a MODEL ARTIFACT — the
    * result set is bounded by the lang/source vocabulary, never by corpus
    * size, so the driver round-trip is constant-sized (same class as the
    * IVF codebook / probe-cell ranking). No window, no second corpus scan,
    * no cache bookkeeping.
    */
  def corpusMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE corpus scan: the (lang, source) aggregate is langs×sources-
    // bounded BY CONSTRUCTION (≤ ~10³ rows at any corpus size), so it is a
    // model artifact, not data — collect it once and derive the global
    // total + shares driver-side, exactly like the ANN paths rank probe
    // cells on the driver. The round-7 shape (cache + count +
    // localCheckpoint + release around a broadcast-scalar join) spent 7
    // jobs — 0.9 cpuSec but up to 2.3 s wall — on materialization hygiene
    // for a result this small; collect-once is 1 aggregate job, and the
    // artifact is SERVED per (dir, content version) like every other model
    // store, so steady state is 0 cluster jobs.
    // Share arithmetic is one IEEE double division per cell, the same op
    // the oracle's `CAST(n_tokens AS DOUBLE) / total` performs.
    val cells = corpusMixCells.computeIfAbsent(
      s"$dir@${Tables.contentVersion(spark, s"$dir/documents.parquet")}",
      _ => Tables.documents(spark, dir)
        .groupBy("lang", "source").agg(
          count(lit(1)).as("n_docs"),
          sum(metrics.getField("n_tokens")).as("n_tokens"),
          sum("n_chars").as("n_chars_sum"))
        .collect())
    val total = cells.map(_.getAs[Long]("n_tokens")).sum.toDouble
    cells.toSeq
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_chars_sum"), r.getAs[Long]("n_tokens") / total))
      .toDF("lang", "source", "n_docs", "n_tokens", "n_chars_sum", "token_share")
  }

  /** Collected (lang, source) cells per (dir, content version) — in-memory
    * because the artifact is ≤ ~10³ tiny rows (a parquet store would cost
    * more to read than to hold); version-keyed so a rewritten corpus
    * re-aggregates instead of serving stale totals.
    */
  private val corpusMixCells =
    new java.util.concurrent.ConcurrentHashMap[String, Array[org.apache.spark.sql.Row]]()

  /** Corpus-wide top duplicated n-grams — the boilerplate REPORT the
    * dedup fractions summarize: WHICH trigrams dominate the corpus, with
    * total occurrences and document frequency. This is the list a curator
    * actually reads (cookie banners, navigation chrome, license headers)
    * before writing removal rules; [[dupNgramFraction]] scores documents,
    * this names the culprits.
    *
    * Scale: one corpus scan exploding word trigrams (as STRINGS — the
    * report needs readable grams; the dedup tier's 60-bit hashes stay its
    * internal key), one gram-keyed aggregate computing occurrences and df
    * together, partial top-k out. The gram aggregate is
    * vocabulary-bounded, far below corpus size, and map-side combine
    * absorbs the Zipf head before the exchange.
    */
  def topNgrams(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    // bounded (k-row) report: computed once per (dir, content version, k)
    // and served from the same driver-side version-keyed artifact cache
    // [[corpusMix]] uses — a boilerplate report is a maintained ARTIFACT
    // (refreshed when the corpus version changes), not a per-call
    // derivation. Within the build the vocabulary cache is collected and
    // RELEASED eagerly (r10 ADVICE: no per-call executor-cache
    // accumulation; the k-row driver-side entry is the whole footprint).
    val key = s"$dir@${Tables.contentVersion(spark, s"$dir/documents.parquet")}@$k"
    val (rows, schema) = topNgramRows.computeIfAbsent(key, _ => {
      val (counts, res) = topNgramsPlan(spark, dir, k)
      val out = DedupOps.releasingBounded(counts)(res)
      (out.collect(), out.schema)
    })
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private val topNgramRows = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType)]()

  /** The LAZY plan face of [[topNgrams]] — `(persisted intermediate,
    * result)`, the seam PlanSpec pins the two-pass shape through.
    */
  private[graft] def topNgramsPlan(spark: SparkSession, dir: String,
                                   k: Int = 20): (DataFrame, DataFrame) = {
    // TWO-PASS NATIVE-HASH plan: the naive form (transform + concat_ws +
    // explode, group by gram STRING) spends 8.4s of pure CPU at sf0.1 —
    // higher-order lambdas are interpreted and every window allocates a
    // string. Pass 1 counts on the codegen'd 60-bit positional gram hash
    // (8-byte keys, zero string allocation — the span-dedup/winnowing
    // stream); only the ~k boundary survivors ever get their string built
    // in pass 2. Correctness: candidates are every hash with occ ≥ the
    // 2k-th-largest hash occ. The margin matters — a collision MERGES two
    // grams' counts, so it can inflate the k-th-largest hash occ above a
    // genuine top-k gram's own hash occ and evict it from a k-cut
    // (r10 ADVICE); with the 2k-cut the superset property provably holds
    // through k simultaneous pair-collisions (each merged key displaces at
    // most one rank, and a true top-k gram's hash occ is never BELOW its
    // true occ), and at 60 bits even one collision is ≈10⁻⁶ at millions
    // of grams. The final string-keyed aggregate recomputes exact
    // per-gram counts, so a collision can only ever cost a candidate row,
    // never corrupt a surviving row's numbers.
    import org.apache.spark.sql.expressions.Window
    val toksCol = filter(split(lower(trim(col("text"))), "\\s+"),
      t => length(t) > 0)
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), toksCol.as("toks"))
    def wins(b: DataFrame): DataFrame = b
      .select(col("doc_id"), col("toks"),
        posexplode(expr("gram_hash60_pos(toks, 3)")))
      .select(col("doc_id"), col("toks"), col("pos"), col("col").as("g"))
    val counts = wins(base)
      .groupBy("g")
      .agg(count(lit(1)).as("occ"), countDistinct("doc_id").as("df"))
      .persist() // vocabulary-sized; read twice (threshold + candidates)
    val kth = counts.orderBy(col("occ").desc).limit(2 * k)
      .agg(min("occ").as("thr"))
    val cands = counts.crossJoin(broadcast(kth))
      .filter(col("occ") >= col("thr"))
      .select("g")
    val res = wins(base)
      .join(broadcast(cands), Seq("g"), "left_semi")
      .select(col("doc_id"),
        concat_ws(" ", element_at(col("toks"), col("pos") + 1),
          element_at(col("toks"), col("pos") + 2),
          element_at(col("toks"), col("pos") + 3)).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("occ"), countDistinct("doc_id").as("df"))
      .orderBy(col("occ").desc, col("gram").asc)
      .limit(k)
    (counts, res)
  }

  /** Per-source document cap — the anti-spam guard every web-scale
    * curation pipeline runs (Dolma/C4-class: no single domain may dominate
    * the corpus): keep at most `cap` documents per source, selected in
    * DETERMINISTIC HASH order rather than file order, so the kept subset
    * is an unbiased sample that replays bit-for-bit (md5 of a salted
    * doc_id — the same device stratifiedSample uses — with doc_id
    * tie-break). Emits the full verdict relation (doc_id, source, rank,
    * keep), the shape downstream gates compose.
    *
    * Scale: one source-keyed rank window — the exchange key is the domain,
    * and a skew-heavy domain is exactly the thing being capped; at 100 TB
    * the window short-circuits via LimitPushDownThroughWindow-class
    * optimizations or a per-domain partial top-cap pre-aggregation.
    */
  def domainCap(spark: SparkSession, dir: String, cap: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        md5(concat(lit("cap:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("source"), col("rk"),
        (col("rk") <= cap).as("keep"))
  }

  /** Temperature-scaled source sampling weights — the multilingual /
    * multi-source mixing policy (XLM-R's α-sampling, mT5's temperature τ):
    * raw share p_s = n_s/N is flattened to p_s^(1/τ) and renormalized, so
    * low-resource sources are upsampled without letting any source
    * dominate. τ is PINNED at 2 (α = 0.5, the published XLM-R setting)
    * because x^(1/2) is `sqrt` — the one power IEEE 754 requires correctly
    * rounded, hence bit-identical cross-engine; an arbitrary τ would route
    * through pow/exp, the free-double class that cost q_sig_terms its r9
    * hash. The flattened shares are rounded to 2^20 fixed point and the
    * final weights are INTEGER division of those integers — the whole
    * policy vector replays exactly.
    *
    * Scale: one corpus scan into a sources-bounded aggregate (a model
    * artifact, like [[corpusMix]]); the two scalar totals ride 1-row
    * broadcasts. Output is the per-source sampling policy a data loader
    * consumes directly.
    */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir)
      .groupBy("source").agg(sum(metrics.getField("n_tokens")).as("n_tokens"))
    val tot = src.agg(sum("n_tokens").cast("double").as("total"))
    val sq = src.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        round(lit(1048576.0) *
            sqrt(col("n_tokens").cast("double") / col("total")))
          .cast("long").as("sqrt_share_fp"))
    val denom = sq.agg(sum("sqrt_share_fp").as("den"))
    sq.crossJoin(broadcast(denom))
      .select(col("source"), col("n_tokens"), col("sqrt_share_fp"),
        expr("(1048576 * sqrt_share_fp) div den").as("weight_fp"))
  }

  /** Temperature-BUDGETED corpus selection — [[temperatureMix]] turned from
    * a policy vector into a concrete document list: each source gets a
    * token budget `(weight_fp · corpus_tokens/budgetDenom) div 2^20` and
    * its documents are admitted in deterministic salted-hash order (the
    * [[domainCap]] device — an unbiased, retry-stable sample) until the
    * running token sum exceeds the budget. This is the mixture-construction
    * step a loader runs after the mixing weights are decided: DoReMi /
    * XLM-R weights say HOW MUCH of each source; this says WHICH documents.
    *
    * Everything is exact integer arithmetic — token counts, the fixed-point
    * weight, the integer budget division, the running ROWS-framed sum (the
    * frame is pinned ROWS, not RANGE, though the (md5, doc_id) order key is
    * already unique) — so the keep verdict replays bit-for-bit. (At ~10^13
    * corpus tokens `weight_fp · corpus_tokens` approaches the long edge —
    * the documented DECIMAL(38,0) switch, same note as volumeAnomaly.)
    *
    * Scale shape: the budgets frame is sources-bounded and broadcast; the
    * one exchange is the source-keyed window — the same key domainCap
    * shuffles, with the same skew note (a hot source is exactly the thing
    * being budget-capped).
    */
  def budgetMix(spark: SparkSession, dir: String,
                budgetDenom: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE text_metrics corpus scan: the per-doc frame is persisted and
    // feeds BOTH the source-totals aggregate (→ weights/budgets, the
    // temperatureMix arithmetic inlined over the same integers) and the
    // admission window — calling temperatureMix here would tokenize the
    // corpus a second time (measured 0.89 → ~0.55 s at sf0.1). Released
    // via the semDedup-class localCheckpoint (the result is corpus-sized,
    // so the bounded-collect release doesn't apply).
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        metrics.getField("n_tokens").cast("long").as("n_toks"),
        md5(concat(lit("mix:"), col("doc_id").cast("string"))).as("h"))
      .persist()
    val src = docs.groupBy("source").agg(sum("n_toks").as("n_tokens"))
    val tot = src.agg(sum("n_tokens").cast("double").as("total"),
      sum("n_tokens").as("corpus_tokens"))
    val sq = src.crossJoin(broadcast(tot))
      .select(col("source"), col("corpus_tokens"),
        round(lit(1048576.0) *
            sqrt(col("n_tokens").cast("double") / col("total")))
          .cast("long").as("sqrt_share_fp"))
    val denom = sq.agg(sum("sqrt_share_fp").as("den"))
    val budgets = sq.crossJoin(broadcast(denom))
      .select(col("source"),
        expr(s"(((1048576 * sqrt_share_fp) div den) * " +
          s"(corpus_tokens div $budgetDenom)) div 1048576").as("budget_toks"))
    val win = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val res = docs.join(broadcast(budgets), Seq("source"))
      .withColumn("running_toks", sum(col("n_toks")).over(win))
      .select(col("doc_id"), col("source"), col("n_toks"),
        col("running_toks"), col("budget_toks"),
        (col("running_toks") <= col("budget_toks")).as("keep"))
    DedupOps.releasing(docs)(res)
  }

  /** Context-window packing: assign documents to fixed-token-budget chunks —
    * the step that turns a curated corpus into training sequences. Greedy
    * running-sum packing: a document joins the chunk its starting token
    * offset falls in, so chunks can overflow by at most one document (the
    * standard concat-then-split packing contract).
    *
    * Scale shape: packing is embarrassingly parallel ACROSS shards — the
    * window is partitioned by `shard = hash60(doc_id) % nShards`, never
    * global (no single-partition WindowExec), and the shard hash is
    * deterministic and retry-stable, like the stratified sampler's gate. The
    * within-shard `ORDER BY doc_id` sort is the honest cost of a
    * deterministic packing order; at 100 TB, nShards scales with the cluster
    * and each shard sorts independently. chunk_id = shard·2³² + local index
    * is globally unique without any cross-shard coordination.
    */
  def packChunks(spark: SparkSession, dir: String, nShards: Int = 8,
                 ctxTokens: Int = 2048): DataFrame =
    packOn(Tables.documents(spark, dir), metrics.getField("n_tokens"),
      nShards, ctxTokens)

  /** Deterministic GLOBAL SHUFFLE of the packed training chunks — the
    * "shuffle once at write time" trick every epoch-based trainer needs:
    * each chunk gets a seeded-hash shuffle shard and a within-shard
    * position, so readers stream shards in `pos` order and consume a
    * reproducible pseudorandom permutation of the corpus with NO global
    * sort — a new epoch is a new `seed`, not a new shuffle of the data.
    *
    * Shape at 100 TB: ONE hash repartition (the shard assignment) + a
    * local per-shard sort — exactly the write path; the permutation is
    * pure arithmetic on chunk ids (md5-based hash60), so any engine
    * replays it and a resumed run re-derives the same order from the
    * seed alone.
    */
  def shuffleOrder(spark: SparkSession, dir: String, seed: Long = 17L,
                   nShuffleShards: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nShuffleShards >= 1)
    val h = DedupOps.hash60(concat(col("chunk_id").cast("string"),
      lit(":"), lit(seed).cast("string")))
    val w = Window.partitionBy(col("shuffle_shard"))
      .orderBy(col("h").asc, col("chunk_id").asc)
    packChunks(spark, dir).select(col("chunk_id")).distinct()
      .withColumn("h", h)
      .withColumn("shuffle_shard", pmod(col("h"), lit(nShuffleShards.toLong)))
      .withColumn("pos", row_number().over(w))
      .select(col("chunk_id"), col("shuffle_shard"), col("pos"))
  }

  /** [[packChunks]] with the budget measured by the REAL subword tokenizer
    * (`bpe_count`) instead of the whitespace count — what a training
    * pipeline actually packs by, since the context window is a subword
    * budget. Same shard-parallel window, same overflow contract.
    */
  def packChunksBpe(spark: SparkSession, dir: String, nShards: Int = 8,
                    ctxTokens: Int = 2048): DataFrame =
    packOn(Tables.documentsSpread(spark, dir),
      call_function("bpe_count", col("text")), nShards, ctxTokens)

  /** Curriculum-ordered packing — [[packChunks]] composed WITH the CCNet
    * perplexity split: context windows are packed WITHIN each
    * (quality-bucket, shard) partition and the chunk id encodes the bucket
    * in its top bits, so a trainer reading chunks in id order consumes
    * head → middle → tail — the quality-curriculum data order (Wenzek
    * 2020 trains preferentially on the head; curriculum-learning
    * schedules start there). The LAST composition step of the corpus
    * tier: curate → dedup → bucket → pack comes out as one relation a
    * loader shards by chunk_id.
    *
    * Scale: the bucket join adds one keyed exchange over [[packChunks]]'s
    * shard windows (the LM score itself is served — see
    * [[unigramLogprob]]); windows stay partitioned by (bucket, shard), so
    * parallelism multiplies by 3 rather than collapsing, and the id
    * arithmetic is cross-shard-coordination-free like packChunks'.
    */
  def curriculumPack(spark: SparkSession, dir: String, nShards: Int = 8,
                     ctxTokens: Int = 2048): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val buckets = perplexityBuckets(spark, dir).select(col("doc_id"), col("bucket"))
    val bnum = when(col("bucket") === "head", 0L)
      .when(col("bucket") === "middle", 1L).otherwise(2L)
    val d = Tables.documents(spark, dir).join(buckets, Seq("doc_id"))
      .select(col("doc_id"), bnum.as("bucket_n"),
        metrics.getField("n_tokens").as("n_tokens"),
        pmod(DedupOps.hash60(col("doc_id").cast("string")), lit(nShards)).as("shard"))
    packWindows(d, Seq("bucket_n", "shard"), "doc_id",
      col("bucket_n") * lit(1L << 40) + col("shard") * lit(1L << 32), ctxTokens)
      .select("doc_id", "bucket_n", "shard", "n_tokens", "cum_tokens", "chunk_id")
  }

  /** IN-CONTEXT PRETRAINING packing (Shi et al. 2023, arXiv:2310.10638):
    * context windows filled with RELATED documents instead of random ones —
    * the paper's trick for teaching long-range use of context. Their
    * scalable approximation is exactly the distributable one: cluster the
    * corpus, then order within each cluster by similarity and pack
    * neighbors together. Here the clusters are the IVF cells the vector
    * tier already maintains and the within-cell order is the
    * centroid-similarity rank ([[graft.ops.SimilarityOps.protoScore]] —
    * the same oracled seam SemDedup/prototypicality use), so packing
    * inherits the ANN tier's served assignment rather than running its
    * own clustering. One keyed join (docs ⨝ assignment) + per-cell
    * windows: parallelism is nlist-wide, the id arithmetic is
    * cross-cell-coordination-free like [[packChunks]]'s, and a trainer
    * reading a chunk gets semantically adjacent documents.
    */
  def icpPack(spark: SparkSession, dir: String,
              ctxTokens: Int = 2048): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val proto = graft.ops.SimilarityOps.protoScore(spark, dir)
      .select(col("vec_id").as("doc_id"), col("cell"), col("proto_rank"))
    packWindows(
      Tables.documents(spark, dir)
        .select(col("doc_id"), metrics.getField("n_tokens").as("n_tokens"))
        .join(proto, Seq("doc_id")),
      Seq("cell"), "proto_rank",
      col("cell").cast("long") * lit(1L << 32), ctxTokens)
      .select("doc_id", "cell", "proto_rank", "n_tokens", "cum_tokens", "chunk_id")
  }

  /** The packing core over any per-doc token-budget column. */
  /** THE packing law, one copy: running token sums within each partition
    * (ordered by `orderCol`) and the cross-partition-coordination-free
    * chunk id `idBase + floor((cum − n) / ctx)`. Every packer —
    * [[packChunks]]/[[packChunksBpe]], [[curriculumPack]], [[icpPack]] —
    * composes this with its own partitioning and id base.
    */
  private def packWindows(d: DataFrame, partCols: Seq[String],
                          orderCol: String, idBase: Column,
                          ctxTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(orderCol)
    d.withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("chunk_id", idBase +
        floor((col("cum_tokens") - col("n_tokens")) / lit(ctxTokens.toDouble)))
  }

  private def packOn(d: DataFrame, nTokens: Column, nShards: Int,
                     ctxTokens: Int): DataFrame =
    packWindows(
      d.select(col("doc_id"), nTokens.as("n_tokens"),
        pmod(DedupOps.hash60(col("doc_id").cast("string")), lit(nShards)).as("shard")),
      Seq("shard"), "doc_id", col("shard") * lit(1L << 32), ctxTokens)
      .select("doc_id", "shard", "n_tokens", "cum_tokens", "chunk_id")

  /** The curation filter chain, composed end-to-end: language-ID agreement,
    * quality score, and repetition caps fold into one keep/drop verdict with
    * a deterministic first-failed-rule reason — the C4/Gopher-style gate a
    * corpus passes through before packing.
    *
    * Scale shape: ONE corpus scan, ZERO shuffles. Every rule input is
    * per-row — `text_metrics` (quality + lang pred) and `gram_stats`
    * (repetition fractions) are both single-traversal native expressions —
    * so the whole gate is one codegen'd projection. The round-3 form
    * repartitioned by doc_id and joined the gram aggregates back; both are
    * gone (TextSpec pins zero exchanges).
    */
  def filterChain(spark: SparkSession, dir: String): DataFrame =
    filterChainOn(Tables.documents(spark, dir))

  /** The frame-parameterized gate — per-row native expressions only, so it
    * applies identically to a batch table or a streaming micro-batch
    * ([[graft.streaming.StreamingOps.streamingQualityGate]]).
    */
  private[graft] def filterChainOn(docs: DataFrame): DataFrame = {
    val gs = call_function("gram_stats",
      split(lower(trim(col("text"))), "\\s+"))
    val staged = docs
      .select(col("doc_id"), col("lang"),
        qualityParts._4.as("quality_score"), langPredCol.as("lang_pred"),
        (gs.getField("top_bigram_n").cast("double") / gs.getField("n_bigrams"))
          .as("top_bigram_frac"),
        (gs.getField("dup_trigram_occ").cast("double") / gs.getField("n_trigrams"))
          .as("dup_trigram_frac"))
    val reason = when(col("quality_score") < 0.7, "low_quality")
      .when(col("lang_pred") =!= col("lang"), "lang_mismatch")
      .when(col("top_bigram_frac") > 0.1, "repetitive_bigram")
      .when(col("dup_trigram_frac") > 0.5, "repetitive_trigram")
      .otherwise("kept")
    staged.select(col("doc_id"), col("lang"), reason.as("reason"),
      (reason === "kept").as("keep"))
  }

  /** Unigram language-model quality score (the CCNet/quality-filter signal:
    * documents whose tokens are IMPROBABLE under a corpus-fitted LM are
    * boilerplate/garble candidates): fit P(t) = cnt(t)/total on the corpus
    * itself, score each doc as the mean ln P(t) over its tokens. Higher
    * (closer to 0) = more typical text; a perplexity gate is
    * exp(-avg_logprob) ≤ threshold.
    *
    * Determinism: per-token ln P is rounded to 2^20 fixed-point BEFORE the
    * per-doc sum (the q_ivf_train trick), so the aggregation is an exact
    * integer sum — order-independent across partitions and engines; the
    * one float division happens once per output row.
    *
    * Scale shape: the model is SERVED from a per-dir store (below), so a
    * scoring call is one token-stage corpus scan joined to a broadcast
    * model scan — the fit runs once per JVM+dir, not per call. The fit
    * itself ([[unigramStaged]], kept as the self-contained face PlanSpec
    * pins) caches the vocabulary-sized COUNTS (a model artifact, like the
    * IVF codebook) rather than the exploded token stream (measured: a
    * token-stream cache costs more than the scan it saves, and at 100 TB
    * it is corpus-sized anyway). NOTE the broadcast hint on the model is
    * unconditional (Catalyst never demotes an explicit `broadcast()`): at
    * a vocabulary too large to broadcast, the caller drops the hint and
    * lets the planner pick a shuffled hash join on token — the fixed-point
    * sum is deterministic either way.
    */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame =
    scoreUnigram(spark, dir, servedUnigramModel(spark, dir))

  /** (token, logp) model store per corpus version — the train/serve
    * split a real quality pipeline runs: the LM is FIT once over the corpus
    * (KenLM-style artifact; CCNet fits offline and ships the model) and
    * scoring reads it, never re-derives it. First touch per dir pays the
    * fit (counts cached vocab-sized, one corpus scan — the
    * [[unigramStaged]] shape); after that every scoring call is one corpus
    * token scan joined to a broadcast model scan — steady state drops the
    * fit's count/total/logp jobs entirely. Bit-identical serving: parquet
    * round-trips doubles exactly, and the fixed-point score sum never sees
    * a different logp than the inline fit computes.
    */
  private def servedUnigramModel(spark: SparkSession, dir: String): DataFrame =
    Tables.parquetCached(spark,
      DerivedStore.ensure(spark, "unigram", dir, "documents.parquet") { path =>
        val (counts, model) = fitUnigram(spark, dir)
        graft.sinks.AtomicSwap.replace(spark, model, path)
        counts.unpersist()
      })

  /** One-pass LM fit: cached vocabulary-sized counts + the (token, logp)
    * model derived from them (total rides as a 1-row broadcast).
    */
  private def fitUnigram(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val counts = unigramToks(spark, dir)
      .groupBy("token").agg(count(lit(1)).as("cnt")).cache()
    val total = counts.agg(sum("cnt").cast("double").as("total"))
    val model = counts.crossJoin(broadcast(total))
      .select(col("token"),
        log(col("cnt").cast("double") / col("total")).as("logp"))
    (counts, model)
  }

  private def unigramToks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)

  /** Scoring pass over a fitted (token, logp) model relation. */
  private def scoreUnigram(spark: SparkSession, dir: String,
                           model: DataFrame): DataFrame = {
    val scale = 1048576.0 // 2^20 fixed-point grain, shared with ivfTrain
    unigramToks(spark, dir).join(broadcast(model), Seq("token"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
           sum(round(col("logp") * lit(scale)).cast("long")).as("s"))
      .select(col("doc_id"), col("n_toks"),
        round((col("s").cast("double") / col("n_toks")) / lit(scale), 6)
          .as("avg_logprob"))
  }

  /** Pre-materialization shape (cached counts, lazy result) — exposed for
    * PlanSpec's scan-count and broadcast pins, like corpusMixStaged.
    */
  private[graft] def unigramStaged(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (counts, model) = fitUnigram(spark, dir)
    (counts, scoreUnigram(spark, dir, model))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020: split each
    * language's corpus into head/middle/tail thirds by LM score and train
    * preferentially on the head): per-language NTILE(3) over the
    * [[unigramLogprob]] score — bucket 1 = most-probable third under the
    * served LM, relabeled head/middle/tail. The canonical curriculum /
    * quality-mixing signal one step past a scalar quality score.
    *
    * Determinism: the window orders on the ROUNDED 6-dp score (already
    * hash-proven cross-engine in q_unigram_logprob) with doc_id
    * tie-breaks, so the integer ranks — and therefore every bucket
    * boundary — replay exactly; NTILE's bucket-size rule (first n mod k
    * buckets get the extra row) is the same in Spark and DuckDB.
    *
    * Scale shape: scoring is the served-model scan q_unigram_logprob runs;
    * the lang join is keyed on doc_id (bucket-co-located at warehouse
    * scale). The per-lang NTILE is the exact parity face — it sorts each
    * language's docs within its partition (CCNet itself sorts each
    * language shard by perplexity to cut it into thirds). At 100 TB the
    * swap-in is [[lengthApprox]]'s device: percentile_approx thresholds at
    * 1/3 and 2/3 per lang (a lang-count-sized artifact), then a map-only
    * CASE — same output contract, no per-lang sort.
    *
    * SERVED (r13 verdict task 5): the assignment is a static
    * per-corpus-version artifact exactly like the unigram model it derives
    * from, so it materializes ONCE into a version-keyed store
    * (servedOrderPopularity's device) and every consumer — this query,
    * [[curriculumPack]], the graded sketch gate — reads a doc-count-sized
    * store scan with no LM-scoring corpus scan and no NTILE sort in its
    * plan (PlanSpec pins the absence).
    */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame =
    servedPerplexityBuckets(spark, dir)

  /** Version-keyed served store of the EXACT bucket assignment
    * (doc_id, lang, avg_logprob, bucket); a rewritten corpus re-derives it
    * via the version-stamped path. Build cost is one LM-scoring scan +
    * one per-lang NTILE — paid per corpus version, never per query.
    */
  private[graft] def servedPerplexityBuckets(spark: SparkSession,
                                             dir: String): DataFrame =
    DerivedStore.parquet(spark, "pplbuckets", dir, "documents.parquet") {
      bucketsExactOf(scoredWithLang(spark, dir))
    }

  /** LM-scored corpus with the language key — the one frame BOTH bucketing
    * faces derive from, factored out so the graded-contract query scores the
    * corpus once instead of once per face.
    */
  private def scoredWithLang(spark: SparkSession, dir: String): DataFrame =
    unigramLogprob(spark, dir) // (doc_id, n_toks, avg_logprob)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
        Seq("doc_id"))

  private def bucketsExactOf(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLang = Window.partitionBy(col("lang"))
      .orderBy(col("avg_logprob").desc, col("doc_id").asc)
    scored
      .withColumn("b", ntile(3).over(byLang))
      .select(col("doc_id"), col("lang"), col("avg_logprob"),
        when(col("b") === 1, "head").when(col("b") === 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** RAG-style overlapping document chunking — the retrieval-corpus
    * transform every embedding pipeline runs before encoding: each doc is
    * cut into `width`-token windows advancing by `stride` tokens, so
    * consecutive chunks share `width − stride` tokens of context and no
    * sentence is stranded at a hard boundary. The complement of
    * [[packChunks]] (which PACKS many docs into fixed windows for
    * training): chunking SPLITS one doc into retrievable units with
    * provenance (doc_id, chunk_idx). The trailing chunk keeps its natural
    * shorter length, the standard chunker contract.
    *
    * One scan, zero shuffles: tokenization, the start-position sequence,
    * the explode, and both slices are per-row expressions — at 100 TB this
    * is a map-only job whose output feeds the encoder (and then
    * [[graft.streaming.IncrementalVectors]]). All-integer/string output ⇒
    * hash-exact replay for free. Empty docs yield no chunks.
    */
  def chunkDocs(spark: SparkSession, dir: String,
                width: Int = 64, stride: Int = 48): DataFrame =
    chunkDocsOn(Tables.documents(spark, dir), width, stride)

  /** The same transform over any (doc_id, text) frame — the seam TextSpec
    * drives hand-checkable fixtures through.
    */
  private[graft] def chunkDocsOn(docs: DataFrame,
                                 width: Int, stride: Int): DataFrame = {
    require(width >= 1 && stride >= 1 && stride <= width,
      s"need 1 <= stride <= width, got width=$width stride=$stride")
    val toks = filter(split(trim(col("text")), "\\s+"), t => length(t) > 0)
    val chunk = slice(col("toks"), col("start"), lit(width))
    docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")), lit(stride))).as("start"))
      .select(col("doc_id"),
        ((col("start") - 1) / lit(stride)).cast("long").as("chunk_idx"),
        size(chunk).cast("long").as("chunk_tokens"),
        concat_ws(" ", chunk).as("chunk_text"))
  }

  /** The 100 TB face of [[perplexityBuckets]] — CCNet's actual mechanic:
    * cut points come from a QUANTILE SKETCH (percentile_approx at the 1/3
    * and 2/3 ranks per language, a lang-count-sized model artifact riding
    * a broadcast), and bucket assignment is a map-only CASE — no per-lang
    * sort, no window, no global ordering anywhere in the plan (PlanSpec
    * pins the absence). Same output contract as the exact face; TextSpec
    * grades assignment agreement against it, the [[lengthApprox]] device.
    * Boundary docs (scores tied at a cut point) may land one bucket away
    * from the exact NTILE split — that is the accepted sketch contract,
    * identical to CCNet training its LM cuts on a sample.
    */
  def perplexityBucketsApprox(spark: SparkSession, dir: String,
                              accuracy: Int = 10000): DataFrame =
    bucketsApproxOf(scoredWithLang(spark, dir), accuracy)

  private def bucketsApproxOf(scored: DataFrame, accuracy: Int): DataFrame = {
    val cuts = scored.groupBy("lang")
      .agg(percentile_approx(col("avg_logprob"),
        array(lit(2.0 / 3), lit(1.0 / 3)), lit(accuracy)).as("t"))
    scored.join(broadcast(cuts), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("avg_logprob"),
        when(col("avg_logprob") >= col("t").getItem(0), "head")
          .when(col("avg_logprob") >= col("t").getItem(1), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Graded oracle face of [[perplexityBucketsApprox]] — the
    * [[lengthApprox]] device applied to the sketch path: sketches are
    * engine-specific, so the OUTPUT is the contract, never the estimate.
    * Per language it emits the exactly-countable row count next to two
    * booleans the sketch must satisfy — ≥90 % bucket agreement with the
    * exact NTILE face (the TextSpec bound, now hash-gated by the driver)
    * and a head-bucket share within ±10 pp of the exact third. A broken
    * sketch (or a drifted threshold formula) flips a boolean and fails the
    * hash compare; the DuckDB oracle replays the exact counts and pins the
    * booleans TRUE.
    */
  def perplexityBucketsApproxGraded(spark: SparkSession, dir: String): DataFrame = {
    // the served store already carries BOTH grading inputs — the exact
    // NTILE bucket AND the avg_logprob the sketch cuts derive from — so
    // the whole gate runs off the doc-count-sized store: no LM scan, no
    // NTILE sort, no persist/release dance (they were the r12 wall; the
    // store build pays them once per corpus version)
    val store = servedPerplexityBuckets(spark, dir)
    val cuts = store.groupBy("lang")
      .agg(percentile_approx(col("avg_logprob"),
        array(lit(2.0 / 3), lit(1.0 / 3)), lit(10000)).as("t"))
    val res = store
      .withColumnRenamed("bucket", "e_bucket")
      .join(broadcast(cuts), Seq("lang"))
      .withColumn("a_bucket",
        when(col("avg_logprob") >= col("t").getItem(0), "head")
          .when(col("avg_logprob") >= col("t").getItem(1), "middle")
          .otherwise("tail"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("a_bucket") === col("e_bucket"), 1L).otherwise(0L)).as("agree"),
        sum(when(col("a_bucket") === "head", 1L).otherwise(0L)).as("heads"))
      .select(col("lang"), col("n_docs"),
        (col("agree").cast("double") / col("n_docs") >= lit(0.9)).as("agree_90"),
        (abs(col("heads").cast("double") / col("n_docs") - lit(1.0 / 3)) <= lit(0.1))
          .as("head_share_ok"))
    res
  }

  /** Per-source KL divergence from the corpus unigram distribution —
    * KL(P_source ‖ P_corpus) = Σ_t p_s(t)·ln(p_s(t)/p_c(t)) — the
    * domain-drift / distribution-shift lens over the same unigram models
    * the quality tier fits: a source whose vocabulary distribution sits
    * far from the corpus mean is a mixing-weight outlier (DoReMi-class
    * domain reweighting starts from exactly this quantity), and a SPIKE in
    * a previously-stable source's KL is the canonical silent-corruption /
    * crawler-drift alarm.
    *
    * Determinism: each term's contribution is rounded to 2^20 fixed point
    * BEFORE the sum (the [[unigramLogprob]] fold — order-independent
    * integer addition), the ratio inside ln multiplies out to
    * (c_st·N_c)/(c_ct·N_s) with a pinned operand order, and the OUTPUT is
    * the integer `kl_fp` itself — no trailing round(x, 6) for a decimal
    * boundary to bite (the q_sig_terms lesson). Every source token exists
    * in the corpus by construction, so no zero-denominator smoothing is
    * needed.
    *
    * Scale: one (source, token) keyed aggregate over the corpus scan, the
    * corpus-side count as a token-keyed window over that SAME aggregate
    * (vocabulary-sized, not corpus-sized), per-source totals broadcast
    * back. Nothing rescans text twice.
    */
  def klDivergence(spark: SparkSession, dir: String): DataFrame = {
    // bounded (one row per source): collect, release the vocabulary cache
    // (r10 ADVICE — no per-call cache accumulation in long-lived sessions)
    val (st, res) = klDivergencePlan(spark, dir)
    DedupOps.releasingBounded(st)(res)
  }

  /** The LAZY plan face of [[klDivergence]] — `(persisted vocabulary
    * aggregate, result)`, the seam PlanSpec pins the shared-scan shape
    * through.
    */
  private[graft] def klDivergencePlan(spark: SparkSession,
                                      dir: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val scale = 1048576.0 // 2^20, shared with the LM folds
    // persisted: the vocabulary-sized (source, token) aggregate feeds the
    // window, the per-source totals AND the grand total — unpersisted,
    // Catalyst re-tokenizes the corpus once per consumer (three full scans,
    // caught by the PlanSpec scan-count pin)
    val st = Tables.documents(spark, dir)
      .select(col("source"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("source", "token").agg(count(lit(1)).as("c_st"))
      .persist()
    val wct = st.withColumn("c_ct",
      sum(col("c_st")).over(Window.partitionBy("token")))
    val ns = st.groupBy("source").agg(sum("c_st").as("n_s"))
    val nc = st.agg(sum("c_st").cast("double").as("n_c"))
    val res = wct.join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(nc))
      .select(col("source"), col("n_s"),
        round(lit(scale) *
            (col("c_st").cast("double") / col("n_s").cast("double")) *
            log((col("c_st").cast("double") * col("n_c")) /
                (col("c_ct").cast("double") * col("n_s").cast("double"))))
          .cast("long").as("term_fp"))
      .groupBy("source")
      .agg(max("n_s").as("n_toks"), count(lit(1)).as("n_terms"),
        sum("term_fp").as("kl_fp"))
    (st, res)
  }

  /** Head-vocabulary coverage per (lang, source) — the tokenizer/corpus
    * fit signal next to [[compressionRatio]]: what fraction of a source's
    * token OCCURRENCES fall inside the corpus's top-K vocabulary. Natural
    * text is Zipf-headed (high coverage); encoded blobs, wrong-language or
    * OCR-damaged content leak into the long tail (low coverage) — a
    * standard curation gate and the scalar a tokenizer team watches per
    * source before committing a vocab.
    *
    * Served shape: token occurrences come from the maintained postings
    * store (no re-tokenization — the same store BM25/MLT/sig-terms read);
    * the top-K vocab is a TakeOrderedAndProject over the store's token
    * aggregate (never a global rank window) and rides a broadcast into a
    * left join marking covered rows; one keyed aggregate per (lang,
    * source) finishes. Coverage crosses engines in 2^20 fixed point (the
    * exact-integer sums divide once, then an exact power-of-two shift) —
    * the q_sig_terms lesson applied from day one.
    */
  def vocabCoverage(spark: SparkSession, dir: String, topK: Int = 100): DataFrame = {
    val p = SearchOps.servedPostings(spark, dir) // (token, doc_id, tf)
    val vocab = p.groupBy("token").agg(sum("tf").as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(topK)
      .select(col("token"), lit(1).as("in_vocab"))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"))
    p.join(docs, Seq("doc_id"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy("lang", "source")
      .agg(sum("tf").as("total_toks"),
        sum(when(col("in_vocab").isNotNull, col("tf")).otherwise(0L))
          .as("covered_toks"))
      .select(col("lang"), col("source"), col("total_toks"), col("covered_toks"),
        round(col("covered_toks").cast("double") / col("total_toks").cast("double")
          * lit(1048576.0)).cast("long").as("coverage_fp"))
  }

  /** Bytes-per-subword compression ratio, aggregated per (lang, source) —
    * the tokenizer-fit signal (how many characters one BPE token covers):
    * natural text compresses well under a tokenizer trained on it;
    * gibberish, wrong-alphabet, or heavily-encoded content does not, so
    * corpus curation gates on exactly this ratio (and tokenizer teams
    * watch it per source). Per doc the ratio is chars / max(bpe_tokens,1)
    * with both counts from the one codegen'd [[tokenCountBpe]] projection;
    * the per-group mean accumulates in 2^20 fixed point (exact long sums,
    * order-independent cross-engine) — one corpus scan, one tiny keyed
    * aggregate, nothing else.
    */
  def compressionRatio(spark: SparkSession, dir: String): DataFrame =
    compressionRatioOn(Tables.documents(spark, dir))

  /** The same aggregate over any (lang, source, n_chars, text) frame — the
    * seam TextSpec drives hand-computable fixtures through.
    */
  private[graft] def compressionRatioOn(docs: DataFrame): DataFrame = {
    val scale = 1048576.0 // 2^20 fixed-point grain, shared with unigramLogprob
    val ratio = col("n_chars").cast("double") /
      greatest(call_function("bpe_count", col("text")).cast("double"), lit(1.0))
    docs
      .select(col("lang"), col("source"),
        round(ratio * lit(scale)).cast("long").as("r_fp"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("r_fp")).as("s"))
      .select(col("lang"), col("source"), col("n_docs"),
        round((col("s").cast("double") / col("n_docs")) / lit(scale), 6)
          .as("mean_chars_per_token"))
  }

  /** Stateless INGEST gate: the quality chain and eval-gram contamination
    * check folded into one codegen'd projection over any documents frame —
    * batch table or streaming micro-batch (no state, no watermark, no
    * join, so it composes freely under Structured Streaming; the stateful
    * duplicate tier is [[graft.streaming.StreamingOps.streamingNearDup]],
    * composed at the sink). The eval gram set rides as a LITERAL array:
    * eval sets are benchmark-sized (thousands of grams) by definition, the
    * same bound that lets batch decontamination broadcast its store.
    * Verdict priority mirrors [[graft.ops.PipelineOps.curateKept]] with
    * the duplicate stage absent: first failed quality rule →
    * 'contaminated' → 'kept'.
    */
  def ingestGate(docs: DataFrame, evalGrams: Seq[Long],
                 nGram: Int = 8): DataFrame = {
    val toks = split(lower(trim(col("text"))), "\\s+")
    val gs = call_function("gram_stats", toks)
    val staged = docs.select(col("doc_id"), col("lang"),
      qualityParts._4.as("quality_score"), langPredCol.as("lang_pred"),
      (gs.getField("top_bigram_n").cast("double") / gs.getField("n_bigrams"))
        .as("top_bigram_frac"),
      (gs.getField("dup_trigram_occ").cast("double") / gs.getField("n_trigrams"))
        .as("dup_trigram_frac"),
      arrays_overlap(call_function("gram_hash60", toks, lit(nGram)),
        typedlit(evalGrams)).as("is_cont"))
    val reason = when(col("quality_score") < 0.7, "low_quality")
      .when(col("lang_pred") =!= col("lang"), "lang_mismatch")
      .when(col("top_bigram_frac") > 0.1, "repetitive_bigram")
      .when(col("dup_trigram_frac") > 0.5, "repetitive_trigram")
      .when(col("is_cont"), "contaminated")
      .otherwise("kept")
    staged.select(col("doc_id"), col("lang"), reason.as("verdict"),
      (reason === "kept").as("keep"))
  }

  /** The eval-gram set as a driver-side artifact (for [[ingestGate]]'s
    * literal) — read from the same served store batch decontamination
    * scans, so both faces gate against identical grams.
    */
  def evalGramSet(spark: SparkSession, dir: String, nGram: Int = 8,
                  evalMaxId: Long = 20L): Seq[Long] =
    servedEvalGrams(spark, dir, nGram, evalMaxId)
      .collect().map(_.getLong(0)).toSeq.sorted

  /** Interpolated BIGRAM LM quality score — one Markov order beyond
    * [[unigramLogprob]] (the direction CCNet's 5-gram KenLM sits in):
    * per-doc mean of ln p(tᵢ | tᵢ₋₁) with Jelinek-Mercer interpolation
    *
    *   p(b | a) = λ·c(a,b)/c(a·) + (1−λ)·c(b)/T,   λ = 0.7
    *
    * where c(a·) is the context marginal (Σ_b c(a,b)) and c(b)/T the
    * unigram backstop — so an unseen bigram backs off instead of zeroing
    * the document. The model is TWO relations, both fitted once and served
    * from per-dir stores: seen-pair logprobs (a, b, lp_fx) and the per-
    * token backoff (token, lp0_fx) for pairs the fit never saw (live when
    * scoring docs outside the training corpus — spec-covered; on the
    * training corpus every pair is seen by construction, which the oracle
    * replays). Determinism: logprobs are fixed-pointed at fit time, the
    * per-doc sum is an exact long fold (the unigram discipline), and the
    * bigram windows are the proven list-filter + range comprehension index
    * space.
    *
    * Scale shape: fit = two hash aggregations (pair and token counts) +
    * model derivation on vocab-bounded relations; scoring = one corpus
    * pass joined to the broadcast stores + a doc_id aggregation. The
    * broadcast hint is the unigram note verbatim: at a pair vocabulary too
    * large to broadcast, drop the hint and take the shuffled hash join.
    */
  def bigramLogprob(spark: SparkSession, dir: String): DataFrame =
    bigramLogprobWith(spark, dir, dir)

  /** Score `dir`'s documents under a model fitted on `modelDir` — the
    * serving deployment shape (incoming batches scored with the shipped
    * model); unseen bigrams take the per-token backoff (spec-covered).
    * Bigrams whose SECOND token is outside the model vocabulary drop from
    * the score entirely (the inner backoff join) — the mean is over
    * in-vocabulary positions, CCNet-style; an `<unk>` pseudo-token row in
    * the backoff store is the drop-in alternative if absolute coverage
    * matters more than comparability.
    */
  def bigramLogprobWith(spark: SparkSession, dir: String,
                        modelDir: String): DataFrame = {
    val (pairModel, backoff) = servedBigramModel(spark, modelDir)
    docBigrams(spark, dir)
      .join(broadcast(pairModel), Seq("a", "b"), "left")
      .join(broadcast(backoff), col("b") === backoff("token"))
      .select(col("doc_id"), coalesce(col("lp_fx"), col("lp0_fx")).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lp").as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round((col("s").cast("double") / col("n_bigrams")) / lit(1048576.0), 6)
          .as("avg_logprob"))
  }

  /** Per-occurrence (doc_id, a, b) bigrams over the FILTERED token list —
    * index space identical to the oracle's
    * `range(1, greatest(len(toks), 1))` comprehension (empties dropped
    * before windowing; <2 tokens ⇒ no rows).
    */
  private def docBigrams(spark: SparkSession, dir: String): DataFrame = {
    val toks = filter(split(lower(trim(col("text"))), "\\s+"),
      t => length(t) > 0)
    // guarded sequence: sequence(1, 0) would yield [1, 0] (negative-step
    // inference), not the empty window list the comprehension produces
    val idx = when(size(col("toks")) >= 2,
      sequence(lit(1), size(col("toks")) - 1))
      .otherwise(array().cast("array<int>"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), explode(transform(idx, i =>
        struct(element_at(col("toks"), i).as("a"),
               element_at(col("toks"), i + 1).as("b")))).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
  }

  /** The model is TWO relations in ONE store (`pairs/` + `backoff/`),
    * swapped in as one unit, so no crash can leave one without the other.
    */
  private def servedBigramModel(spark: SparkSession,
                                dir: String): (DataFrame, DataFrame) = {
    val p = DerivedStore.ensure(spark, "bigramlm2", dir, "documents.parquet") { path =>
      val (pairs, backoff) = fitBigram(spark, dir)
      graft.sinks.AtomicSwap.replaceParts(spark, path)(
        "pairs" -> pairs.write, "backoff" -> backoff.write)
    }
    (Tables.parquetCached(spark, s"$p/pairs"), Tables.parquetCached(spark, s"$p/backoff"))
  }

  /** Fit both model relations; ln terms are spelled EXACTLY as the oracle
    * spells them (operand order matters for float identity).
    */
  private def fitBigram(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // both weights as EXPLICIT literals: `1 - 0.7` is 0.30000000000000004
    // in IEEE doubles, not the 0.3 the oracle writes — spelling them apart
    // would shift every logprob by an ulp and break the fixed-point replay
    val lambda = 0.7
    val backstop = 0.3
    val cab = docBigrams(spark, dir).groupBy("a", "b")
      .agg(count(lit(1)).as("c_ab"))
    val ca = cab.groupBy("a").agg(sum("c_ab").as("c_a"))
    val cb = unigramToks(spark, dir).groupBy("token")
      .agg(count(lit(1)).as("c_b"))
    val tot = cb.agg(sum("c_b").cast("double").as("total"))
    val pairs = cab.join(ca, Seq("a"))
      .join(cb, cab("b") === cb("token"))
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"),
        round(log(lit(lambda) * (col("c_ab").cast("double") / col("c_a")) +
                  lit(backstop) * (col("c_b").cast("double") / col("total")))
          * lit(1048576.0)).cast("long").as("lp_fx"))
    val backoff = cb.crossJoin(broadcast(tot))
      .select(col("token"),
        round(log(lit(backstop) * (col("c_b").cast("double") / col("total")))
          * lit(1048576.0)).cast("long").as("lp0_fx"))
    (pairs, backoff)
  }

  /** PII scrubbing: redact emails, IPv4-shaped dotted quads, credit-card-
    * shaped digit groups, and long digit runs (phone/ID shapes), reporting
    * per-CLASS hit counts — the masking pass a curation pipeline runs
    * before publication.
    *
    * Classes are applied most-specific-first (email → ip → card → number),
    * and each class is counted on the text with the EARLIER classes already
    * masked — that makes every count well-defined (an IPv4 is digits+dots
    * and would otherwise also count as phone-like; a 16-digit card run
    * would otherwise also be a digit run) and the whole cascade a single
    * deterministic rewrite both engines replay in the same order. No
    * lookaround and no \b (Java's is Unicode-aware, RE2's is ASCII — a
    * digit touching a Cyrillic letter would diverge), so the patterns are
    * RE2-portable verbatim; per-row codegen, no shuffle.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsSpread(spark, dir)
    val emailP = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipP = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    val cardP = "[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}"
    val phoneP = "[0-9][0-9 ()+.-]{7,}[0-9]"
    val t1 = regexp_replace(col("text"), emailP, "<EMAIL>")
    val t2 = regexp_replace(t1, ipP, "<IP>")
    val t3 = regexp_replace(t2, cardP, "<CARD>")
    val scrubbed = regexp_replace(t3, phoneP, "<NUMBER>")
    d.select(
      col("doc_id"),
      regexp_count(col("text"), lit(emailP)).as("n_emails"),
      regexp_count(t1, lit(ipP)).as("n_ips"),
      regexp_count(t2, lit(cardP)).as("n_cards"),
      regexp_count(t3, lit(phoneP)).as("n_phonelike"),
      md5(scrubbed.cast("binary")).as("scrubbed_md5"))
  }

  /** Text NORMALIZATION — the mechanical cleanup pass a curation pipeline
    * runs before any tokenizer or hash sees the text (ftfy-lite): strip
    * zero-width characters and the BOM, drop C0/C1-ish control characters
    * (tab/newline/CR survive as whitespace for the collapse below), unify
    * curly quotes to straight and en/em dashes to hyphens, turn NBSP into
    * plain space, then collapse whitespace runs and trim. Canonical text
    * makes every downstream signal comparable: two visually-identical
    * documents differing by a zero-width joiner would otherwise hash apart
    * in every dedup face.
    *
    * Per-row codegen'd regexp cascade, no shuffle. Patterns are
    * RE2-portable (same `\x{hhhh}` escapes, ASCII `\s`, no lookaround, no
    * `\b` — the piiScrub portability rules), and the oracle replays the
    * cascade in the same order, so the gate proves the REWRITE, not just
    * the counts. Full NFC normalization is the same slot one
    * `java.text.Normalizer` expression deeper — deliberately out: DuckDB
    * has no NFC twin to oracle it against (nfc_normalize differs on
    * compatibility points), and none of the testdata exercises it.
    */
  def normalizeText(spark: SparkSession, dir: String): DataFrame = {
    val norm = normalizedCol(col("text"))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      norm.as("norm_text"),
      (norm =!= col("text")).as("changed"),
      (length(col("text")) - length(norm)).cast("long").as("n_chars_removed"))
  }

  /** The [[normalizeText]] cascade over any string column — TextSpec drives
    * the Unicode classes through this directly (the ASCII testdata only
    * exercises the whitespace collapse).
    */
  private[graft] def normalizedCol(text: Column): Column = {
    val zeroWidthP = "[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]"
    val controlP = "[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}\\x{007F}]"
    val squoteP = "[\\x{2018}\\x{2019}]"
    val dquoteP = "[\\x{201C}\\x{201D}]"
    val dashP = "[\\x{2013}\\x{2014}]"
    val nbspP = "\\x{00A0}"
    val t1 = regexp_replace(text, zeroWidthP, "")
    val t2 = regexp_replace(t1, controlP, "")
    val t3 = regexp_replace(t2, squoteP, "'")
    val t4 = regexp_replace(t3, dquoteP, "\"")
    val t5 = regexp_replace(t4, dashP, "-")
    val t6 = regexp_replace(t5, nbspP, " ")
    trim(regexp_replace(t6, "\\s+", " "))
  }

  /** DuckDB scalar: the BPE token count of `text` — the merge chain, one
    * global regexp_replace per rank over the '|tok/'-marked token sequence
    * (lead + trail markers; see [[tokenCountBpeComposed]] for why a single
    * separator is WRONG), generated from the SAME fixture the native
    * expression compiles in. Shared by the token-count and BPE-pack
    * oracles.
    */
  private def bpeCountSql: String = {
    val chain = graft.functions.BpeModel.merges
      .foldLeft("""regexp_replace(p, '(.)', '|\1/', 'g')""") {
        case (acc, (a, b)) => s"regexp_replace($acc, '\\|$a/\\|$b/', '|$a$b/', 'g')"
      }
    s"""CAST(coalesce(list_sum(list_transform(
       |    regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'),
       |    p -> CASE WHEN regexp_matches(p, '^[A-Za-z]+${"$"}')
       |              THEN len(string_split($chain, '/')) - 1
       |              ELSE len(p) END)), 0) AS BIGINT)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_perplexity_buckets" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents),
        |tt AS (SELECT doc_id, token FROM t WHERE len(token) > 0),
        |c AS (SELECT token, COUNT(*) AS cnt FROM tt GROUP BY token),
        |n AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM c),
        |lp AS (SELECT token, ln(CAST(cnt AS DOUBLE) / total) AS logp FROM c, n),
        |s AS (
        |  SELECT tt.doc_id, COUNT(*) AS n_toks,
        |    SUM(CAST(round(lp.logp * 1048576.0) AS BIGINT)) AS s
        |  FROM tt JOIN lp USING (token) GROUP BY tt.doc_id),
        |scored AS (
        |  SELECT doc_id,
        |    round((CAST(s AS DOUBLE) / n_toks) / 1048576.0, 6) AS avg_logprob
        |  FROM s),
        |b AS (
        |  SELECT scored.doc_id, d.lang, avg_logprob,
        |    ntile(3) OVER (PARTITION BY d.lang
        |                   ORDER BY avg_logprob DESC, scored.doc_id ASC) AS b
        |  FROM scored JOIN documents d ON scored.doc_id = d.doc_id)
        |SELECT doc_id, lang, avg_logprob,
        |  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM b""".stripMargin,
    // the graded sketch face: exact per-lang scored-doc counts; the
    // sketch-dependent numbers cross only as contract booleans (TRUE here)
    "q_perplexity_buckets_approx" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents),
        |tt AS (SELECT DISTINCT doc_id FROM t WHERE len(token) > 0)
        |SELECT d.lang, COUNT(*) AS n_docs,
        |  TRUE AS agree_90, TRUE AS head_share_ok
        |FROM tt JOIN documents d USING (doc_id)
        |GROUP BY d.lang""".stripMargin,
    "q_chunk_docs" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, CAST(u.s AS INT) AS start
        |  FROM t, LATERAL unnest(range(1, len(toks) + 1, 48)) AS u(s)
        |  WHERE len(toks) > 0)
        |SELECT doc_id,
        |  CAST((start - 1) // 48 AS BIGINT) AS chunk_idx,
        |  CAST(len(list_slice(toks, start, least(start + 63, len(toks)))) AS BIGINT)
        |    AS chunk_tokens,
        |  array_to_string(list_slice(toks, start, least(start + 63, len(toks))), ' ')
        |    AS chunk_text
        |FROM c""".stripMargin,
    "q_compression_ratio" ->
      s"""WITH t AS (
         |  SELECT lang, source,
         |    CAST(round(CAST(n_chars AS DOUBLE)
         |               / greatest(CAST($bpeCountSql AS DOUBLE), 1.0)
         |               * 1048576.0) AS BIGINT) AS r_fp
         |  FROM documents)
         |SELECT lang, source, COUNT(*) AS n_docs,
         |  round((CAST(SUM(r_fp) AS DOUBLE) / COUNT(*)) / 1048576.0, 6)
         |    AS mean_chars_per_token
         |FROM t GROUP BY lang, source""".stripMargin,
    "q_kl_divergence" ->
      """WITH t AS (
        |  SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents),
        |tt AS (SELECT source, token FROM t WHERE len(token) > 0),
        |st AS (SELECT source, token, COUNT(*) AS c_st FROM tt GROUP BY 1, 2),
        |ct AS (SELECT *, CAST(SUM(c_st) OVER (PARTITION BY token) AS BIGINT) AS c_ct
        |       FROM st),
        |ns AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
        |nc AS (SELECT CAST(SUM(c_st) AS DOUBLE) AS n_c FROM st),
        |terms AS (
        |  SELECT ct.source, ns.n_s,
        |    CAST(round(1048576.0 *
        |      (CAST(ct.c_st AS DOUBLE) / CAST(ns.n_s AS DOUBLE)) *
        |      ln((CAST(ct.c_st AS DOUBLE) * nc.n_c) /
        |         (CAST(ct.c_ct AS DOUBLE) * CAST(ns.n_s AS DOUBLE))))
        |      AS BIGINT) AS term_fp
        |  FROM ct JOIN ns USING (source), nc)
        |SELECT source, MAX(n_s) AS n_toks, COUNT(*) AS n_terms,
        |  CAST(SUM(term_fp) AS BIGINT) AS kl_fp
        |FROM terms GROUP BY source""".stripMargin,
    "q_unigram_logprob" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents),
        |tt AS (SELECT doc_id, token FROM t WHERE len(token) > 0),
        |c AS (SELECT token, COUNT(*) AS cnt FROM tt GROUP BY token),
        |n AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM c),
        |lp AS (SELECT token, ln(CAST(cnt AS DOUBLE) / total) AS logp FROM c, n),
        |s AS (
        |  SELECT tt.doc_id, COUNT(*) AS n_toks,
        |    SUM(CAST(round(lp.logp * 1048576.0) AS BIGINT)) AS s
        |  FROM tt JOIN lp USING (token) GROUP BY tt.doc_id)
        |SELECT doc_id, n_toks,
        |  round((CAST(s AS DOUBLE) / n_toks) / 1048576.0, 6) AS avg_logprob
        |FROM s""".stripMargin,
    "q_bigram_logprob" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                t -> len(t) > 0) AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id, p['a'] AS a, p['b'] AS b FROM (
        |    SELECT doc_id,
        |      unnest([struct_pack(a := toks[i], b := toks[i+1])
        |              for i in range(1, greatest(len(toks), 1))]) AS p
        |    FROM t)),
        |cab AS (SELECT a, b, COUNT(*) AS c_ab FROM pairs GROUP BY a, b),
        |ca AS (SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY a),
        |tt AS (SELECT unnest(toks) AS token FROM t),
        |cb AS (SELECT token, COUNT(*) AS c_b FROM tt GROUP BY token),
        |tot AS (SELECT CAST(SUM(c_b) AS DOUBLE) AS total FROM cb),
        |pm AS (
        |  SELECT cab.a, cab.b,
        |    CAST(round(ln(0.7 * (CAST(c_ab AS DOUBLE) / c_a) +
        |                  0.3 * (CAST(c_b AS DOUBLE) / total))
        |               * 1048576.0) AS BIGINT) AS lp_fx
        |  FROM cab JOIN ca USING (a) JOIN cb ON cab.b = cb.token, tot),
        |um AS (
        |  SELECT token,
        |    CAST(round(ln(0.3 * (CAST(c_b AS DOUBLE) / total))
        |               * 1048576.0) AS BIGINT) AS lp0_fx
        |  FROM cb, tot),
        |sc AS (
        |  SELECT pairs.doc_id, COUNT(*) AS n_bigrams,
        |    SUM(coalesce(pm.lp_fx, um.lp0_fx)) AS s
        |  FROM pairs
        |  LEFT JOIN pm ON pairs.a = pm.a AND pairs.b = pm.b
        |  JOIN um ON pairs.b = um.token
        |  GROUP BY pairs.doc_id)
        |SELECT doc_id, n_bigrams,
        |  round((CAST(s AS DOUBLE) / n_bigrams) / 1048576.0, 6) AS avg_logprob
        |FROM sc""".stripMargin,
    "q_decontaminate" -> {
      val g = (i: String) =>
        s"""list_distinct([CAST('0x' || substr(md5(concat_ws(' ',
           |    toks[$i], toks[$i+1], toks[$i+2], toks[$i+3],
           |    toks[$i+4], toks[$i+5], toks[$i+6], toks[$i+7])),1,15) AS BIGINT)
           |  for $i in range(1, greatest(len(toks)-7, 1)+1)])""".stripMargin
      s"""WITH tk AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
         |  FROM documents),
         |gr AS (SELECT doc_id, ${g("i")} AS gs FROM tk),
         |ev AS (SELECT DISTINCT unnest(gs) AS g FROM gr WHERE doc_id < 20),
         |corpus AS (SELECT doc_id, unnest(gs) AS g FROM gr WHERE doc_id >= 20)
         |SELECT c.doc_id, COUNT(*) AS n_contaminated_grams
         |FROM corpus c JOIN ev ON c.g = ev.g
         |GROUP BY c.doc_id""".stripMargin
    },
    "q_dup_ngram_frac" -> {
      // same distinct-8-gram hash60 comprehension the decontaminate oracle
      // proved; df via a count window over the exploded (doc, gram) pairs
      val g = (i: String) =>
        s"""list_distinct([CAST('0x' || substr(md5(concat_ws(' ',
           |    toks[$i], toks[$i+1], toks[$i+2], toks[$i+3],
           |    toks[$i+4], toks[$i+5], toks[$i+6], toks[$i+7])),1,15) AS BIGINT)
           |  for $i in range(1, greatest(len(toks)-7, 1)+1)])""".stripMargin
      s"""WITH tk AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
         |  FROM documents),
         |gr AS (SELECT doc_id, ${g("i")} AS gs FROM tk),
         |dg AS (SELECT doc_id, unnest(gs) AS g FROM gr),
         |d AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY g) AS df FROM dg),
         |d2 AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |    CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams
         |  FROM d GROUP BY doc_id)
         |SELECT doc_id, n_grams, n_dup_grams,
         |  round(CAST(n_dup_grams AS DOUBLE) / n_grams, 6) AS dup_frac
         |FROM d2""".stripMargin
    },
    "q_repetition" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, unnest([concat_ws(' ', toks[i], toks[i+1])
        |    for i in range(1, greatest(len(toks)-1, 1)+1)]) AS g FROM tk),
        |t AS (
        |  SELECT doc_id, unnest([concat_ws(' ', toks[i], toks[i+1], toks[i+2])
        |    for i in range(1, greatest(len(toks)-2, 1)+1)]) AS g FROM tk),
        |bc AS (SELECT doc_id, g, count(*) AS c FROM b GROUP BY doc_id, g),
        |bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |         max(c) AS top_bigram_n FROM bc GROUP BY doc_id),
        |tc AS (SELECT doc_id, g, count(*) AS c FROM t GROUP BY doc_id, g),
        |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_trigrams,
        |         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_trigram_occ
        |       FROM tc GROUP BY doc_id)
        |SELECT bs.doc_id, n_bigrams, top_bigram_n,
        |  CAST(top_bigram_n AS DOUBLE) / n_bigrams AS top_bigram_frac,
        |  n_trigrams, dup_trigram_occ,
        |  CAST(dup_trigram_occ AS DOUBLE) / n_trigrams AS dup_trigram_frac
        |FROM bs JOIN ts ON bs.doc_id = ts.doc_id""".stripMargin,
    "q_curriculum_pack" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents),
        |tt AS (SELECT doc_id, token FROM t WHERE len(token) > 0),
        |c AS (SELECT token, COUNT(*) AS cnt FROM tt GROUP BY token),
        |n AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM c),
        |lp AS (SELECT token, ln(CAST(cnt AS DOUBLE) / total) AS logp FROM c, n),
        |s AS (
        |  SELECT tt.doc_id, COUNT(*) AS n_toks,
        |    SUM(CAST(round(lp.logp * 1048576.0) AS BIGINT)) AS fp
        |  FROM tt JOIN lp USING (token) GROUP BY tt.doc_id),
        |scored AS (
        |  SELECT doc_id,
        |    round((CAST(fp AS DOUBLE) / n_toks) / 1048576.0, 6) AS avg_logprob
        |  FROM s),
        |b AS (
        |  SELECT scored.doc_id,
        |    ntile(3) OVER (PARTITION BY d.lang
        |                   ORDER BY avg_logprob DESC, scored.doc_id ASC) AS b
        |  FROM scored JOIN documents d ON scored.doc_id = d.doc_id),
        |bn AS (SELECT doc_id, CAST(b - 1 AS BIGINT) AS bucket_n FROM b),
        |tk AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 8 AS shard
        |  FROM documents),
        |j AS (
        |  SELECT tk.doc_id, bn.bucket_n, tk.shard, tk.n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY bucket_n, shard
        |      ORDER BY tk.doc_id) AS BIGINT) AS cum_tokens
        |  FROM tk JOIN bn USING (doc_id))
        |SELECT doc_id, bucket_n, shard, n_tokens, cum_tokens,
        |  bucket_n * 1099511627776 + shard * 4294967296 +
        |    CAST(floor((cum_tokens - n_tokens) / 2048.0) AS BIGINT) AS chunk_id
        |FROM j""".stripMargin,
    "q_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 8 AS shard
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT)
        |      AS cum_tokens
        |  FROM t)
        |SELECT doc_id, shard, n_tokens, cum_tokens,
        |  shard * 4294967296 + CAST(floor((cum_tokens - n_tokens) / 2048.0) AS BIGINT)
        |    AS chunk_id
        |FROM c""".stripMargin,
    "q_icp_pack" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM e WHERE vec_id < 16),
        |assign AS (
        |  SELECT e.vec_id, e.v, c.cid,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid DESC) AS rn
        |  FROM e CROSS JOIN c),
        |cells AS (SELECT vec_id, v, cid AS cell FROM assign WHERE rn = 1),
        |sc AS (
        |  SELECT t.vec_id, t.cell, list_cosine_similarity(t.v, c.cv) AS pr
        |  FROM cells t JOIN c ON c.cid = t.cell),
        |pr AS (
        |  SELECT vec_id, cell,
        |    CAST(row_number() OVER (PARTITION BY cell
        |      ORDER BY pr DESC, vec_id ASC) AS BIGINT) AS proto_rank
        |  FROM sc),
        |t AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |j AS (
        |  SELECT t.doc_id, pr.cell, pr.proto_rank, t.n_tokens
        |  FROM t JOIN pr ON pr.vec_id = t.doc_id),
        |cum AS (
        |  SELECT doc_id, cell, proto_rank, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY cell ORDER BY proto_rank)
        |      AS BIGINT) AS cum_tokens
        |  FROM j)
        |SELECT doc_id, cell, proto_rank, n_tokens, cum_tokens,
        |  cell * 4294967296 + CAST(floor((cum_tokens - n_tokens) / 2048.0) AS BIGINT)
        |    AS chunk_id
        |FROM cum""".stripMargin,
    "q_shuffle_order" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 8 AS shard
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT)
        |      AS cum_tokens
        |  FROM t),
        |chunks AS (
        |  SELECT DISTINCT
        |    shard * 4294967296 + CAST(floor((cum_tokens - n_tokens) / 2048.0) AS BIGINT)
        |      AS chunk_id
        |  FROM c),
        |hashed AS (
        |  SELECT chunk_id,
        |    CAST('0x' || substr(md5(CAST(chunk_id AS VARCHAR) || ':17'),1,15) AS BIGINT)
        |      AS h
        |  FROM chunks)
        |SELECT chunk_id, h % 16 AS shuffle_shard,
        |  CAST(row_number() OVER (PARTITION BY h % 16
        |    ORDER BY h ASC, chunk_id ASC) AS INT) AS pos
        |FROM hashed""".stripMargin,
    "q_filter_chain" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    CAST(len(text) AS DOUBLE) AS n_chars_d,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS DOUBLE) AS n_tokens_d,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) AS punct,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|or|of|in|to|is)\b')) AS DOUBLE) AS stop_hits
        |  FROM documents),
        |qs AS (
        |  SELECT doc_id,
        |    (CASE WHEN n_chars_d >= 50 AND n_chars_d <= 10000 THEN 1.0 ELSE 0.0 END) * 0.4
        |      + (CASE WHEN stop_hits / greatest(n_tokens_d, 1.0) > 0.02 THEN 0.3 ELSE 0.0 END)
        |      + (CASE WHEN punct / greatest(n_chars_d, 1.0) < 0.2 THEN 0.3 ELSE 0.0 END) AS quality_score
        |  FROM q),
        |lh AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|is|to)\b')) AS en_hits,
        |    len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS de_hits,
        |    len(regexp_extract_all(lower(text), '\b(le|et|les|des|est)\b')) AS fr_hits,
        |    len(regexp_extract_all(lower(text), '\b(el|los|las|una|es)\b')) AS es_hits,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS cjk_hits
        |  FROM documents),
        |lp AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN cjk_hits > 0 THEN 'zh'
        |         WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
        |         WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
        |         WHEN fr_hits >= es_hits THEN 'fr'
        |         ELSE 'es' END AS lang_pred
        |  FROM lh),
        |tk AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, unnest([concat_ws(' ', toks[i], toks[i+1])
        |    for i in range(1, greatest(len(toks)-1, 1)+1)]) AS g FROM tk),
        |t AS (
        |  SELECT doc_id, unnest([concat_ws(' ', toks[i], toks[i+1], toks[i+2])
        |    for i in range(1, greatest(len(toks)-2, 1)+1)]) AS g FROM tk),
        |bc AS (SELECT doc_id, g, count(*) AS c FROM b GROUP BY doc_id, g),
        |bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |         max(c) AS top_bigram_n FROM bc GROUP BY doc_id),
        |tc AS (SELECT doc_id, g, count(*) AS c FROM t GROUP BY doc_id, g),
        |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_trigrams,
        |         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_trigram_occ
        |       FROM tc GROUP BY doc_id),
        |r AS (
        |  SELECT bs.doc_id,
        |    CAST(top_bigram_n AS DOUBLE) / n_bigrams AS top_bigram_frac,
        |    CAST(dup_trigram_occ AS DOUBLE) / n_trigrams AS dup_trigram_frac
        |  FROM bs JOIN ts ON bs.doc_id = ts.doc_id),
        |v AS (
        |  SELECT qs.doc_id, lp.lang,
        |    CASE WHEN quality_score < 0.7 THEN 'low_quality'
        |         WHEN lang_pred <> lang THEN 'lang_mismatch'
        |         WHEN top_bigram_frac > 0.1 THEN 'repetitive_bigram'
        |         WHEN dup_trigram_frac > 0.5 THEN 'repetitive_trigram'
        |         ELSE 'kept' END AS reason
        |  FROM qs JOIN lp ON qs.doc_id = lp.doc_id JOIN r ON qs.doc_id = r.doc_id)
        |SELECT doc_id, lang, reason, reason = 'kept' AS keep FROM v""".stripMargin,
    "q_top_ngrams" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 3 THEN
        |      [concat_ws(' ', toks[i], toks[i+1], toks[i+2])
        |       for i in range(1, len(toks) - 2 + 1)]
        |    ELSE [] END) AS gram
        |  FROM tk)
        |SELECT gram, COUNT(*) AS occ, COUNT(DISTINCT doc_id) AS df
        |FROM g GROUP BY gram
        |ORDER BY occ DESC, gram ASC LIMIT 20""".stripMargin,
    "q_domain_cap" ->
      """SELECT doc_id, source, rk, rk <= 20 AS keep FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)""".stripMargin,
    "q_temperature_mix" ->
      """WITH s AS (
        |  SELECT source,
        |    CAST(sum(CASE WHEN len(trim(text)) = 0 THEN 0
        |             ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total FROM s),
        |sq AS (
        |  SELECT source, n_tokens,
        |    CAST(round(1048576.0 * sqrt(CAST(n_tokens AS DOUBLE) / total))
        |      AS BIGINT) AS sqrt_share_fp
        |  FROM s, t),
        |d AS (SELECT CAST(sum(sqrt_share_fp) AS BIGINT) AS den FROM sq)
        |SELECT source, n_tokens, sqrt_share_fp,
        |  (1048576 * sqrt_share_fp) // den AS weight_fp
        |FROM sq, d""".stripMargin,
    "q_budget_mix" ->
      """WITH s AS (
        |  SELECT source,
        |    CAST(sum(CASE WHEN len(trim(text)) = 0 THEN 0
        |             ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total,
        |             CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens FROM s),
        |sq AS (
        |  SELECT source, n_tokens,
        |    CAST(round(1048576.0 * sqrt(CAST(n_tokens AS DOUBLE) / total))
        |      AS BIGINT) AS sqrt_share_fp
        |  FROM s, t),
        |d AS (SELECT CAST(sum(sqrt_share_fp) AS BIGINT) AS den FROM sq),
        |b AS (
        |  SELECT source,
        |    (((1048576 * sqrt_share_fp) // den) * (corpus_tokens // 4)) // 1048576
        |      AS budget_toks
        |  FROM sq, d, t),
        |doc AS (
        |  SELECT doc_id, source,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
        |      AS n_toks,
        |    md5('mix:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, n_toks,
        |    CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_toks
        |  FROM doc)
        |SELECT r.doc_id, r.source, r.n_toks, r.running_toks, b.budget_toks,
        |  r.running_toks <= b.budget_toks AS keep
        |FROM r JOIN b USING (source)""".stripMargin,
    "q_corpus_mix" ->
      """WITH m AS (
        |  SELECT lang, source, count(*) AS n_docs,
        |    CAST(sum(CASE WHEN len(trim(text)) = 0 THEN 0
        |             ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS n_tokens,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
        |  FROM documents GROUP BY lang, source)
        |SELECT lang, source, n_docs, n_tokens, n_chars_sum,
        |  CAST(n_tokens AS DOUBLE) / (SELECT CAST(sum(n_tokens) AS BIGINT) FROM m)
        |    AS token_share
        |FROM m""".stripMargin,
    "q_normalize_text" ->
      """WITH n AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(
        |                regexp_replace(text, '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g'),
        |                '[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}\x{007F}]', '', 'g'),
        |              '[\x{2018}\x{2019}]', '''', 'g'),
        |            '[\x{201C}\x{201D}]', '"', 'g'),
        |          '[\x{2013}\x{2014}]', '-', 'g'),
        |        '\x{00A0}', ' ', 'g'),
        |      '\s+', ' ', 'g')) AS norm_text
        |  FROM documents)
        |SELECT doc_id, norm_text, norm_text <> text AS changed,
        |  CAST(len(text) - len(norm_text) AS BIGINT) AS n_chars_removed
        |FROM n""".stripMargin,
    "q_pii_scrub" ->
      """WITH s1 AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM documents),
        |s2 AS (SELECT *, regexp_replace(t1,
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS t2 FROM s1),
        |s3 AS (SELECT *, regexp_replace(t2,
        |    '[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}', '<CARD>', 'g') AS t3 FROM s2)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_ips,
        |  len(regexp_extract_all(t2, '[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}')) AS n_cards,
        |  len(regexp_extract_all(t3, '[0-9][0-9 ()+.-]{7,}[0-9]')) AS n_phonelike,
        |  md5(regexp_replace(t3, '[0-9][0-9 ()+.-]{7,}[0-9]', '<NUMBER>', 'g')) AS scrubbed_md5
        |FROM s3""".stripMargin,
    "q_length_stats" ->
      """SELECT lang,
        |  COUNT(*) AS n_docs,
        |  MIN(n_chars) AS min_chars,
        |  MAX(n_chars) AS max_chars,
        |  AVG(n_chars) AS avg_chars,
        |  quantile_cont(n_chars, 0.5) AS p50,
        |  quantile_cont(n_chars, 0.9) AS p90,
        |  quantile_cont(n_chars, 0.99) AS p99
        |FROM documents GROUP BY lang""".stripMargin,
    "q_length_approx" ->
      """SELECT lang,
        |  COUNT(*) AS n_docs,
        |  quantile_cont(n_chars, 0.5) AS exact_p50,
        |  quantile_cont(n_chars, 0.9) AS exact_p90,
        |  TRUE AS p50_in_bounds,
        |  TRUE AS p90_in_bounds
        |FROM documents GROUP BY lang""".stripMargin,
    "q_stratified_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 100
        |      < (CASE lang WHEN 'en' THEN 25 WHEN 'zh' THEN 50 ELSE 100 END)""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id, n_chars,
        |  len(text) AS n_chars_calc,
        |  CASE WHEN len(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
        |FROM documents""".stripMargin,
    "q_token_count_bpe" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text,
         |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_pieces,
         |  $bpeCountSql AS n_bpe_tokens
         |FROM documents""".stripMargin,
    "q_pack_bpe" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    $bpeCountSql AS n_tokens,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 8 AS shard
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, shard, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT)
         |      AS cum_tokens
         |  FROM t)
         |SELECT doc_id, shard, n_tokens, cum_tokens,
         |  shard * 4294967296 + CAST(floor((cum_tokens - n_tokens) / 2048.0) AS BIGINT)
         |    AS chunk_id
         |FROM c""".stripMargin,
    "q_lang_id" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|is|to)\b')) AS en_hits,
        |    len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS de_hits,
        |    len(regexp_extract_all(lower(text), '\b(le|et|les|des|est)\b')) AS fr_hits,
        |    len(regexp_extract_all(lower(text), '\b(el|los|las|una|es)\b')) AS es_hits,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS cjk_hits
        |  FROM documents)
        |SELECT doc_id, lang, en_hits, de_hits, fr_hits, es_hits, cjk_hits,
        |  CASE WHEN cjk_hits > 0 THEN 'zh'
        |       WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
        |       WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
        |       WHEN fr_hits >= es_hits THEN 'fr'
        |       ELSE 'es' END AS lang_pred
        |FROM h""".stripMargin,
    "q_quality_score" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(len(text) AS DOUBLE) AS n_chars_d,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS DOUBLE) AS n_tokens_d,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) AS punct,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|or|of|in|to|is)\b')) AS DOUBLE) AS stop_hits
        |  FROM documents)
        |SELECT doc_id, n_chars_d, n_tokens_d,
        |  punct / greatest(n_chars_d, 1.0) AS punct_ratio,
        |  stop_hits / greatest(n_tokens_d, 1.0) AS stop_ratio,
        |  n_chars_d / greatest(n_tokens_d, 1.0) AS mean_word_len,
        |  (CASE WHEN n_chars_d >= 50 AND n_chars_d <= 10000 THEN 1.0 ELSE 0.0 END) * 0.4
        |    + (CASE WHEN stop_hits / greatest(n_tokens_d, 1.0) > 0.02 THEN 0.3 ELSE 0.0 END)
        |    + (CASE WHEN punct / greatest(n_chars_d, 1.0) < 0.2 THEN 0.3 ELSE 0.0 END) AS quality_score
        |FROM m""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id,
        |  md5(text) AS raw_md5,
        |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS norm_fingerprint
        |FROM documents""".stripMargin)
}
