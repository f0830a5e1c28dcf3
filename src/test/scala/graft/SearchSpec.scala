package graft

import graft.ops.SearchOps
import org.apache.spark.sql.functions._

class SearchSpec extends SparkSpecBase {
  import spark.implicits._

  test("analyze: lowercase, stopword removal, stemming, duplicate preservation") {
    val df = Seq(
      "The models and THE MODELS",         // stop 'the'/'and' out, models→model ×2… (dups kept)
      "cat's toys",                        // possessive + plural
      "").toDF("text")
    val got = df.select(SearchOps.analyze(col("text")).as("t"))
      .collect().map(_.getSeq[String](0))
    assert(got(0) === Seq("model", "model"))
    assert(got(1) === Seq("cat", "toy"))
    assert(got(2) === Seq.empty[String])
  }

  test("analyze: Cyrillic tokens survive, Russian stopwords drop, suffixes stem") {
    val df = Seq(
      "Потоки данных и окна",         // и is a _russian_ stopword
      "ёлки Ёлки elki",               // ё-normalization + case fold
      "смешанный text stream models"  // mixed-language row
    ).toDF("text")
    val got = df.select(SearchOps.analyze(col("text")).as("t"))
      .collect().map(_.getSeq[String](0))
    assert(got(0) === Seq("поток", "данн", "окн"))   // stopword и dropped
    assert(got(1) === Seq("елк", "елк", "elki"))     // ёлки → елк both cases
    assert(got(2) === Seq("смешанн", "text", "stream", "model"))
  }

  test("analyze: Russian stemmer strips the LONGEST listed suffix (lazy stem)") {
    val got = Seq("словами данными операциями").toDF("text")
      .select(SearchOps.analyze(col("text"))).head.getSeq[String](0)
    assert(got === Seq("слов", "данн", "операц"))
  }

  test("matchQueryRu: Russian query stems hit the panel-composed mixed-language rows") {
    val out = SearchOps.matchQueryRu(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[Int]("score") >= 1 && r.getAs[Int]("score") <= 3))
    // panel phrase 0 carries all three stems (потоки/данных/окнах), so the
    // top hit scores 3 and is a doc_id ≡ 0 (mod panel size) row — suffix
    // stripping across three different suffixes, not literal matches
    assert(out.head.getAs[Int]("score") === 3)
    assert(out.head.getAs[Long]("doc_id") % SearchOps.RuPanel.size === 0L)
    // phrase 2 ("Окно в потоковую обработку") must score exactly 1: окн
    // matches, but потоковую stems to потоков, NOT поток — the stemmer's
    // longest-suffix rule is doing real discrimination here
    val p2 = out.find(_.getAs[Long]("doc_id") % SearchOps.RuPanel.size === 2L)
    p2.foreach(r => assert(r.getAs[Int]("score") === 1))
  }

  test("analyzeQuery mirrors the column analyzer") {
    val viaCol = Seq("The Model's trainings DATA").toDF("text")
      .select(SearchOps.analyze(col("text"))).head.getSeq[String](0)
    assert(SearchOps.analyzeQuery("The Model's trainings DATA") === viaCol)
  }

  test("autoFuzz ladder matches ES fuzziness:auto") {
    assert(SearchOps.autoFuzz("ab") === 0)
    assert(SearchOps.autoFuzz("abc") === 1)
    assert(SearchOps.autoFuzz("abcde") === 1)
    assert(SearchOps.autoFuzz("abcdef") === 2)
  }

  test("matchQuery: scores bounded by #query terms, ordered desc") {
    val out = SearchOps.matchQuery(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[Int]("score") >= 1 && r.getAs[Int]("score") <= 3))
    val scores = out.map(_.getAs[Int]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("fuzzyQuery: exact term also matches its own typo budget") {
    // 'stream' is within levenshtein 2 of query typo 'streem'
    val hits = SearchOps.fuzzyQuery(spark, sf).collect()
    val direct = SearchOps.matchQuery(spark, sf, "stream", 500).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    if (direct.nonEmpty) {
      assert(hits.map(_.getAs[Long]("doc_id")).exists(direct))
    }
  }

  test("multiFieldFuzzy golden: field boosts pick a known top-1 doc (reference top-1 _id shape)") {
    val dir = "/tmp/graft_mf_fixture"
    // doc 0: query terms only in BODY past the 48-char title cut (weight 1.0)
    // doc 1: 'stream' inside the title slice (weight 2.0) → must win
    // doc 2: no match at all → filtered out
    Seq(
      (0L, "x y z pad pad pad pad pad pad pad pad pad pad stream window customer", "en"),
      (1L, "stream window pad pad pad pad pad pad pad pad pad pad pad customer", "en"),
      (2L, "nothing relevant here at all", "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq((1L, "Customer#000000001"), (2L, "Customer#000000002"))
      .toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = SearchOps.multiFieldFuzzy(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.head.getAs[Long]("doc_id") === 1L, out.mkString("; "))
    assert(!out.exists(_.getAs[Long]("doc_id") == 2L))
    // title boost really is the separator: doc 1 outranks doc 0
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(byId(1L) > byId(0L))
  }

  test("nestedQuery: every hit really has a qualifying order; n_orders correct") {
    val out = SearchOps.nestedQuery(spark, sf)
    val recheck = Tables.orders(spark, sf)
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 200000)
      .select("o_custkey").distinct()
    assert(out.count() === recheck.count())
    val total = out.select(sum("n_orders")).head.getLong(0)
    val expected = Tables.orders(spark, sf)
      .join(recheck, Seq("o_custkey"), "left_semi").count()
    assert(total === expected)
  }

  test("termsAgg: counts reconcile to total token volume of the top tokens") {
    val out = SearchOps.termsAgg(spark, sf, 10).collect()
    assert(out.length === 10)
    val ns = out.map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    // the r16 store-served face is ROW-identical to re-analyzing the
    // corpus (the store is built from the same analyze law)
    val direct = Tables.documents(spark, sf)
      .select(explode(graft.ops.SearchOps.analyze(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq === direct)
  }

  test("matchQueryIndexed: row-identical to the scan face; term IN-list pushed into the store scan") {
    import graft.ops.SearchOps
    val scan = SearchOps.matchQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    val idx = SearchOps.matchQueryIndexed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(idx === scan, "the indexed face must reproduce the scan face exactly")
    // the probe is a pushed IN-list on the postings store, not a corpus scan
    val plan = SearchOps.matchQueryIndexed(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(token"),
      s"expected the query terms pushed into the postings scan:\n$plan")
  }

  test("matchQueryRuIndexed: row-identical to the Cyrillic scan face; stems pushed into the panel store scan") {
    import graft.ops.SearchOps
    val scan = SearchOps.matchQueryRu(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    val idx = SearchOps.matchQueryRuIndexed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(idx === scan)
    assert(scan.nonEmpty, "vacuous fixture")
    val plan = SearchOps.matchQueryRuIndexed(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(token"),
      s"expected the Cyrillic stems pushed into the panel-postings scan:\n$plan")
  }

  test("diversifiedSampler: per-value cap + budget match an independent recomputation") {
    import graft.ops.{DedupOps, SearchOps}
    val (maxPer, budget) = (2L, 100)
    // independent sample derivation: collect (doc_id, source, h), apply
    // the cap and budget in plain Scala, recompute the token counts
    val hcol = DedupOps.hash60(concat(col("doc_id").cast("string"), lit("ds")))
    val rows = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), hcol.as("h")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val ids = rows.groupBy(_._2).values
      .flatMap(_.sortBy(r => (r._3, r._1)).take(maxPer.toInt))
      .toSeq.sortBy(r => (r._3, r._1)).take(budget).map(_._1).toSet
    val want = Tables.documents(spark, sf)
      .filter(col("doc_id").isInCollection(ids.toSeq))
      .select(explode(array_distinct(SearchOps.analyze(col("text")))).as("t"))
      .groupBy("t").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (t, n) => (-n, t) }.take(15).toSeq
    val got = SearchOps.diversifiedSampler(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === want)
    assert(got.nonEmpty, "vacuous fixture")
  }

  test("termsSetQuery: m-of-n threshold law; sub-threshold docs never surface") {
    import graft.ops.SearchOps
    val dir = "/tmp/graft_terms_set_docs"
    Seq((1L, "data stream window"), // 3 of 3
        (2L, "data window"),        // 2 of 3
        (3L, "data"),               // 1 of 3 — below m=2
        (4L, "nothing here"))       // 0
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val got = SearchOps.termsSetQuery(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got === Seq((1L, 3), (2L, 2)))
    // the full 3-of-3 threshold degenerates to the conjunctive match
    val all = SearchOps.termsSetQuery(spark, dir, minMatch = 3).collect()
      .map(_.getLong(0)).toSeq
    assert(all === Seq(1L))
  }

  test("pinnedQuery: pin order first, absent pins drop, organic fills the tail") {
    import graft.ops.SearchOps
    val rows = SearchOps.pinnedQuery(spark, sf, pins = Seq(42L, 7L, 999999999L))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3)))
    // ranks are 1..k dense
    assert(rows.map(_._1).toSeq === (1L to rows.length).toSeq)
    // the two EXISTING pins lead in the exact order given; the absent id drops
    assert(rows.take(2).map(_._2).toSeq === Seq(42L, 7L))
    assert(rows.take(2).forall(_._3), "pins must be flagged")
    assert(!rows.exists(_._2 == 999999999L))
    // organic tail is ordered by (score desc, doc_id asc) and excludes pins
    val organic = rows.drop(2)
    assert(organic.forall(!_._3))
    assert(organic.map(r => (-r._4, r._2)).toSeq ===
      organic.map(r => (-r._4, r._2)).sortBy(identity).toSeq)
  }

  test("rankFeatureSearchIndexed: row-identical to the scan face; probe-bounded dim join") {
    import graft.ops.SearchOps
    val scan = SearchOps.rankFeatureSearch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val idx = SearchOps.rankFeatureSearchIndexed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(idx === scan)
    assert(scan.nonEmpty, "vacuous fixture")
    val plan = SearchOps.rankFeatureSearchIndexed(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(token"),
      s"expected the query terms pushed into the postings scan:\n$plan")
  }

  test("rareTermsAgg: true max_doc_count=1 semantics isolate hapaxes; fixture face finds the planted marker") {
    import graft.ops.SearchOps
    val dir = "/tmp/graft_rare_terms_docs"
    Seq((1L, "alpha beta"), (2L, "alpha gamma"), (3L, "alpha"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val hapax = SearchOps.rareTermsAgg(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(hapax === Seq(("beta", 1L), ("gamma", 1L)),
      "default max_doc_count=1 must return exactly the hapax terms, asc")
    // the registered face (max_doc_count=300) isolates the fixture's one
    // anomalous term: the planted near-dup marker 'dup'
    val fixture = SearchOps.rareTermsAgg(spark, sf, maxDocCount = 300L).collect()
    assert(fixture.map(_.getString(0)).contains("dup"))
    assert(fixture.forall(_.getLong(1) <= 300L))
  }

  test("boolQueryIndexed: row-identical to the scan face; one pushed probe covers all clause families") {
    import graft.ops.SearchOps
    val scan = SearchOps.boolQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val idx = SearchOps.boolQueryIndexed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(idx === scan, "the indexed bool face must reproduce the scan face exactly")
    assert(scan.nonEmpty, "fixture must produce bool hits or the pin is vacuous")
    val plan = SearchOps.boolQueryIndexed(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(token"),
      s"expected the union clause vocabulary pushed into the postings scan:\n$plan")
    // must-exclusion works: a should-only hit that contains the must_not
    // term never surfaces — verified by clause algebra on a tiny corpus
    val dir = "/tmp/graft_bool_idx_docs"
    Seq((1L, "en", "data stream"),      // must + should → score 2
        (2L, "en", "data error"),       // must_not present → excluded
        (3L, "en", "stream window"),    // must absent → excluded
        (4L, "de", "data window"),      // filter-context lang → excluded
        (5L, "en", "data"))             // must only → score 1
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val rows = SearchOps.boolQueryIndexed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(rows === Seq((1L, 2L), (5L, 1L)))
  }

  test("spanNearSearch: matches an independent rolling-window rescan; slop law exact") {
    import graft.ops.SearchOps
    // independent recomputation: per doc, count (p1, p2) pairs over the
    // analyzed token positions with p2 > p1 and ≤ slop intervening
    val slop = 3
    val byDoc = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.ops.SearchOps.analyze(col("text")).as("toks"))
      .collect()
      .map { r =>
        val toks = r.getSeq[String](1)
        val p1 = toks.zipWithIndex.collect { case ("data", i) => i }
        val p2 = toks.zipWithIndex.collect { case ("window", i) => i }
        val n = p1.map(i => p2.count(j => j > i && j - i - 1 <= slop)).sum
        (r.getLong(0), n.toLong)
      }
      .filter(_._2 > 0).toSeq
      .sortBy { case (id, f) => (-f, id) }.take(20)
    val got = SearchOps.spanNearSearch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === byDoc)
    assert(got.nonEmpty, "fixture must produce span hits or the pin is vacuous")
    // slop=0 degenerates to the adjacent-bigram phrase law
    val adj = SearchOps.spanNearSearch(spark, sf, "data", "stream", slop = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val phrase = SearchOps.phraseSearchIndexed(spark, sf, "data stream").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(adj === phrase,
      "span_near(slop=0, in_order) over a bigram must equal match_phrase")
  }

  test("intervalsQuery: minimal-interval algebra matches an independent rescan; laws hold") {
    import graft.ops.SearchOps
    val maxGaps = 2
    // independent recomputation of Lucene's minimal ordered intervals:
    // latest t1 before each t2, earliest t2 per surviving t1, gap prune last
    val byDoc = Tables.documents(spark, sf)
      .select(col("doc_id"), SearchOps.analyze(col("text")).as("toks"))
      .collect()
      .map { r =>
        val toks = r.getSeq[String](1)
        val p1 = toks.zipWithIndex.collect { case ("stream", i) => i }
        val p2 = toks.zipWithIndex.collect { case ("window", i) => i }
        val latest = p2.flatMap(b => p1.filter(_ < b).sorted.lastOption.map(a => (a, b)))
        val minimal = latest.groupBy(_._1).map { case (a, abs) => (a, abs.map(_._2).min) }
        val n = minimal.count { case (a, b) => b - a - 1 <= maxGaps }
        (r.getLong(0), n.toLong)
      }
      .filter(_._2 > 0).toSeq
      .sortBy { case (id, f) => (-f, id) }.take(20)
    val got = SearchOps.intervalsQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === byDoc)
    assert(got.nonEmpty, "fixture must produce interval hits or the pin is vacuous")
    // law 1: max_gaps=0 over an adjacent bigram ≡ match_phrase (each
    // adjacent pair is its own minimal interval: ends map to distinct starts)
    val tight = SearchOps.intervalsQuery(spark, sf, "data", "stream", maxGaps = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val phrase = SearchOps.phraseSearchIndexed(spark, sf, "data stream")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(tight === phrase,
      "intervals(ordered, max_gaps=0) over a bigram must equal match_phrase")
    // law 2: minimality only prunes — interval_freq ≤ span_freq per doc at
    // equal width (span_near slop = max_gaps, same clause pair)
    val spans = SearchOps.spanNearSearch(spark, sf, "stream", "window", slop = maxGaps)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val all = SearchOps.intervalsQuery(spark, sf, k = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    all.foreach { case (id, f) =>
      spans.get(id).foreach(sf2 => assert(f <= sf2,
        s"doc $id: interval_freq $f must not exceed span_freq $sf2"))
    }
    // hand corpus: 'stream x window window' — one minimal interval (the
    // second window's interval (1,4) contains (1,3) and is pruned);
    // span_near at the same width counts BOTH pairs
    val dir = "/tmp/graft_intervals_docs"
    Seq((1L, "stream other window window thing"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val hand = SearchOps.intervalsQuery(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(hand === Seq((1L, 1L)), "containment must prune the wider interval")
    val handSpan = SearchOps.spanNearSearch(spark, dir, "stream", "window", slop = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(handSpan === Seq((1L, 2L)), "span_near counts every qualifying pair")
  }

  test("spanOrNot: survives ↔ no exclusion within [pre, post]; window edges exact") {
    import graft.ops.SearchOps
    val (pre, post) = (1, 1)
    val byDoc = Tables.documents(spark, sf)
      .select(col("doc_id"), SearchOps.analyze(col("text")).as("toks"))
      .collect()
      .map { r =>
        val toks = r.getSeq[String](1)
        val exPos = toks.zipWithIndex.collect { case ("fast", i) => i }.toSet
        val n = toks.zipWithIndex.count { case (t, p) =>
          (t == "slow" || t == "dup") &&
            !(p - pre to p + post).exists(exPos.contains)
        }
        (r.getLong(0), n.toLong)
      }
      .filter(_._2 > 0).toSeq
      .sortBy { case (id, f) => (-f, id) }.take(20)
    val got = SearchOps.spanOrNot(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === byDoc)
    assert(got.nonEmpty, "fixture must produce surviving spans or the pin is vacuous")
    // hand corpus pins the window arithmetic: exclusion at distance exactly
    // pre/post kills; distance pre+1 survives
    val dir = "/tmp/graft_spannot_docs"
    Seq((1L, "slow fast"),          // fast at +1 = post → killed
        (2L, "fast slow"),          // fast at −1 = pre → killed
        (3L, "slow other fast"),    // fast at +2 > post → survives
        (4L, "dup other other"),    // no exclusion → survives
        (5L, "fast"))               // no include spans at all
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val rows = SearchOps.spanOrNot(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows === Seq((3L, 1L), (4L, 1L)))
  }

  test("matchBoolPrefix: clause algebra + single-clause prefix; pushed In/StartsWith") {
    import graft.ops.SearchOps
    // scan-law recomputation: presence per full term + ANY prefix expansion
    val byDoc = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), SearchOps.analyze(col("text")).as("toks"))
      .collect()
      .map { r =>
        val toks = r.getSeq[String](2)
        val s = Seq("data", "stream").count(toks.contains) +
          (if (toks.exists(_.startsWith("wind"))) 1 else 0)
        (r.getLong(0), r.getString(1), s)
      }
      .filter(_._3 > 0).toSeq
      .sortBy { case (id, _, s) => (-s, id) }.take(20)
    val got = SearchOps.matchBoolPrefix(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(got === byDoc)
    assert(got.nonEmpty, "fixture must produce hits or the pin is vacuous")
    val plan = SearchOps.matchBoolPrefix(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("StringStartsWith(token,wind"),
      s"expected the prefix clause pushed into the postings scan:\n$plan")
    // expansion multiplicity law: a doc with MANY prefix expansions scores
    // the prefix clause once (ES: prefix is one bool clause)
    val dir = "/tmp/graft_mbp_docs"
    Seq((1L, "en", "window winter wind"), // 2 expansions (winter ≠ wind*), score 1
        (2L, "en", "data window"),        // full + prefix, score 2
        (3L, "en", "other thing"))        // no clause
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val rows = SearchOps.matchBoolPrefix(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(2))).toSeq
    assert(rows === Seq((2L, 2L), (1L, 1L)))
  }

  test("combinedFieldsSearch: BM25F matches a plain-Scala recompute; title weight ranks") {
    import graft.ops.SearchOps
    val (k1, b) = (1.2, 0.75)
    val terms = Seq("data", "stream", "window").sorted
    // independent recomputation of the weighted-field BM25 with the same
    // double spelling: tf = 2·tf_title + tf_body, dl = 2·|title| + |body|
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        SearchOps.analyze(substring(col("text"), 1, 48)).as("tt"),
        SearchOps.analyze(col("text")).as("bt"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[String](1), r.getSeq[String](2)))
    val tfs = docs.map { case (id, tt, bt) =>
      id -> terms.map(t => t -> (2.0 * tt.count(_ == t) + bt.count(_ == t))).toMap
    }.toMap
    val dls = docs.map { case (id, tt, bt) => id -> (2.0 * tt.size + bt.size) }.toMap
    val nDocs = docs.count { case (_, tt, bt) => tt.nonEmpty || bt.nonEmpty }.toDouble
    val avgdl = dls.values.sum / nDocs
    val dfs = terms.map(t => t -> tfs.values.count(_(t) > 0).toDouble).toMap
    val expected = tfs.toSeq
      .map { case (id, byTerm) =>
        val s = terms.map { t =>
          val tf = byTerm(t)
          if (tf == 0 || dfs(t) == 0) 0.0
          else {
            val idf = math.log(1.0 + (nDocs - dfs(t) + 0.5) / (dfs(t) + 0.5))
            (idf * (tf * (k1 + 1.0))) /
              (tf + k1 * (1.0 - b + b * dls(id) / avgdl))
          }
        }.sum
        (id, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .filter(_._2 != 0.0)
      .sortBy { case (id, s) => (-s, id) }.take(20)
    val got = SearchOps.combinedFieldsSearch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_._1) === expected.map(_._1))
    got.zip(expected).foreach { case ((_, g), (_, e)) =>
      assert(math.abs(g - e) < 1e-6, s"score $g vs recomputed $e")
    }
    assert(got.nonEmpty, "fixture must produce BM25F hits or the pin is vacuous")
    // title-weight law: identical char structure, 'data' inside vs outside
    // the 48-char title slice — the title occurrence triples the weighted tf
    // at equal dl/idf, so doc 1 must outrank doc 2
    val dir = "/tmp/graft_cf_docs"
    Seq((1L, "data alpha bravo charli delta tango victor whisky xxxx"),
        (2L, "xxxx alpha bravo charli delta tango victor whisky data"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val rows = SearchOps.combinedFieldsSearch(spark, dir, "data").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows.map(_._1) === Seq(1L, 2L))
    assert(rows(0)._2 > rows(1)._2,
      "a title-slice occurrence must outscore a body-only occurrence")
    // the registered face serves from the cfposts store — rows must equal
    // the scan face exactly (identical double spelling over identical
    // exact-integer operands)
    val idx = SearchOps.combinedFieldsIndexed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(idx === got, "served BM25F face must reproduce the scan face exactly")
  }

  test("termsLookupQuery: lookup doc's term set drives presence counts") {
    import graft.ops.SearchOps
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), SearchOps.analyze(col("text")).as("toks"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2).toSet))
    val lookup = docs.find(_._1 == 42L).get._3
    assert(lookup.nonEmpty, "lookup doc 42 must analyze to terms")
    val expected = docs
      .map { case (id, lang, toks) => (id, lang, (toks & lookup).size) }
      .filter(_._3 > 0).toSeq
      .sortBy { case (id, _, n) => (-n, id) }.take(20)
    val got = SearchOps.termsLookupQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(got === expected)
    // the lookup doc matches its whole term set — it must sit in the top
    // band with the maximum possible n_matched
    val selfRow = got.find(_._1 == 42L)
    assert(selfRow.exists(_._3 == lookup.size) || got.size == 20 &&
      got.last._3 >= lookup.size,
      s"doc 42 should match all ${lookup.size} of its own terms: $selfRow")
  }

  test("significantText: filter_duplicate_text kills boilerplate-inflated significance") {
    import graft.ops.SearchOps
    // planted corpus: the src3 foreground carries the SAME boilerplate doc
    // three times; 'alpha' rides only the boilerplate, 'gamma' is a genuine
    // src3 signal appearing once
    val dir = "/tmp/graft_sigtext_docs"
    Seq((1L, "src3", "alpha beta"),
        (2L, "src3", "alpha beta"),   // exact duplicate of 1
        (3L, "src3", "ALPHA  beta"),  // near-dup: case folds + the double
                                      // space collapses -> same fingerprint as 1
        (4L, "src3", "gamma beta"),
        (5L, "srcX", "beta delta"),
        (6L, "srcX", "delta epsilon"),
        (7L, "srcX", "beta zeta"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val raw = SearchOps.significantTerms(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val dedup = SearchOps.significantText(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(raw("alpha") === 3L,
      "without dedup the boilerplate term counts every copy")
    assert(dedup("alpha") === 1L,
      "filter_duplicate_text must count the boilerplate once")
    assert(dedup("gamma") === 1L, "genuine signal survives dedup")
    // the big-corpus face stays well-formed (full correctness is the
    // DuckDB oracle's job)
    val big = SearchOps.significantText(spark, sf).collect()
    assert(big.nonEmpty && big.forall(_.getLong(1) > 0),
      "every emitted term must have foreground support")
  }

  test("functionScoreFvf: sqrt fvf + seeded random replayed exactly; seed is per-doc stable") {
    import graft.ops.SearchOps
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        SearchOps.analyze(col("text")).as("toks"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getSeq[String](3).toSet))
    def rnd(id: Long): Double = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      (java.lang.Long.parseLong(md5, 16) % 1048576L).toDouble / 1048576.0
    }
    val expected = docs.map { case (id, lang, nc, toks) =>
      val q = Seq("data", "stream", "window").count(toks.contains)
      val s = q.toDouble * (math.sqrt(nc.toDouble * 0.01) + rnd(id))
      (id, lang, q, BigDecimal(s).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.filter(_._3 > 0)
      .map { case (id, lang, _, s) => (id, lang, s) }.toSeq
      .sortBy { case (id, _, s) => (-s, id) }.take(20)
    val got = SearchOps.functionScoreFvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got.map(_._1) === expected.map(_._1))
    got.zip(expected).foreach { case ((_, _, g), (_, _, e)) =>
      assert(math.abs(g - e) < 1e-6, s"score $g vs recomputed $e")
    }
    assert(got.nonEmpty, "fixture must produce scored hits or the pin is vacuous")
    // the seeded random is CONSISTENT: the same call twice returns
    // identical scores (ES's random_score-with-seed contract)
    val again = SearchOps.functionScoreFvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(again === got.map(r => (r._1, r._3)))
  }

  test("rankedSearch golden: rare-term doc outranks the higher-raw-tf common-term doc") {
    val dir = "/tmp/graft_ranked_docs"
    Seq((1L, "alpha beta beta"),              // rare 'beta' ×2 + common 'alpha'
        (2L, "alpha alpha alpha alpha"),      // most raw matches, all common
        (3L, "gamma delta"))                  // no query terms
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val rows = SearchOps.rankedSearch(spark, dir, "alpha beta", 10).collect()
    // ES-flavored relevance: idf demotes 'alpha' (df=2) vs 'beta' (df=1), so
    // doc 1 wins despite doc 2's higher raw term count — exactly the ordering
    // a match-count score cannot produce
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    val expected1 = math.log(3.0 / 2.0) + 2.0 * math.log(3.0 / 1.0)
    val expected2 = 4.0 * math.log(3.0 / 2.0)
    assert(math.abs(rows(0).getDouble(1) - expected1) < 1e-6)
    assert(math.abs(rows(1).getDouble(1) - expected2) < 1e-6)
  }

  test("rankedSearch on the real corpus: top-k, descending, strictly positive scores") {
    val rows = SearchOps.rankedSearch(spark, sf).collect()
    assert(rows.length === 20)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(scores.forall(_ > 0.0))
  }

  test("servedPostings: a rewritten corpus rebuilds the store — never serves stale hits") {
    import spark.implicits._
    val dir = "/tmp/graft_staleness_docs"
    Seq((1L, "gamma ray burst")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val first = SearchOps.invertedSearch(spark, dir, "gamma").collect()
    assert(first.map(_.getAs[Long]("doc_id")).toSet === Set(1L))
    // rewrite the SOURCE with different content: the version-stamped store
    // path changes, so the next query rebuilds instead of serving the old
    // index (the silent-staleness trap of a dir-keyed cache)
    Thread.sleep(5) // mtime tick (version also keys on bytes/file count)
    Seq((2L, "solar flare event"), (3L, "gamma burst again"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val second = SearchOps.invertedSearch(spark, dir, "gamma").collect()
    assert(second.map(_.getAs[Long]("doc_id")).toSet === Set(3L),
      "store served results from the pre-rewrite corpus")
  }

  test("postingsSearch ≡ matchQuery on distinct-term scoring") {
    val postings = SearchOps.postingsIndex(spark, sf).cache()
    val viaIndex = SearchOps.postingsSearch(postings, "data stream window", 20)
      .select("doc_id", "score").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score")).toMap
    val viaScan = SearchOps.matchQuery(spark, sf, "data stream window", 20)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("score").toLong).toMap
    // same docs, same scores (top-k tie sets may order differently; compare as map)
    viaScan.foreach { case (id, s) => assert(viaIndex.getOrElse(id, s) === s) }
    postings.unpersist()
  }

  test("keywords: top-k per doc by tf·idf, recomputed independently for one doc") {
    val out = SearchOps.keywords(spark, sf).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(out.nonEmpty)
    // every doc emits ranks 1..k with non-increasing scores
    out.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq === (1L to sorted.length))
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    // independent recompute for one doc: the winner IS the max tf·ln(N/df)
    val postings = SearchOps.postingsIndex(spark, sf).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("doc_id"), r.getAs[Long]("tf")))
    val n = Tables.documents(spark, sf).count().toDouble
    val df = postings.groupBy(_._1).map { case (t, rs) => t -> rs.length }
    val docId = out.keys.min
    val expected = postings.filter(_._2 == docId)
      .map { case (t, _, tf) => (t, tf * math.log(n / df(t))) }
      .sortBy { case (t, s) => (-s, t) }.take(3)
    val got = out(docId).sortBy(_.getAs[Long]("rank"))
      .map(r => r.getAs[String]("token")).toSeq
    assert(got === expected.map(_._1).toSeq)
  }

  test("hybridSearch: RRF fuses both lists — vector self-hit present, scores ordered, deterministic") {
    val out = SearchOps.hybridSearch(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 10)
    // doc 0 is the query vector itself → rank 1 on the vector list → its
    // fused score carries at least that list's 1/(60+1) term
    val byId = out.map(r => r.getLong(0) -> r.getAs[Double]("rrf_score")).toMap
    assert(byId.contains(0L), s"vector self-hit missing from ${byId.keySet}")
    assert(byId(0L) >= 1.0 / 61 - 1e-6)
    val scores = out.map(_.getAs[Double]("rrf_score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // a doc on BOTH lists must outscore a same-rank doc on one list: the max
    // possible single-list score is 1/61 < any two-list sum
    val rerun = SearchOps.hybridSearch(spark, sf).collect()
    assert(out.map(_.toSeq).toSeq === rerun.map(_.toSeq).toSeq)
  }

  test("fuzzySearchIndexed ≡ fuzzyQuery scan baseline (docs and scores)") {
    val viaIndex = SearchOps.fuzzySearchIndexed(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("score")).toMap
    val viaScan = SearchOps.fuzzyQuery(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("score")).toMap
    // the q-gram bound is a SUPERSET guarantee, the levenshtein verify cuts
    // back to exactly the scan semantics — any divergence is a bug
    viaScan.foreach { case (id, s) => assert(viaIndex.get(id) === Some(s),
      s"doc $id: scan=$s index=${viaIndex.get(id)}") }
    assert(viaIndex.keySet === viaScan.keySet)
  }

  test("fuzzy q-gram bound never drops a true match (3-letter short-branch term included)") {
    // 'cat' (len 3, fuzz 1) has bound 3-1-2 = 0 ⇒ short branch; an interior
    // edit like 'cxt' shares ZERO bigrams with it — the gram branch alone
    // would lose it, which is exactly why the branch split on the bound's
    // sign exists
    val docs = Seq(
      (1L, "en", "the cxt sat on the mat"),     // cxt: lev('cxt','cat')=1, no shared gram
      (2L, "en", "a catt among pigeons"),       // catt: lev 1, shares 'ca','at'
      (3L, "en", "nothing relevant here")
    ).toDF("doc_id", "lang", "text")
    val postings = docs
      .select(col("doc_id"), explode(SearchOps.analyze(col("text"))).as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
    val dict = postings.select(col("token")).distinct()
      .withColumn("tok_len", length(col("token")))
    val hits = SearchOps.fuzzyIndexedQuery(spark, postings, dict,
        docs.select("doc_id", "lang"), "cat", 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(hits === Set(1L, 2L))
  }

  test("fuzzySearchIndexed prunes the dictionary before levenshtein") {
    // sf0.01: the prune-factor claim needs a real vocabulary, not the
    // 29-token sf0.001 one where 3 candidates already read as 10%
    val sf01 = "/root/testdata/sf0.01"
    val postings = SearchOps.postingsIndex(spark, sf01).cache()
    val dict = postings.select(col("token")).distinct()
      .withColumn("tok_len", length(col("token"))).cache()
    val dictSize = dict.count()
    // candidates that reach the levenshtein verify = the indexed pipeline
    // WITHOUT its verify filter: rebuild the two branches' union via the
    // public face by counting verified tokens' upper bound — assert the
    // gram-join candidate census directly
    val q = SearchOps.fuzzyIndexedQuery(spark, postings, dict,
      Tables.documents(spark, sf01).select("doc_id", "lang"), "streem qery", 20)
    // plan shape: levenshtein must be applied ABOVE the gram expansion —
    // i.e. only to tokens that survived the gram equi-join + length band
    // (Catalyst pushes the verify into that join's condition), never as a
    // scan predicate over the raw dictionary or corpus
    val plan = q.queryExecution.optimizedPlan.toString()
    val levPos = plan.indexOf("levenshtein")
    val gramGenPos = plan.indexOf("inline(grams")
    assert(levPos >= 0 && gramGenPos >= 0,
      s"expected levenshtein + gram expansion in:\n$plan")
    assert(levPos < gramGenPos, // top-down print: verify above the expansion
      s"levenshtein must be applied above the gram-postings build:\n$plan")
    assert(dictSize > 0)
    dict.unpersist(); postings.unpersist()

    // prune factor: the driver corpus has a fixed ~30-word vocabulary (no
    // pruning to measure), so prove the census on a GENERATED dictionary —
    // 4000 hex-ish tokens of mixed length plus planted near-matches; the
    // gram+band candidates must be a sliver of it and still a superset of
    // the true matches
    val bigDict = spark.range(4000)
      .select(substring(md5(col("id").cast("string")), lit(1),
        (pmod(col("id"), lit(8)) + lit(3)).cast("int")).as("token"))
      .unionByName(Seq("stream", "xstreem", "qery1").toDF("token"))
      .distinct()
      .withColumn("tok_len", length(col("token")))
      .cache()
    val bigSize = bigDict.count()
    def branchCandidates(term: String): (Long, Set[String]) = {
      val f = SearchOps.autoFuzz(term)
      val qg = term.sliding(2).toSeq.filter(_.length == 2)
        .groupBy(identity).map { case (g, gs) => (g, gs.size) }.toSeq
        .toDF("gram", "qcnt")
      val cand = bigDict.filter(col("tok_len") >= 2)
        .select(col("token"), col("tok_len"),
          explode(transform(sequence(lit(1), col("tok_len") - 1),
            i => col("token").substr(i, lit(2)))).as("gram"))
        .groupBy(col("token"), col("tok_len"), col("gram"))
        .agg(count(lit(1)).as("cnt"))
        .join(qg, Seq("gram"))
        .filter(abs(col("tok_len") - lit(term.length)) <= f)
        .groupBy(col("token"), col("tok_len"))
        .agg(sum(least(col("cnt"), col("qcnt").cast("long"))).as("shared"))
        .filter(col("shared") >=
          greatest(col("tok_len"), lit(term.length)) - 1 - lit(2 * f))
        .select("token")
      val toks = cand.collect().map(_.getString(0)).toSet
      (toks.size.toLong, toks)
    }
    val (nStreem, candStreem) = branchCandidates("streem")
    val (nQery, candQery) = branchCandidates("qery")
    // superset guarantee: every true fuzzy match is among the candidates
    assert(candStreem.contains("stream") && candStreem.contains("xstreem"))
    assert(candQery.contains("qery1"))
    val candidates = nStreem + nQery
    assert(candidates.toDouble / bigSize < 0.05,
      s"candidate set $candidates should be <5% of the $bigSize-token dictionary")
    bigDict.unpersist()
  }

  test("bm25: length normalization and tf saturation behave as Okapi demands") {
    // four docs, one query term "data": same tf in a short vs long doc must
    // rank the short doc higher (length norm), and 10x the tf must score
    // far LESS than 10x (saturation k1) — raw tf-idf does neither.
    val postings = Seq(
      (1L, "data", 2L), (1L, "pad", 8L),              // short doc, tf=2, dl=10
      (2L, "data", 2L), (2L, "pad", 98L),             // long doc, same tf, dl=100
      (3L, "data", 1L), (3L, "pad", 9L),              // tf=1, dl=10
      (4L, "data", 10L), (4L, "pad", 90L))            // tf=10, dl=100
      .toDF("doc_id", "token", "tf")
    val out = graft.ops.SearchOps.bm25PostingsSearch(postings, "data", k = 10)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(out(1L) > out(2L),
      s"equal tf: short doc ${out(1L)} must out-rank long doc ${out(2L)}")
    // saturation: doc 4 has 10x doc 3's tf; its score must be well under
    // 10x even before length norm helps doc 3 further
    assert(out(4L) < 10 * out(3L) * 0.5,
      s"tf saturation missing: tf=10 scored ${out(4L)} vs tf=1 ${out(3L)}")
    // every score positive; absent docs absent
    assert(out.keySet === Set(1L, 2L, 3L, 4L))
    assert(out.values.forall(_ > 0))
  }

  test("moreLikeThis: idf-discriminating term selection, seed exclusion, maxTerms cap") {
    // seed doc 0 carries two RARE terms (xray, yankee) and one term that is
    // in EVERY doc (common). doc 1 shares only the rare terms, doc 2 only
    // the common term, doc 3 nothing. With maxTerms=2 the selection must
    // take the two rare terms (idf beats the common term's equal tf), so
    // doc 2 — sharing only the unselected term — must not appear at all.
    val postings = Seq(
      (0L, "xray", 1L), (0L, "yankee", 1L), (0L, "common", 1L),
      (1L, "xray", 2L), (1L, "yankee", 1L), (1L, "common", 1L),
      (2L, "common", 5L),
      (3L, "zulu", 1L), (3L, "common", 1L))
      .toDF("doc_id", "token", "tf")
    val n = Seq(4.0).toDF("n_docs")
    val out = graft.ops.SearchOps
      .mltPostingsSearch(postings, n, seedId = 0L, maxTerms = 2, k = 10)
      .collect()
    val ids = out.map(_.getAs[Long]("doc_id"))
    assert(!ids.contains(0L), "seed doc must be excluded")
    assert(ids.contains(1L), "rare-term sharer must match")
    assert(!ids.contains(2L), "doc sharing only the unselected common term must be absent")
    assert(!ids.contains(3L), "doc sharing nothing must be absent")
    // doc 1 shares both selected terms → n_shared = 2, positive score
    val d1 = out.find(_.getAs[Long]("doc_id") == 1L).get
    assert(d1.getAs[Long]("n_shared") === 2L)
    assert(d1.getAs[Double]("score") > 0)
    // raising maxTerms to 3 admits the common term and doc 2 appears, but
    // BELOW doc 1 (rare-term tf·idf dominates a ubiquitous term's ~0 idf)
    val wide = graft.ops.SearchOps
      .mltPostingsSearch(postings, n, seedId = 0L, maxTerms = 3, k = 10)
      .collect().map(_.getAs[Long]("doc_id"))
    assert(wide.head === 1L)
  }

  test("moreLikeThis on the corpus: deterministic, seedless, descending") {
    val out = graft.ops.SearchOps.moreLikeThis(spark, sf).collect()
    assert(out.nonEmpty)
    assert(!out.map(_.getAs[Long]("doc_id")).contains(7L))
    val scores = out.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    val again = graft.ops.SearchOps.moreLikeThis(spark, sf).collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("significantTerms: planted overrepresentation ranks first, uniform term scores 0, bg-only filtered") {
    // 2 foreground docs (src A) + 8 background docs (src B). "boiler" is in
    // both fg docs and nowhere else → max JLH. "every" is in ALL docs →
    // fg% = bg% = 1 → score exactly 0. "bgonly" never hits fg → filtered.
    val docs = ((0L to 1L).map(i => (i, "A")) ++ (2L to 9L).map(i => (i, "B")))
      .toDF("doc_id", "source")
    val postings = (
      Seq((0L, "boiler", 1L), (1L, "boiler", 2L)) ++
      (0L to 9L).map(i => (i, "every", 1L)) ++
      Seq((4L, "bgonly", 3L), (5L, "bgonly", 1L)))
      .toDF("doc_id", "token", "tf")
    val out = graft.ops.SearchOps.significantTermsOn(postings, docs, "A", k = 10)
      .collect()
    val byTok = out.map(r => r.getAs[String]("token") -> r).toMap
    assert(out.head.getAs[String]("token") === "boiler")
    // boiler: fg% = 1, bg% = 2/10 → (1 − .2)·(1/.2) = 4.0 exactly,
    // reported in the 2^20 fixed-point form → 4 · 1048576
    assert(out.head.getAs[Long]("score_fp") === 4L * 1048576L)
    assert(byTok("every").getAs[Long]("score_fp") === 0L)
    assert(!byTok.contains("bgonly"))
    assert(byTok("boiler").getAs[Long]("fg_df") === 2L)
    assert(byTok("boiler").getAs[Long]("bg_df") === 2L)
  }

  test("phraseSearch: adjacency required, stopwords bridge, overlaps counted, co-occurrence rejected") {
    val docs = Seq(
      (1L, "en", "data stream processing"),          // exact adjacency
      (2L, "en", "data in the stream"),              // stopwords analyzed away ⇒ adjacent
      (3L, "en", "stream of data"),                  // wrong order — no match
      (4L, "en", "data lake and stream engine"),     // 'lake' intervenes — no match
      (5L, "en", "data stream data stream data"),    // two occurrences
      (6L, "en", "data")                             // shorter than the phrase
    ).toDF("doc_id", "lang", "text")
    val got = graft.ops.SearchOps.phraseSearchOn(docs, "data stream", k = 10)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("phrase_freq")).toMap
    assert(got === Map(5L -> 2L, 1L -> 1L, 2L -> 1L))
  }

  test("boolQuery: must required, filter non-scoring, must_not excludes, should only boosts") {
    val sf001 = "/root/testdata/sf0.001"
    val out = graft.ops.SearchOps.boolQuery(spark, sf001, k = 1000).collect()
    assert(out.nonEmpty)
    // filter context: every hit is lang=en, yet lang never contributes score
    assert(out.forall(_.getAs[String]("lang") == "en"))
    // must + must_not verified against a direct corpus read
    val toks = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), graft.ops.SearchOps.analyze(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    out.foreach { r =>
      val t = toks(r.getLong(0))
      assert(t.contains("data"), "must clause violated")
      assert(!t.contains("error"), "must_not clause violated")
      val expected = 1L + (if (t.contains("stream")) 1L else 0L) +
        (if (t.contains("window")) 1L else 0L)
      assert(r.getAs[Long]("score") === expected, "score = must hits + should hits")
    }
  }

  test("phraseSearchIndexed ≡ phraseSearch: positional-join face returns the scan face's frequencies") {
    val sf001 = "/root/testdata/sf0.001"
    val scan = graft.ops.SearchOps.phraseSearch(spark, sf001, k = 1000).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("phrase_freq")).toMap
    val idx = graft.ops.SearchOps.phraseSearchIndexed(spark, sf001, k = 1000).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("phrase_freq")).toMap
    assert(idx === scan)
  }

  test("functionScoreGauss: fixed-point curve is the ES gauss contract — 1.0 inside offset, 0.5 at scale, monotone") {
    // drive the integer device directly at controlled distances
    val tbl = graft.ops.SearchOps.GaussDecayTable
    assert(tbl.length === 256 && tbl.head === 1048576L)
    assert(tbl.zip(tbl.tail).forall { case (a, b) => a >= b }, "table must be non-increasing")
    def decayFp(daysOld: Int, offset: Int = 60, scale: Int = 365): Long = {
      val s2 = scale.toLong * scale
      val x = math.max(0, math.abs(daysOld) - offset).toLong
      val u = x * x
      if (u / s2 >= 20) 0L
      else tbl((((u % s2) * 256) / s2).toInt) >> (u / s2).toInt
    }
    assert(decayFp(0) === 1048576L, "inside offset: decay 1.0")
    assert(decayFp(60) === 1048576L, "at offset edge: decay 1.0")
    assert(decayFp(-30) === 1048576L, "two-sided: future dates inside offset too")
    // ES contract: score = decay (0.5) at distance offset + scale
    val atScale = decayFp(60 + 365)
    assert(atScale === 524288L, s"0.5 at scale, got $atScale")
    // quarter at sqrt(2)·scale (two halvings), monotone throughout
    assert(decayFp(60 + math.ceil(365 * math.sqrt(2)).toInt) <= 262144L)
    val samples = (0 to 2400 by 30).map(decayFp(_))
    assert(samples.zip(samples.tail).forall { case (a, b) => a >= b },
      "decay must be monotone in distance")
    // the compiled query agrees with the driver-side replica above
    val sf001 = "/root/testdata/sf0.001"
    val out = graft.ops.SearchOps.functionScoreGauss(spark, sf001, k = 2000).collect()
    assert(out.nonEmpty)
    val dates = graft.Tables.orders(spark, sf001)
      .select(col("o_orderkey"), datediff(to_date(lit("2001-08-01")),
        to_date(col("o_orderdate"))).as("d"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("decay_fp") === decayFp(dates(r.getLong(0))))
      assert(r.getAs[Long]("score_fp") ===
        r.getAs[Long]("decay_fp") * r.getAs[Long]("n_items"))
    }
    // the EXP sibling: same table, u = x — 0.5 at scale, quarter at 2·scale
    def expFp(daysOld: Int, offset: Int = 60, scale: Int = 365): Long = {
      val x = math.max(0, math.abs(daysOld) - offset).toLong
      if (x / scale >= 20) 0L
      else tbl((((x % scale) * 256) / scale).toInt) >> (x / scale).toInt
    }
    assert(expFp(60) === 1048576L && expFp(60 + 365) === 524288L &&
      expFp(60 + 730) === 262144L)
    val expOut = graft.ops.SearchOps.functionScoreExp(spark, sf001, k = 2000).collect()
    assert(expOut.nonEmpty)
    expOut.foreach { r =>
      assert(r.getAs[Long]("decay_fp") === expFp(dates(r.getLong(0))))
    }
  }

  test("multiFieldFuzzyIndexed ≡ multiFieldFuzzy: store-served face returns the scan face's scores") {
    val sf001 = "/root/testdata/sf0.001"
    // k past the hit count so both faces return their FULL result sets —
    // equality is then set equality on (doc_id, lang, score), no tie luck
    val scan = graft.ops.SearchOps.multiFieldFuzzy(spark, sf001, k = 1000).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val idx = graft.ops.SearchOps.multiFieldFuzzyIndexed(spark, sf001, k = 1000).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(scan.nonEmpty)
    assert(idx === scan)
    // a query term hitting ONLY the lang keyword field scores exactly 1.0
    // via the exact branch (fuzzy expansion must not reach the lang field)
    val langOnly = graft.ops.SearchOps
      .multiFieldFuzzyIndexed(spark, sf001, q = "en", k = 1000).collect()
    val scanLang = graft.ops.SearchOps
      .multiFieldFuzzy(spark, sf001, q = "en", k = 1000).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(langOnly.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet === scanLang)
  }

  test("multiFieldFuzzyIndexed ≡ multiFieldFuzzy when a fuzzy expansion reaches a lang code") {
    // "fr" is a body/title word of doc 0 AND the lang of doc 1: the typo
    // "frr" expands to it, so the token-only IN-list pulls doc 1's lang
    // posting, which must score nothing (lang takes the exact term only)
    val dir = java.nio.file.Files.createTempDirectory("mf-lang-reach").toAbsolutePath.toString
    Seq((0L, "en", "fr stream data"), (1L, "fr", "window agg"), (2L, "de", "stream window"))
      .toDF("doc_id", "lang", "text")
      .write.parquet(s"$dir/documents.parquet")
    Seq((1L, "Customer#000000001"), (4L, "Customer#000000004"))
      .toDF("c_custkey", "c_name")
      .write.parquet(s"$dir/customer.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    for (q <- Seq("frr", "fr frr", "frr windoe")) {
      val scan = rows(SearchOps.multiFieldFuzzy(spark, dir, q, 100))
      assert(scan.nonEmpty, s"'$q': vacuous query")
      assert(rows(SearchOps.multiFieldFuzzyIndexed(spark, dir, q, 100)) === scan, s"'$q'")
    }
    assert(rows(SearchOps.multiFieldFuzzyIndexed(spark, dir, "frr", 100)) ===
      Set((0L, "en", 2.0)))
  }

  test("dictOf: df, ttf, char length and bigram multiset per token; mftermdict holds no lang token") {
    import org.apache.spark.sql.Row
    val postings = Seq(("данн", 1L, 2), ("данн", 2L, 1), ("stream", 1L, 3),
      ("aaaa", 2L, 1), ("x", 3L, 4), ("поток", 3L, 1)).toDF("token", "doc_id", "tf")
    val dict = SearchOps.dictOf(postings).collect().map(r => r.getAs[String]("token") -> r).toMap
    val expected = postings.groupBy("token")
      .agg(count(lit(1)).as("df"), sum("tf").as("ttf")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(dict.keySet === expected.keySet)
    def grams(t: String): Map[String, Long] =
      dict(t).getAs[Seq[Row]]("grams").map(g => g.getAs[String]("gram") -> g.getAs[Long]("cnt")).toMap
    for ((t, r) <- dict) {
      assert((r.getAs[Long]("df"), r.getAs[Long]("ttf")) === expected(t), t)
      assert(r.getAs[Int]("tok_len") === t.length, t) // chars, not UTF-8 bytes
      assert(grams(t) === t.sliding(2).filter(_.length == 2).toSeq.groupBy(identity)
        .map { case (g, gs) => g -> gs.size.toLong }, t)
    }
    assert(dict("поток").getAs[Int]("tok_len") === 5)
    assert(grams("данн") === Map("да" -> 1L, "ан" -> 1L, "нн" -> 1L))
    assert(dict("aaaa").getAs[Seq[Row]]("grams").map(g => (g.getString(0), g.getLong(1))) ===
      Seq(("aa", 3L)))
    assert(grams("x").isEmpty)
    assert(SearchOps.dictOf(postings.filter(lit(false))).collect().isEmpty)

    // the multi-field dictionary: every non-lang token, no lang code
    val dir = java.nio.file.Files.createTempDirectory("mf-dict").toAbsolutePath.toString
    Seq((0L, "zq", "alpha stream"), (1L, "vk", "window beta"))
      .toDF("doc_id", "lang", "text")
      .write.parquet(s"$dir/documents.parquet")
    Seq((1L, "Zelda")).toDF("c_custkey", "c_name").write.parquet(s"$dir/customer.parquet")
    val mf = SearchOps.servedMultiFieldPostings(spark, dir)
    def tokens(df: org.apache.spark.sql.DataFrame) = df.select("token").as[String].collect().toSet
    assert(tokens(mf.filter(col("field") === "lang")) === Set("zq", "vk"))
    val mfDict = SearchOps.multiFieldTermDict(spark, dir)
    assert(tokens(mfDict) === tokens(mf.filter(col("field") =!= "lang")))
    assert(tokens(mfDict).contains("zelda") && !tokens(mfDict).exists(Set("zq", "vk")))
  }

  test("termTable holds at most TermTableCap terms past overflow and answers every term") {
    val dir = java.nio.file.Files.createTempDirectory("term-table-cap").toAbsolutePath.toString
    Seq((0L, "alpha")).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val cap = SearchOps.TermTableCap
    val table = SearchOps.termTable(spark, dir, "termtablecap",
      Seq("documents.parquet"))(spark.emptyDataFrame)
    var resolved = 0
    // job-free: a term ending in 0 has one candidate, every other none
    def resolve(dict: org.apache.spark.sql.DataFrame, ts: Seq[String]): Map[String, Seq[String]] = {
      resolved += ts.size
      ts.filter(_.endsWith("0")).map(t => t -> Seq(t.toUpperCase)).toMap
    }
    def want(ts: Seq[String]) = ts.map(t => t -> (if (t.endsWith("0")) Seq(t.toUpperCase) else Nil)).toMap
    val terms = (0 until 2 * cap + 7).map(i => s"t$i")
    for (batch <- terms.grouped(100)) {
      assert(table(batch)(resolve) === want(batch))
      assert(table.size <= cap, s"${table.size} terms held, cap $cap")
    }
    assert(resolved === terms.size, "each term resolves once")
    val last = terms.takeRight(7)
    assert(table(last)(resolve) === want(last))
    assert(resolved === terms.size, "a held term resolves on the driver")
    // one batch wider than the cap is answered, and not held
    val wide = (0 to cap).map(i => s"w$i")
    assert(table(wide)(resolve) === want(wide))
    assert(table.size <= cap, s"${table.size} terms held, cap $cap")
  }

  test("searchAfter: page 2 continues exactly where the ranked page 1 ends — disjoint, ordered, tiled") {
    val sf = "/root/testdata/sf0.001"
    val all = graft.ops.SearchOps.rankedSearch(spark, sf, k = 15).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val page2 = graft.ops.SearchOps.searchAfter(spark, sf, afterRank = 5, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(page2.toSeq === all.drop(5).toSeq,
      "search_after(5) must equal ranked rows 6..15")
    // more inputs, on sf0.001 and a fixture with tied scores: a page is the
    // k hits after rank `after`, the first page at 0, none past the last hit
    val tied = "/tmp/graft_search_after_ties"
    Seq((5L, "alpha beta"), (3L, "alpha beta"), (9L, "alpha beta"),
        (1L, "alpha"), (7L, "gamma"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(tied + "/documents.parquet")
    def page(dir: String, q: String, after: Int, k: Int) = graft.ops.SearchOps
      .searchAfter(spark, dir, q, after, k).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def ranked(dir: String, q: String) = graft.ops.SearchOps
      .rankedSearch(spark, dir, q, 100000).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    for ((dir, q) <- Seq(sf -> "data stream window", tied -> "alpha beta")) {
      val hits = ranked(dir, q)
      assert(hits.nonEmpty, s"$dir: vacuous query")
      for ((after, k) <- Seq((0, 10), (1, 2), (hits.size - 1, 10), (hits.size, 10), (hits.size + 3, 1)))
        assert(page(dir, q, after, k) === hits.slice(after, after + k),
          s"$dir: search_after($after, k=$k) must be ranked rows ${after + 1}..${after + k}")
    }
    // score ties order by doc_id: 3, 5, 9 share one score, above doc 1
    assert(ranked(tied, "alpha beta").map(_._1) === Seq(3L, 5L, 9L, 1L))
    assert(page(tied, "alpha beta", 1, 2).map(_._1) === Seq(5L, 9L))
  }

  test("vocabCoverage: coverage_fp bounded by 2^20; all-head corpus hits exactly 2^20") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.ops.TextOps.vocabCoverage(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val fp = r.getAs[Long]("coverage_fp")
      assert(fp >= 0L && fp <= 1048576L)
      assert(r.getAs[Long]("covered_toks") <= r.getAs[Long]("total_toks"))
    }
  }

  test("functionScore: decay bounded in [0, 2^20], score = decay x items, listing sorted") {
    val out = graft.ops.SearchOps.functionScore(spark, sf).collect()
    assert(out.length === 50)
    out.foreach { r =>
      val (n, d, s) = (r.getAs[Long]("n_items"), r.getAs[Long]("decay_fp"),
        r.getAs[Long]("score_fp"))
      assert(d >= 0L && d <= 1048576L)
      assert(s === d * n)
    }
    val scores = out.map(r => (r.getAs[Long]("score_fp"), r.getAs[Long]("o_orderkey")))
    assert(scores.sliding(2).forall { case Array((s1, k1), (s2, k2)) =>
      s1 > s2 || (s1 == s2 && k1 < k2) })
  }

  test("functionScore: hand-replayed linear decay at the three regimes") {
    // inside offset -> full 2^20; past offset+scale -> 0; midway -> exact integer
    def decay(daysOld: Int): Long =
      (1048576L * math.max(0, 730 - math.max(0, daysOld - 60))) / 730
    assert(decay(10) === 1048576L)
    assert(decay(60) === 1048576L)
    assert(decay(60 + 730) === 0L)
    assert(decay(425) === (1048576L * 365) / 730)
  }

  test("phrasePrefixSearch: a fully-typed last term dominates the exact phrase; expansions only add") {
    // with the full last word as the "prefix", the expansion set contains
    // the exact term (plus any longer dictionary terms sharing it), so
    // every doc's prefix-phrase frequency must be ≥ its exact-phrase
    // frequency — expansions can only add aligned windows, never remove
    val exact = graft.ops.SearchOps.phraseSearchIndexed(spark, sf, "data stream", k = 1000)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("phrase_freq")).toMap
    val pre = graft.ops.SearchOps.phrasePrefixSearch(spark, sf, "data stream", k = 1000)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("phrase_freq")).toMap
    assert(exact.nonEmpty)
    exact.foreach { case (id, f) =>
      assert(pre.getOrElse(id, 0L) >= f,
        s"doc $id: prefix-phrase freq ${pre.get(id)} < exact $f")
    }
  }

  test("highlight: every snippet carries the tagged term; counts are token-accurate") {
    val out = graft.ops.SearchOps.highlight(spark, sf).collect()
    assert(out.length > 0 && out.length <= 20)
    out.foreach { r =>
      assert(r.getAs[Long]("n_occ") >= 1L)
      assert(r.getAs[Long]("first_pos") >= 1L)
      assert(r.getAs[String]("snippet").contains("<em>data</em>"))
    }
    // ranked by tf desc then id
    val keys = out.map(r => (r.getAs[Long]("n_occ"), r.getAs[Long]("doc_id")))
    assert(keys.sliding(2).forall { case Array((n1, d1), (n2, d2)) =>
      n1 > n2 || (n1 == n2 && d1 < d2) })
  }

  test("regexQuery: anchored term-level alternation — count matches the manual token scan") {
    val out = graft.ops.SearchOps.regexQuery(spark, sf).collect()
    assert(out.nonEmpty)
    val byId = out.map(r => r.getLong(0) -> r.getAs[Long]("n_matches")).toMap
    // replay one hit by hand: tokens fully matching data|day
    val someId = out.head.getLong(0)
    val text = Tables.documents(spark, sf).filter(col("doc_id") === someId)
      .select("text").head.getString(0)
    val manual = text.trim.toLowerCase.split("\\s+").count(t => t == "data" || t == "day")
    assert(byId(someId) === manual.toLong)
    out.foreach(r => assert(r.getAs[Long]("n_matches") >= 1L))
  }

  test("rescore: window discipline, exact boost arithmetic, pushed point-lookup fetch") {
    import graft.ops.SearchOps
    val window = SearchOps.bm25Search(spark, sf, "data stream window", 50).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val out = SearchOps.rescore(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 20)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      // second pass never resurrects a doc the first pass didn't admit
      assert(window.contains(id), s"doc $id not in the bm25 top-50 window")
      assert(r.getAs[Double]("score") === window(id))
      // ES linear combine: rescored = score + w * phrase_freq, exactly
      assert(r.getAs[Double]("rescored") ===
        BigDecimal(window(id) + 2.0 * r.getAs[Long]("phrase_freq"))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val sc = out.map(_.getAs[Double]("rescored"))
    assert(sc.zip(sc.tail).forall { case (a, b) => a >= b })
    // at least one phrase hit actually re-ranks (the fixture phrase occurs)
    assert(out.exists(_.getAs[Long]("phrase_freq") > 0))
    // the fetch stage is a pushed IN point-lookup, not a corpus scan
    val ids = window.keys.toSeq
    val plan = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id").isInCollection(ids))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(doc_id"),
      s"expected the window ids pushed into the parquet scan:\n$plan")
  }

  test("collapseSearch: one representative per lang; best score wins; inner-hit counts reconcile") {
    import graft.ops.SearchOps
    val out = SearchOps.collapseSearch(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[String]("lang")).distinct.length === out.length)
    // representatives and counts reconcile against the uncollapsed hits
    val all = SearchOps.bm25Search(spark, sf, "data stream window", Int.MaxValue)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val langs = Tables.documents(spark, sf).select("doc_id", "lang").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang")).toMap
    val byLang = all.toSeq.groupBy { case (id, _) => langs(id) }
    out.foreach { r =>
      val hits = byLang(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_hits") === hits.length.toLong)
      val best = hits.minBy { case (id, sc) => (-sc, id) }
      assert(r.getAs[Long]("doc_id") === best._1)
      assert(r.getAs[Double]("score") === best._2)
    }
    // the per-group head is pruned BEFORE the exchange (rank pushdown)
    val plan = SearchOps.collapseSearch(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected rank-limit pushdown for the collapse head in:\n$plan")
  }

  test("topHits: per-bucket top-k hits in canonical order; doc_count reconciles; head-k pruned pre-exchange") {
    import graft.ops.SearchOps
    val out = SearchOps.topHits(spark, sf).collect()
    assert(out.nonEmpty)
    // rebuild the expectation from the uncollapsed hit list
    val all = SearchOps.bm25Search(spark, sf, "data stream window", Int.MaxValue)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val langs = Tables.documents(spark, sf).select("doc_id", "lang").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang")).toMap
    val byLang = all.toSeq.groupBy { case (id, _) => langs(id) }
    val grouped = out.groupBy(_.getAs[String]("lang"))
    assert(grouped.keySet === byLang.keySet, "every matched bucket appears")
    grouped.foreach { case (lang, rows) =>
      val hits = byLang(lang).sortBy { case (id, sc) => (-sc, id) }
      // doc_count = ALL bucket hits, rows = min(3, bucket size) in rank order
      assert(rows.forall(_.getAs[Long]("doc_count") === hits.length.toLong))
      val expect = hits.take(3).map(_._1)
      assert(rows.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("doc_id")).toSeq
        === expect, s"bucket $lang top-3 order")
    }
    // rnk <= k is pruned to each group's head BEFORE the exchange
    val plan = SearchOps.topHits(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected rank-limit pushdown for the top_hits head in:\n$plan")
  }

  test("boostingQuery: negative matches demote, never exclude; all-integer fixed-point scores") {
    import graft.ops.SearchOps
    import org.apache.spark.sql.functions.{array_contains, col}
    val out = SearchOps.boostingQuery(spark, sf, k = Int.MaxValue).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score_fp")).toMap
    assert(out.nonEmpty)
    // independent recomputation of (hits, neg) per doc straight off the analyzer
    val pos = SearchOps.analyzeQuery("data stream")
    val neg = SearchOps.analyzeQuery("slow")
    val toks = SearchOps.analyze(col("text"))
    val flat = Tables.documents(spark, sf).select(
      col("doc_id"),
      pos.map(t => array_contains(toks, t).cast("int")).reduce(_ + _).as("hits"),
      neg.map(t => array_contains(toks, t)).reduce(_ || _).as("neg")).collect()
    val demoted = flat.filter(r => r.getAs[Int]("hits") > 0 && r.getAs[Boolean]("neg"))
    val clean = flat.filter(r => r.getAs[Int]("hits") > 0 && !r.getAs[Boolean]("neg"))
    assert(demoted.nonEmpty && clean.nonEmpty, "fixture must exercise both verdicts")
    // demotion, not exclusion: every demoted doc is STILL in the results,
    // at exactly half the fixed-point weight; clean docs at full weight
    demoted.foreach { r =>
      assert(out(r.getAs[Long]("doc_id")) === r.getAs[Int]("hits") * 524288L)
    }
    clean.foreach { r =>
      assert(out(r.getAs[Long]("doc_id")) === r.getAs[Int]("hits") * 1048576L)
    }
    assert(out.size === demoted.length + clean.length)
  }

  test("boostingQueryIndexed: store-served face equals the scan face; no re-analysis; term IN-list pushed") {
    import graft.ops.SearchOps
    val scan = SearchOps.boostingQuery(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[Long]("score_fp")))
    val idx = SearchOps.boostingQueryIndexed(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[Long]("score_fp")))
    assert(idx.toSeq === scan.toSeq)
    val plan = SearchOps.boostingQueryIndexed(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("ru_en_analyze"),
      s"store-served boosting must not re-analyze the corpus:\n$plan")
    assert(plan.contains("PushedFilters: [In(token"),
      s"expected the term IN-list pushed into the store scan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"expected partial top-k in:\n$plan")
  }
}
