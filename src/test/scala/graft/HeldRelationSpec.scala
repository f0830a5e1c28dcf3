package graft

import graft.ops.{SearchOps, SimilarityOps, TextOps}
import graft.sinks.AtomicSwap
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}

/** Driver-held relations and memoized values behind the served faces: a
  * documents or embeddings rewrite is served at once and leaves one
  * memoized version per (kind, dir), and with holding off (broadcast
  * threshold -1) every search face answers with the same rows from its
  * parquet plan.
  */
class HeldRelationSpec extends SparkSpecBase {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def docs(rs: (Long, String, String)*): DataFrame =
    rs.map { case (id, lang, text) => (id, lang, "web", text.length, text) }
      .toDF("doc_id", "lang", "source", "n_chars", "text")

  /** Six 64-dim vectors with components `offset + (i * a + j * b) % 50`,
    * scaled by `scale`.
    */
  private def vectors(offset: Double, scale: Double, a: Int, b: Int): DataFrame =
    (0 until 6).map(i => (i.toLong,
      Seq.tabulate(64)(j => ((offset + (i * a + j * b) % 50) * scale).toFloat), i % 3))
      .toDF("vec_id", "embedding", "label")

  /** (lang, n_docs, n_chars_sum) per corpus-mix cell. */
  private def mix(dir: String): Set[(String, Long, Long)] =
    TextOps.corpusMix(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(4))).toSet

  test("a documents rewrite is served by term, terms agg and match at once; one held version per kind and dir") {
    val dir = Files.createTempDirectory("held-version").toAbsolutePath.toString
    val path = s"$dir/documents.parquet"
    val embPath = s"$dir/embeddings.parquet"
    AtomicSwap.replace(spark, docs((1L, "en", "alpha beta"), (2L, "fr", "beta gamma")), path)
    AtomicSwap.replace(spark, vectors(0, 0.02, 7, 13), embPath)
    AtomicSwap.replace(spark, Seq((1L, "Ann")).toDF("c_custkey", "c_name"), s"$dir/customer.parquet")
    assert(rows(SearchOps.termLookup(spark, dir, 1L)) === Seq(Row(1L, "en", 10)))
    assert(rows(SearchOps.termsAgg(spark, dir, 10)) ===
      Seq(Row("beta", 2L), Row("alpha", 1L), Row("gamma", 1L)))
    assert(rows(SearchOps.matchQueryIndexed(spark, dir, "delta gamma", 10)) === Seq(Row(2L, "fr", 1)))
    assert(mix(dir) === Set(("en", 1L, 10L), ("fr", 1L, 10L)))
    assert(rows(TextOps.topNgrams(spark, dir, 5)) === Nil) // no document has three words
    // "deltaa" is one edit from "delta", a token only the rewrite adds
    assert(rows(SearchOps.fuzzySearchIndexed(spark, dir, "deltaa", 10)) === Nil)
    assert(rows(SearchOps.multiFieldFuzzyIndexed(spark, dir, "deltaa", 10)) === Nil)
    // query vector 3 ranks first only under a model fitted to its version
    // (this one's, or the rewrite's components, which are all above it)
    assert(rows(SimilarityOps.annSq8(spark, dir, 3L, shortlist = 1, k = 1)) ===
      Seq(Row(3L, 0, 1.0)))
    val kinds = Seq("keywords", "termdict", "mftermdict", "corpusmix", "topngrams-5",
      "sq8model")
    val before = kinds.map(DerivedStore.memoVersions(_, dir))
    assert(before.forall(_.size == 1), s"expected one memoized version each: $before")

    AtomicSwap.replace(spark, docs((1L, "de", "alpha beta"), (2L, "fr", "beta gamma"),
      (3L, "es", "delta delta gamma")), path)
    AtomicSwap.replace(spark, vectors(2, 1.0, 5, 11), embPath)
    assert(rows(SearchOps.termLookup(spark, dir, 1L)) === Seq(Row(1L, "de", 10)))
    assert(rows(SearchOps.termLookup(spark, dir, 3L)) === Seq(Row(3L, "es", 17)))
    assert(rows(SearchOps.termsAgg(spark, dir, 10)) ===
      Seq(Row("beta", 2L), Row("delta", 2L), Row("gamma", 2L), Row("alpha", 1L)))
    assert(rows(SearchOps.matchQueryIndexed(spark, dir, "delta gamma", 10)) ===
      Seq(Row(3L, "es", 2), Row(2L, "fr", 1)))
    assert(mix(dir) === Set(("de", 1L, 10L), ("fr", 1L, 10L), ("es", 1L, 17L)))
    assert(rows(TextOps.topNgrams(spark, dir, 5)) === Seq(Row("delta delta gamma", 1L, 1L)))
    assert(rows(SearchOps.fuzzySearchIndexed(spark, dir, "deltaa", 10)) === Seq(Row(3L, "es", 1)))
    // "delta" is in doc 3's title (boost 2) and body (boost 1)
    assert(rows(SearchOps.multiFieldFuzzyIndexed(spark, dir, "deltaa", 10)) ===
      Seq(Row(3L, "es", 2.0)))
    assert(rows(SimilarityOps.annSq8(spark, dir, 3L, shortlist = 1, k = 1)) ===
      Seq(Row(3L, 0, 1.0)))
    val after = kinds.map(DerivedStore.memoVersions(_, dir))
    assert(after.forall(_.size == 1), s"expected one memoized version each: $after")
    assert(after.zip(before).forall { case (a, b) => a != b }, "the rewrite must resolve a new version")
    // over the held dictionaries the fuzzy expansions need no term table
    assert(DerivedStore.memoVersions("fuzzyterms", dir).isEmpty)
    assert(DerivedStore.memoVersions("mfterms", dir).isEmpty)
  }

  test("a documents rewrite is served by the term dictionary's readers at once") {
    val dir = Files.createTempDirectory("held-dict").toAbsolutePath.toString
    val path = s"$dir/documents.parquet"
    AtomicSwap.replace(spark, docs((1L, "en", "alpha beta"), (2L, "fr", "beta gamma")), path)
    assert(rows(SearchOps.completeSuggest(spark, dir, "de", 10)) === Nil)
    // "deltb" is one edit from "delta", a token only the rewrite adds
    assert(rows(SearchOps.termSuggest(spark, dir, "deltb")) === Nil)
    assert(rows(SearchOps.rareTermsAgg(spark, dir, 1L, 10)) ===
      Seq(Row("alpha", 1L), Row("gamma", 1L)))
    // N = 2, df(gamma) = 1: idf ln 2
    assert(rows(SearchOps.rankedSearch(spark, dir, "gamma", 10)) === Seq(Row(2L, 0.693147)))
    val before = DerivedStore.memoVersions("termdict", dir)

    AtomicSwap.replace(spark, docs((1L, "de", "alpha beta"), (2L, "fr", "beta gamma"),
      (3L, "es", "delta delta gamma")), path)
    assert(rows(SearchOps.completeSuggest(spark, dir, "de", 10)) === Seq(Row("delta", 1L)))
    assert(rows(SearchOps.termSuggest(spark, dir, "deltb")) ===
      Seq(Row("deltb", "delta", 1, 1L)))
    assert(rows(SearchOps.rareTermsAgg(spark, dir, 1L, 10)) ===
      Seq(Row("alpha", 1L), Row("delta", 1L)))
    // N = 3, df(gamma) = 2: idf ln 1.5 (a stale df of 1 would score ln 3)
    assert(rows(SearchOps.rankedSearch(spark, dir, "gamma", 10)) ===
      Seq(Row(2L, 0.405465), Row(3L, 0.405465)))
    val after = DerivedStore.memoVersions("termdict", dir)
    assert(before.size == 1 && after.size == 1 && before != after,
      s"expected one held dictionary per version: $before then $after")
  }

  test("a customer rewrite alone is served by the multi-field face at once") {
    val dir = Files.createTempDirectory("held-customer").toAbsolutePath.toString
    def customers(names: String*): DataFrame =
      names.zipWithIndex.map { case (n, i) => (i + 1L, n) }.toDF("c_custkey", "c_name")
    AtomicSwap.replace(spark, docs((0L, "en", "alpha beta"), (1L, "fr", "beta gamma")),
      s"$dir/documents.parquet")
    AtomicSwap.replace(spark, customers("Ann", "Bob"), s"$dir/customer.parquet")
    // "zeldaa" is one edit from "zelda", a name of doc 0 only the rewrite adds
    assert(rows(SearchOps.multiFieldFuzzyIndexed(spark, dir, "zeldaa", 10)) === Nil)
    AtomicSwap.replace(spark, customers("Ann", "Bob", "Zelda"), s"$dir/customer.parquet")
    assert(rows(SearchOps.multiFieldFuzzyIndexed(spark, dir, "zeldaa", 10)) ===
      Seq(Row(0L, "en", 1.5)))
  }

  test("with the broadcast threshold at -1 every face serves the held path's rows from parquet") {
    val faces: Seq[(String, () => DataFrame)] = Seq(
      "term" -> (() => SearchOps.termLookup(spark, sf, 42L)),
      "termsagg" -> (() => SearchOps.termsAgg(spark, sf, 100)),
      "complete" -> (() => SearchOps.completeSuggest(spark, sf, "s", 10)),
      "rareterms" -> (() => SearchOps.rareTermsAgg(spark, sf, 300L, 100)),
      // six dictionary tokens start with "s": the cut keeps the first three
      "phraseprefix" -> (() => SearchOps.phrasePrefixSearch(spark, sf, "data s", 20, 3)),
      "match" -> (() => SearchOps.matchQueryIndexed(spark, sf, "data stream window", 20)),
      "ranked" -> (() => SearchOps.rankedSearch(spark, sf, "data stream window", 20)),
      "searchafter" -> (() => SearchOps.searchAfter(spark, sf, "data stream window", 5, 10)),
      "fuzzy" -> (() => SearchOps.fuzzySearchIndexed(spark, sf, "streem qery", 20)),
      "multifield" -> (() => SearchOps.multiFieldFuzzyIndexed(spark, sf,
        "custommer streem windoe", 20)),
      // terms no other query uses, so the parquet plan resolves them cold
      // through the term table, and the held path by its projection
      "fuzzycold" -> (() => SearchOps.fuzzySearchIndexed(spark, sf, "wimdow straem daat", 20)),
      "multifieldcold" -> (() => SearchOps.multiFieldFuzzyIndexed(spark, sf,
        "custonmer wimdoe strean", 20)))
    def plan(df: DataFrame) = df.queryExecution.executedPlan.toString
    for ((face, query) <- faces) {
      val held = query()
      val heldRows = rows(held)
      assert(heldRows.nonEmpty, s"$face: vacuous query")
      val (parquetRows, parquetPlan) = withThreshold("-1") {
        val d = query()
        (rows(d), plan(d))
      }
      assert(parquetRows === heldRows, s"$face: parquet plan and held path disagree")
      // the ranking faces hold N and df, and phrase-prefix its expansions,
      // as plan literals either way
      if (!Set("ranked", "searchafter", "phraseprefix")(face))
        assert(parquetPlan != plan(held), s"$face: threshold -1 must leave the held path")
    }
  }
}
