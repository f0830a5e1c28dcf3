package graft

import graft.ops.SearchOps
import graft.sinks.AtomicSwap
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}

/** Driver-held relations behind the served search faces: a documents
  * rewrite is served at once and leaves one held version per (kind, dir),
  * and with holding off (broadcast threshold -1) every face answers with
  * the same rows from its parquet plan.
  */
class HeldRelationSpec extends SparkSpecBase {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def withThreshold[A](v: String)(body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, v)
    try body finally spark.conf.set(key, prev)
  }

  private def docs(rs: (Long, String, String)*): DataFrame =
    rs.map { case (id, lang, text) => (id, lang, text.length, text) }
      .toDF("doc_id", "lang", "n_chars", "text")

  test("a documents rewrite is served by term, terms agg and match at once; one held version per kind and dir") {
    val dir = Files.createTempDirectory("held-version").toAbsolutePath.toString
    val path = s"$dir/documents.parquet"
    AtomicSwap.replace(spark, docs((1L, "en", "alpha beta"), (2L, "fr", "beta gamma")), path)
    assert(rows(SearchOps.termLookup(spark, dir, 1L)) === Seq(Row(1L, "en", 10)))
    assert(rows(SearchOps.termsAgg(spark, dir, 10)) ===
      Seq(Row("beta", 2L), Row("alpha", 1L), Row("gamma", 1L)))
    assert(rows(SearchOps.matchQueryIndexed(spark, dir, "delta gamma", 10)) === Seq(Row(2L, "fr", 1)))
    val before = Seq("keywords", "tokentotals").map(DerivedStore.heldVersions(_, dir))
    assert(before.forall(_.size == 1), s"expected one held version each: $before")

    AtomicSwap.replace(spark, docs((1L, "de", "alpha beta"), (2L, "fr", "beta gamma"),
      (3L, "es", "delta delta gamma")), path)
    assert(rows(SearchOps.termLookup(spark, dir, 1L)) === Seq(Row(1L, "de", 10)))
    assert(rows(SearchOps.termLookup(spark, dir, 3L)) === Seq(Row(3L, "es", 17)))
    assert(rows(SearchOps.termsAgg(spark, dir, 10)) ===
      Seq(Row("beta", 2L), Row("delta", 2L), Row("gamma", 2L), Row("alpha", 1L)))
    assert(rows(SearchOps.matchQueryIndexed(spark, dir, "delta gamma", 10)) ===
      Seq(Row(3L, "es", 2), Row(2L, "fr", 1)))
    val after = Seq("keywords", "tokentotals").map(DerivedStore.heldVersions(_, dir))
    assert(after.forall(_.size == 1), s"expected one held version each: $after")
    assert(after.zip(before).forall { case (a, b) => a != b }, "the rewrite must resolve a new version")
  }

  test("with the broadcast threshold at -1 every face serves the held path's rows from parquet") {
    val faces: Seq[(String, () => DataFrame)] = Seq(
      "term" -> (() => SearchOps.termLookup(spark, sf, 42L)),
      "termsagg" -> (() => SearchOps.termsAgg(spark, sf, 100)),
      "match" -> (() => SearchOps.matchQueryIndexed(spark, sf, "data stream window", 20)),
      "ranked" -> (() => SearchOps.rankedSearch(spark, sf, "data stream window", 20)),
      "searchafter" -> (() => SearchOps.searchAfter(spark, sf, "data stream window", 5, 10)),
      "fuzzy" -> (() => SearchOps.fuzzySearchIndexed(spark, sf, "streem qery", 20)),
      "multifield" -> (() => SearchOps.multiFieldFuzzyIndexed(spark, sf,
        "custommer streem windoe", 20)))
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
      // the ranking faces differ only in where N comes from (a count job)
      if (!Set("ranked", "searchafter")(face))
        assert(parquetPlan != plan(held), s"$face: threshold -1 must leave the held path")
    }
  }
}
