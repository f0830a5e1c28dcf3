package graft

import graft.ops.SearchOps
import org.apache.spark.sql.DataFrame

/** The Spark jobs a warm, repeated query of each served search face starts,
  * construction and collect together (sf0.01; AQE on, as served). On a
  * local host every job costs tens of milliseconds whatever its size, so
  * these counts are the faces' latency floor: a face that gains a job here
  * has gained a dispatch round trip per query.
  */
class ServedJobsSpec extends SparkSpecBase {
  private val sf01 = "/root/testdata/sf0.01"

  /** (face, query, most jobs a warm repeat may start). */
  private val faces: Seq[(String, () => DataFrame, Int)] = Seq(
    ("term", () => SearchOps.termLookup(spark, sf01, 42L), 0),
    ("termsagg", () => SearchOps.termsAgg(spark, sf01, 100), 0),
    ("rareterms", () => SearchOps.rareTermsAgg(spark, sf01, 300L, 100), 0),
    ("match", () => SearchOps.matchQueryIndexed(spark, sf01, "data stream window", 20), 1),
    ("searchafter", () => SearchOps.searchAfter(spark, sf01, "data stream window", 5, 10), 1),
    ("fuzzy", () => SearchOps.fuzzySearchIndexed(spark, sf01, "streem qery", 20), 1),
    ("multifield", () => SearchOps.multiFieldFuzzyIndexed(spark, sf01,
      "custommer streem windoe", 20), 1))

  for ((face, query, most) <- faces)
    test(s"$face: a warm repeated query starts at most $most Spark jobs") {
      val first = query().collect().toSeq // builds stores, fills the caches
      assert(first.nonEmpty, s"$face: vacuous query")
      var again: Seq[org.apache.spark.sql.Row] = Nil
      val n = jobsOf { again = query().collect().toSeq }
      assert(again === first, s"$face: a repeat must serve the same rows")
      info(s"$face: $n jobs")
      assert(n <= most, s"$face: a warm repeat started $n Spark jobs, budget $most")
    }

  /** A query term no earlier query of this JVM used: lowercase letters
    * from a per-call counter, kept by the analyzer as it is.
    */
  private val coldSeq = new java.util.concurrent.atomic.AtomicLong(System.nanoTime)
  private def coldTerm(): String =
    "qz" + Iterator.iterate(coldSeq.incrementAndGet())(_ / 26).takeWhile(_ > 0)
      .map(x => ('a' + (x % 26).toInt).toChar).mkString + "k"

  /** (face, query holding one term never queried before, most jobs). */
  private val coldFaces: Seq[(String, String => DataFrame, Int)] = Seq(
    ("searchafter", t => SearchOps.searchAfter(spark, sf01, s"data stream $t", 5, 10), 1),
    ("fuzzy", t => SearchOps.fuzzySearchIndexed(spark, sf01, s"streem $t", 20), 1),
    ("multifield", t => SearchOps.multiFieldFuzzyIndexed(spark, sf01, s"custommer $t", 20), 1))

  for ((face, query, most) <- coldFaces)
    test(s"$face: a query with a term never queried before starts at most $most Spark jobs") {
      assert(query(coldTerm()).collect().nonEmpty, s"$face: vacuous query") // stores built
      val n = jobsOf { query(coldTerm()).collect() }
      info(s"$face: $n jobs")
      assert(n <= most, s"$face: a cold-term query started $n Spark jobs, budget $most")
    }
}
