package perfbench

import graft.ops.SearchOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import scala.collection.parallel.CollectionConverters._

/** The served search faces the benchmark drives, and the answers each one
  * must give: the scan twin SearchSpec pins for the three text faces, an
  * independent in-process computation over the generated corpus for the
  * rest.
  */
object Faces {

  /** The face call: returns the DataFrame the client will collect. */
  def construct(spark: SparkSession, dir: String, q: Gen.Query): DataFrame = q.face match {
    case "match" => SearchOps.matchQueryIndexed(spark, dir, q.text, q.k)
    case "fuzzy" => SearchOps.fuzzySearchIndexed(spark, dir, q.text, q.k)
    case "multifield" => SearchOps.multiFieldFuzzyIndexed(spark, dir, q.text, q.k)
    case "term" => SearchOps.termLookup(spark, dir, q.id)
    case "termsagg" => SearchOps.termsAgg(spark, dir, q.k)
    case "searchafter" => SearchOps.searchAfter(spark, dir, q.text, q.after, q.k)
  }

  def render(rows: Array[Row]): Vector[String] =
    rows.toVector.map(_.toSeq.map(String.valueOf).mkString("|"))

  def answer(spark: SparkSession, dir: String, q: Gen.Query): Vector[String] =
    render(construct(spark, dir, q).collect())

  /** The scan twin SearchSpec pins to each text face. */
  def twin(spark: SparkSession, dir: String, q: Gen.Query): Option[DataFrame] = q.face match {
    case "match" => Some(SearchOps.matchQuery(spark, dir, q.text, q.k))
    case "fuzzy" => Some(SearchOps.fuzzyQuery(spark, dir, q.text, q.k))
    case "multifield" => Some(SearchOps.multiFieldFuzzy(spark, dir, q.text, q.k))
    case _ => None
  }

  /** The answers queries `qs` must get over corpus `c` written at `dir`.
    * Scan twins of one face run as ONE union action per batch of four (a
    * scan twin is a single-stage top-k, so much of its cost is job
    * dispatch), batches in parallel; each twin's rows come back tagged with
    * its query and are put back in the faces' (score desc, doc_id asc)
    * order.
    */
  def expectedAll(spark: SparkSession, dir: String, c: Gen.Corpus,
                  qs: Seq[Gen.Query]): Map[String, Vector[String]] = {
    val (scans, rest) = qs.partition(q => twin(spark, dir, q).isDefined)
    val batches = scans.groupBy(_.face).values.flatMap(_.grouped(4)).toSeq
    val fromTwins = batches.par.flatMap { grp =>
      val rows = grp.map(q => twin(spark, dir, q).get.select(lit(q.key).as("_q"), col("*")))
        .reduce(_ unionByName _).collect()
      val byQ = rows.groupBy(_.getString(0))
      grp.map { q =>
        val rs = byQ.getOrElse(q.key, Array.empty[Row]).map(r => Row.fromSeq(r.toSeq.tail))
          .sortBy(r => (-r.getAs[Number](2).doubleValue, r.getLong(0))) // (doc_id, lang, score)
        q.key -> render(rs)
      }
    }.seq.toMap
    val ix = new CorpusIndex(c)
    fromTwins ++ rest.map(q => q.key -> ix.answer(q))
  }

  // The generator emits only analyzer-stable words (lowercase a-z or
  // marker tokens, no stopword, no stemmable suffix), so the analyzed token
  // stream of a generated text is its space split.
  private def tokens(text: String): Array[String] = text.split(' ').filter(_.nonEmpty)

  /** Independent in-process answers of the faces without a scan twin, over
    * corpus `c`. The per-doc token counts are computed once, for every query.
    */
  final class CorpusIndex(c: Gen.Corpus) {
    private lazy val tf: Vector[(Long, Map[String, Int])] = c.docs.map(d =>
      d.id -> tokens(d.text).groupBy(identity).map { case (t, xs) => t -> xs.length })
    private lazy val df: Map[String, Int] =
      tf.flatMap(_._2.keys).groupBy(identity).map { case (t, xs) => t -> xs.size }
    private lazy val counts: Vector[(String, Long)] =
      tf.flatMap(_._2).groupBy(_._1).map { case (t, xs) => (t, xs.map(_._2.toLong).sum) }
        .toVector.sortBy { case (t, n) => (-n, t) }

    def answer(q: Gen.Query): Vector[String] = q.face match {
      case "term" => c.byId.get(q.id).toVector.map(d => s"${d.id}|${d.lang}|${d.text.length}")
      case "termsagg" => termsAgg(q.k)
      case "searchafter" => searchAfter(q.text, q.after, q.k)
    }

    /** ES terms aggregation: top-k tokens by occurrence count, ties by token. */
    def termsAgg(k: Int): Vector[String] = counts.take(k).map { case (t, n) => s"$t|$n" }

    /** search_after over tf·idf scores: idf = ln(N / df), summed over the
      * distinct query terms in sorted order, rounded half-up to 6 places;
      * the page is the k hits strictly after rank `after` in
      * (score desc, doc_id asc) order.
      */
    def searchAfter(q: String, after: Int, k: Int): Vector[String] = {
      val terms = tokens(q).distinct.sorted
      val n = c.docs.size.toDouble
      val idf = terms.map(t => t -> math.log(n / df.getOrElse(t, 0).toDouble)).toMap
      tf.filter { case (_, m) => terms.exists(m.contains) }.map { case (id, m) =>
        val total = terms.map(t => m.get(t).map(_.toDouble * idf(t)).getOrElse(0.0)).reduce(_ + _)
        (id, BigDecimal(total).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (id, s) => (-s, id) }.slice(after, after + k).map { case (id, s) => s"$id|$s" }
    }
  }
}
