package perfbench

import java.util.SplittableRandom

/** Seeded input generators for the three workloads. Everything the engine
  * sees — the corpus, the query stream, the change batches and the edit
  * schedule — is a pure function of (seed, sizes), and each stream carries
  * a SHA-256 digest so two runs can prove they were fed the same inputs.
  */
object Gen {

  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class Vec(id: Long, v: Array[Float], label: Int)
  final case class Corpus(docs: Vector[Doc], vecs: Vector[Vec], customers: Int,
                          vocab: Vector[String]) {
    lazy val byId: Map[Long, Doc] = docs.map(d => d.id -> d).toMap
  }

  /** One served query. `face` names the SearchOps entry point; the other
    * fields are its arguments (unused ones stay at their zero value).
    */
  final case class Query(face: String, text: String = "", id: Long = 0L,
                         k: Int = 20, after: Int = 0) {
    def key: String = s"$face|$text|$id|$k|$after"
  }

  final case class ChangeRow(id: Long, text: String, label: Int, v: Array[Double],
                             modifiedMicros: Long)
  final case class Batch(round: Int, rows: Vector[ChangeRow])
  final case class Edit(marker: String, ids: Vector[Long])

  /** A generated stream, its digest, and its measured properties. */
  final case class Stream[A](items: Vector[A], digest: String,
                             props: Map[String, Double])

  val Faces: Vector[String] =
    Vector("match", "fuzzy", "multifield", "term", "termsagg", "searchafter")

  /** (face, slots) per block of 28 queries. The slots follow
    * the reference's own query corpus, the seven golden queries of
    * `etl/json/ETLTests-2.json`: two term lookups by id, two token matches on
    * analyzed fields (`query_string` and the nested `match`), one
    * `multi_match` with fuzziness, one terms aggregation and one size-capped
    * browse of the whole index (paged here with search-after). The fuzzy
    * `multi_match` share is split evenly between the multi-field and the
    * single-field fuzzy face. Every block carries the same mix, so the cost
    * composition of a run does not depend on the seed.
    */
  val FaceMix: Vector[(String, Int)] = Vector(
    "term" -> 8, "match" -> 8, "searchafter" -> 4, "termsagg" -> 4, "multifield" -> 2,
    "fuzzy" -> 2)
  val BlockSize: Int = FaceMix.map(_._2).sum

  /** Share of queries that repeat an earlier query of the same face: every
    * second slot of a face. An assumption: the reference publishes no
    * traffic, and an even split lets a change to the repeat path and one to
    * the new-query path both show in the median.
    */
  val RepeatShare: Double = 0.5

  /** Terms per query of each text face, cycled over the face's slots: a new
    * query and the repeat in the face's next slot share a count, so every
    * run serves the same mix of query lengths. Drawn at random, the lengths
    * of a face's first few queries, which its Zipf repeats favour, moved
    * search-after's median by 1.4x from seed to seed. Match queries carry
    * two or three terms: the vocabulary has only 28 one-term queries.
    */
  val TermCounts: Map[String, Vector[Int]] = Map(
    "match" -> Vector(2, 3), "fuzzy" -> Vector(1, 2), "multifield" -> Vector(2, 3),
    "searchafter" -> Vector(1, 2))

  /** The order of a block's slots, (face, repeat): a smooth weighted round
    * robin over [[FaceMix]], so that every prefix of the stream holds each
    * face within a query of its share. A run serves a prefix whose length
    * depends on its speed; with shuffled blocks, the partial last block
    * moved the share of the slow faces by a few points from run to run, and
    * with it p75, which sits at the boundary between the fast and the slow
    * faces.
    */
  val BlockOrder: Vector[(String, Boolean)] = {
    val credit = scala.collection.mutable.Map(FaceMix.map(_._1 -> 0): _*)
    val used = scala.collection.mutable.Map(FaceMix.map(_._1 -> 0): _*)
    Vector.fill(BlockSize) {
      FaceMix.foreach { case (f, m) => credit(f) += m }
      val f = FaceMix.maxBy { case (f, _) => credit(f) }._1
      credit(f) -= BlockSize
      used(f) += 1
      (f, used(f) % 2 == 0)
    }
  }
  /** Probability that a fuzzy-face query term carries a typo, an
    * assumption: the fuzzy faces exist for misspelt input, and the exact
    * fifth keeps the shape of the golden fuzzy query, an exact term ("camp").
    */
  val TypoProb: Double = 0.8

  /** The shape of the sf0.1 `documents` table: its 28 content words, each
    * about equally frequent (the table's other words are the stopwords
    * `the` and `a`, which the analyzer drops, and one rare word), 10 to 100
    * words per doc, its language shares and its 20 sources; the `customer`
    * table holds three rows per doc, and `embeddings` 2,000 rows of 64
    * dimensions.
    */
  val Vocabulary: Vector[String] = Vector("agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "value", "vector", "window")
  val DocWords: (Int, Int) = (10, 100)
  val Langs: Vector[(String, Double)] =
    Vector("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)
  val Sources = 20
  val CustomersPerDoc = 3
  val EmbeddingRows = 2000
  val Dim = 64
  val NList = 8

  private def rng(seed: Long, salt: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  /** Zipf(s) sampler over ranks 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val Stops: Set[String] =
    (graft.functions.RuEnAnalyzerDef.Stopwords ++
      graft.functions.RuEnAnalyzerDef.RuStopwords).toSet

  /** A word the analyzer keeps verbatim: lowercase a-z, not a stopword, and
    * not ending in `s` (the light stemmer would rewrite it).
    */
  private def analyzerStable(w: String): Boolean =
    w.length >= 3 && !w.endsWith("s") && !Stops(w) && w.forall(c => c >= 'a' && c <= 'z')

  private def pickWeighted[A](r: SplittableRandom, xs: Vector[(A, Double)]): A = {
    var u = r.nextDouble()
    xs.find { case (_, w) => u -= w; u < 0 }.getOrElse(xs.last)._1
  }

  /** A doc text: words drawn uniformly from the vocabulary. */
  private def docText(r: SplittableRandom, vocab: Vector[String]): String = {
    val (lo, hi) = DocWords
    Vector.fill(lo + r.nextInt(hi - lo + 1))(vocab(r.nextInt(vocab.size))).mkString(" ")
  }

  /** The vocabulary is the same for every seed: how many near neighbours a
    * word has sets what a fuzzy query expands to. The seed chooses the
    * docs, the queries and the changes over it.
    */
  def corpus(seed: Long, nDocs: Int): Corpus = {
    val vocab = Vocabulary
    require(vocab.forall(analyzerStable), "every vocabulary word must pass the analyzer verbatim")
    val r = rng(seed, 0x636f72L)
    val docs = Vector.tabulate(nDocs) { i =>
      Doc(i.toLong, docText(r, vocab), pickWeighted(r, Langs), s"src${i % Sources}")
    }
    val vecs = Vector.tabulate(math.min(nDocs, EmbeddingRows)) { i =>
      Vec(i.toLong, Array.fill(Dim)(r.nextGaussian().toFloat), r.nextInt(10))
    }
    Corpus(docs, vecs, CustomersPerDoc * nDocs, vocab)
  }

  /** The IVF codebook the ETL tick assigns cells against: the first
    * [[NList]] corpus vectors, as the composed-tick query derives it.
    */
  def codebook(c: Corpus): Seq[Seq[Double]] =
    c.vecs.take(NList).map(_.v.toSeq.map(_.toDouble))

  private def sha(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      md.update(p.getBytes(java.nio.charset.StandardCharsets.UTF_8)); md.update(0.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def corpusDigest(c: Corpus): String =
    sha(c.docs.iterator.map(d => s"${d.id}|${d.text}|${d.lang}|${d.source}") ++
      c.vecs.iterator.map(v => s"${v.id}|${v.label}|${v.v.mkString(",")}") ++
      Iterator(c.customers.toString))

  /** One edit away from `w`: substitution, deletion, insertion or
    * transposition at a seeded position.
    */
  def typo(r: SplittableRandom, w: String): String = {
    val i = r.nextInt(w.length)
    val c = ('a' + r.nextInt(26)).toChar
    r.nextInt(4) match {
      case 0 => w.updated(i, if (w(i) == c) ('a' + (c - 'a' + 1) % 26).toChar else c)
      case 1 if w.length > 3 => w.patch(i, "", 1)
      case 2 => w.patch(i, c.toString, 0)
      case _ if i + 1 < w.length && w(i) != w(i + 1) =>
        w.patch(i, s"${w(i + 1)}${w(i)}", 2)
      case _ => w + c
    }
  }

  /** Longest search stream per corpus doc: every new term lookup takes an
    * id not looked up before, and about one query in seven is one.
    */
  val MaxQueriesPerDoc = 5

  /** The search stream: `n` queries in blocks of [[BlockSize]] in the fixed
    * [[BlockOrder]]; in every block the mix's repeated slots repeat an
    * earlier query of that face (Zipf over the face's history, so early
    * queries are hot) and the rest are new. A new fuzzy query always holds
    * at least one term never queried before, so the expansion cache hit
    * ratio is set by the repeat share and does not drift with run length.
    */
  def searchStream(seed: Long, c: Corpus, n: Int): Stream[Query] = {
    require(n <= MaxQueriesPerDoc * c.docs.size, s"$n queries need more ids than ${c.docs.size} docs")
    val r = rng(seed, 0x717279L)
    // query terms and looked-up ids by Zipf: an assumed heavy-tailed
    // popularity, over a corpus whose words are equally frequent
    val zw = new Zipf(c.vocab.size, 1.0)
    val zid = new Zipf(c.docs.size, 1.1)
    val idPerm = {
      val a = c.docs.map(_.id).toArray
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    val history = scala.collection.mutable.Map.empty[String, Vector[Query]]
      .withDefaultValue(Vector.empty)
    val seenTerms = scala.collection.mutable.HashSet.empty[String]
    val seenKeys = scala.collection.mutable.HashSet.empty[String]
    var typoTerms = 0
    var fuzzyTermCount = 0

    def vocabTerms(n: Int): Vector[String] = {
      val ts = scala.collection.mutable.LinkedHashSet.empty[String]
      while (ts.size < n) ts += c.vocab(zw.sample(r))
      ts.toVector
    }

    def newFuzzyTerms(n: Int): Vector[String] = {
      var ts = Vector.empty[String]
      while (ts.size < n || !ts.exists(t => !seenTerms(t))) {
        ts = vocabTerms(n).map { w =>
          if (r.nextDouble() < TypoProb) typo(r, w) else w
        }.filter(analyzerStable).distinct
      }
      ts
    }

    def terms(q: Query): Int = if (q.text.isEmpty) 0 else q.text.split(' ').length

    def fresh(face: String, n: Int): Query = {
      var q: Query = null
      while (q == null || seenKeys(q.key)) {
        q = face match {
          case "match" => Query(face, vocabTerms(n).mkString(" "))
          case "fuzzy" => Query(face, newFuzzyTerms(n).mkString(" "))
          case "multifield" => Query(face, newFuzzyTerms(n).mkString(" "))
          case "term" =>
            val id = idPerm(zid.sample(r))
            Query(face, id = if (seenKeys(Query(face, id = id).key)) r.nextInt(c.docs.size).toLong else id)
          case "termsagg" => Query(face, k = 5 + r.nextInt(5000))
          case "searchafter" =>
            Query(face, vocabTerms(n).mkString(" "), k = 10, after = 5 * (1 + r.nextInt(8)))
        }
      }
      if (face == "fuzzy" || face == "multifield") {
        val ts = q.text.split(' ')
        fuzzyTermCount += ts.length
        typoTerms += ts.count(t => !c.vocab.contains(t))
        ts.foreach(seenTerms += _)
      }
      seenKeys += q.key
      history(face) = history(face) :+ q
      q
    }

    val out = Vector.newBuilder[Query]
    val slot = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var produced = 0
    var repeats = 0
    while (produced < n) {
      BlockOrder.foreach { case (face, repeat) =>
        if (produced < n) {
          val k = slot(face)
          slot(face) = k + 1
          val nTerms = TermCounts.get(face).fold(0)(cs => cs((k / 2) % cs.size))
          val h = history(face).filter(terms(_) == nTerms)
          val q =
            if (repeat && h.nonEmpty) { repeats += 1; h(new Zipf(h.size, 1.0).sample(r)) }
            else fresh(face, nTerms)
          out += q
          produced += 1
        }
      }
    }
    val items = out.result()
    val faceShares = Faces.map(f => s"face_share.$f" -> items.count(_.face == f).toDouble / n)
    Stream(items, sha(items.iterator.map(_.key)),
      Map("queries" -> n.toDouble,
        "repeat_share" -> repeats.toDouble / n,
        "distinct_share" -> items.map(_.key).distinct.size.toDouble / n,
        "typo_share" -> (if (fuzzyTermCount == 0) 0.0 else typoTerms.toDouble / fuzzyTermCount)) ++
        faceShares)
  }

  /** Batch sizes cycle through this mix, as shares of the corpus floored
    * at a few ids, in this fixed order: every run covers the same sizes in
    * the same proportions, and a short run still mixes small and large.
    */
  val BatchMix: Vector[Double] = Vector(0.02, 0.002, 0.05, 0.008)
  val HotShare = 0.5
  val DupShare = 0.2
  /** Change rows of round r are stamped after every row of round r − 1 and
    * after the whole initial load.
    */
  val BaseMicros: Long = 1704067200000000L // 2024-01-01 00:00:00 UTC
  def roundMicros(round: Int): Long = BaseMicros + (round + 1).toLong * 3600L * 1000000L

  def etlStream(seed: Long, c: Corpus, rounds: Int): Stream[Batch] = {
    val r = rng(seed, 0x65746cL)
    val hot = new Zipf(c.docs.size, 1.1)
    val n = c.docs.size
    val sizes = Vector.tabulate(rounds)(i => math.max(4, (BatchMix(i % BatchMix.size) * n).toInt))
    var hotRows = 0
    var dupRows = 0
    var rows = 0
    val batches = sizes.zipWithIndex.map { case (size, round) =>
      val ids = Vector.newBuilder[Long]
      val chosen = scala.collection.mutable.ArrayBuffer.empty[Long]
      for (_ <- 0 until size) {
        val id =
          if (chosen.nonEmpty && r.nextDouble() < DupShare) { dupRows += 1; chosen(r.nextInt(chosen.size)) }
          else if (r.nextDouble() < HotShare) { hotRows += 1; hot.sample(r).toLong }
          else r.nextInt(n).toLong
        chosen += id
        ids += id
      }
      val batchRows = ids.result().zipWithIndex.map { case (id, i) =>
        val base = c.vecs(id.toInt).v
        ChangeRow(id, docText(r, c.vocab), r.nextInt(10),
          Array.tabulate(Dim)(d => base(d).toDouble + 0.8 * r.nextGaussian()),
          roundMicros(round) + i.toLong * 1000L)
      }
      rows += batchRows.size
      Batch(round, batchRows)
    }.toVector
    Stream(batches,
      sha(batches.iterator.flatMap(b => b.rows.iterator.map(x =>
        s"${b.round}|${x.id}|${x.text}|${x.label}|${x.v.mkString(",")}|${x.modifiedMicros}"))),
      Map("rounds" -> rounds.toDouble,
        "mean_batch_rows" -> rows.toDouble / math.max(1, rounds),
        "hot_share" -> hotRows.toDouble / math.max(1, rows),
        "dup_share" -> dupRows.toDouble / math.max(1, rows)) ++
        BatchMix.map(s => s"batch_mix.${math.max(4, (s * n).toInt)}" -> s))
  }

  /** The edit the search check lands after the timed section: a unique
    * marker token appended to `docs` distinct seeded docs.
    */
  def edit(seed: Long, c: Corpus, docs: Int): Edit = {
    val r = rng(seed, 0x656474L)
    val ids = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (ids.size < docs) ids += r.nextInt(c.docs.size).toLong
    Edit(s"zq${java.lang.Long.toString(seed & 0xffffffL, 36)}x", ids.toVector.sorted)
  }
}
