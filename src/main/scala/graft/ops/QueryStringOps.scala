package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** ES `query_string` — the full query SYNTAX face of [[SearchOps.matchQuery]]
  * (the reference's second golden search family,
  * /root/reference/etl/json/ETLTests-2.json:45-81 ships a query_string
  * request; real saved searches use the operator syntax day one):
  *
  *   - `AND` / `OR` / `NOT` with Lucene precedence (NOT > AND > OR),
  *     UPPERCASE-only — lowercase `and` is a search term, as in ES
  *   - parentheses
  *   - quoted phrases (`"data stream"` — analyzed-token adjacency)
  *   - per-field prefixes (`title:camp`, `lang:en`, `title:"big data"`)
  *     and field GROUPS (`title:(data OR stream)` — the whole group
  *     inherits the field; explicit inner prefixes still override);
  *     unprefixed clauses search the default text field
  *   - bare adjacency = default operator OR (`data stream` ≡ `data OR
  *     stream`, the ES default_operator)
  *
  * One grammar, one AST, TWO compilers: the Spark compiler emits a
  * (predicate, score) Column pair over staged analyzed-token arrays; the
  * oracle compiler emits the same tree as DuckDB SQL — so the syntax layer
  * itself sits under the driver's hash gate, not just one compiled query.
  * Scoring is the exact-integer device every search face here uses: score =
  * number of positively-matched leaves (NOT-subtrees score 0), so ordering
  * is engine-portable with no float folklore.
  *
  * Analyzer-empty clauses (a stopword-only term like `the`) are dropped at
  * PARSE time exactly as ES's query builders remove empty clauses: the
  * parent connective collapses onto its surviving child, and `NOT <empty>`
  * disappears entirely. A clause that analyzes to SEVERAL tokens (`N//A` →
  * `n`, `a`) expands with the default operator, mirroring ES's per-clause
  * re-analysis.
  *
  * Scale shape: the compiled query is ONE map-only corpus pass (predicate +
  * score ride the same projection; no join, no shuffle) finished by a
  * partial top-k — and because leaves are plain token-membership tests, the
  * served-postings rewrite (term IN-list pushed into the store scan, per
  * [[SearchOps.invertedSearch]]) applies clause-by-clause when a deployment
  * needs the sublinear path.
  */
object QueryStringOps {

  private[graft] sealed trait Node
  private[graft] final case class OrN(a: Node, b: Node) extends Node
  private[graft] final case class AndN(a: Node, b: Node) extends Node
  private[graft] final case class NotN(a: Node) extends Node
  private[graft] final case class TermN(field: String, term: String) extends Node
  private[graft] final case class PhraseN(field: String, terms: Seq[String]) extends Node

  // ---- lexer -----------------------------------------------------------

  private sealed trait Tok
  private case object LP extends Tok
  private case object RP extends Tok
  private case object TAnd extends Tok
  private case object TOr extends Tok
  private case object TNot extends Tok
  private final case class TClause(field: Option[String], text: String,
                                   phrase: Boolean) extends Tok
  /** `field:(` — the whole following group inherits the field. */
  private final case class TFieldOpen(field: String) extends Tok

  /** Fields this engine's document model exposes; `description`/`body` are
    * aliases of the default text field, `title` is the 48-char title face
    * shared with [[SearchOps.multiFieldFuzzy]], `lang` the keyword field.
    */
  private val FieldAliases = Map(
    "text" -> "text", "description" -> "text", "body" -> "text",
    "title" -> "title", "lang" -> "lang")

  private def lex(q: String): Seq[Tok] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Tok]
    var i = 0
    def readQuoted(from: Int): (String, Int) = {
      val end = q.indexOf('"', from)
      require(end >= 0, s"unterminated quote in query_string: $q")
      (q.substring(from, end), end + 1)
    }
    while (i < q.length) {
      val c = q.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '(') { out += LP; i += 1 }
      else if (c == ')') { out += RP; i += 1 }
      else if (c == '"') {
        val (s, ni) = readQuoted(i + 1); out += TClause(None, s, phrase = true); i = ni
      } else {
        val start = i
        while (i < q.length && !q.charAt(i).isWhitespace &&
               q.charAt(i) != '(' && q.charAt(i) != ')' && q.charAt(i) != '"') i += 1
        val w = q.substring(start, i)
        w match {
          case "AND" | "&&" => out += TAnd
          case "OR" | "||"  => out += TOr
          case "NOT"        => out += TNot
          case _ =>
            val colonAt = w.indexOf(':')
            if (colonAt > 0 && FieldAliases.contains(w.substring(0, colonAt).toLowerCase)) {
              val fName = FieldAliases(w.substring(0, colonAt).toLowerCase)
              val rest = w.substring(colonAt + 1)
              if (rest.isEmpty && i < q.length && q.charAt(i) == '"') {
                val (s, ni) = readQuoted(i + 1)
                out += TClause(Some(fName), s, phrase = true); i = ni
              } else if (rest.isEmpty && i < q.length && q.charAt(i) == '(')
                out += TFieldOpen(fName) // the LP lexes next; group scope
              else out += TClause(Some(fName), rest, phrase = false)
            } else out += TClause(None, w, phrase = false)
        }
      }
    }
    out.toSeq
  }

  // ---- parser: or := and ((OR | adjacency) and)*; and := not (AND not)*;
  //              not := NOT not | atom; atom := '(' or ')' | clause -------

  private final class P(toks: Seq[Tok]) {
    private var pos = 0
    private def peek: Option[Tok] = if (pos < toks.length) Some(toks(pos)) else None
    private def eat(): Tok = { val t = toks(pos); pos += 1; t }

    def parseAll(): Option[Node] = {
      val n = parseOr("text")
      require(peek.isEmpty, s"dangling token after query at $pos")
      n
    }
    private def startsAtom(t: Tok): Boolean = t match {
      case LP | TNot | _: TClause | _: TFieldOpen => true
      case _ => false
    }
    // `dfField` = the inherited default field: "text" at top level, the
    // prefix field inside a `field:(...)` group; explicit per-clause
    // prefixes always win
    private def parseOr(dfField: String): Option[Node] = {
      var acc = parseAnd(dfField)
      var go = true
      while (go) peek match {
        case Some(TOr) => eat(); acc = join(acc, parseAnd(dfField))(OrN.apply)
        case Some(t) if startsAtom(t) => acc = join(acc, parseAnd(dfField))(OrN.apply)
        case _ => go = false
      }
      acc
    }
    private def parseAnd(dfField: String): Option[Node] = {
      var acc = parseNot(dfField)
      while (peek.contains(TAnd)) { eat(); acc = join(acc, parseNot(dfField))(AndN.apply) }
      acc
    }
    private def parseNot(dfField: String): Option[Node] = peek match {
      case Some(TNot) => eat(); parseNot(dfField).map(NotN.apply) // NOT <dropped> drops too
      case _ => parseAtom(dfField)
    }
    private def parseAtom(dfField: String): Option[Node] = eat() match {
      case LP =>
        val n = parseOr(dfField)
        require(peek.contains(RP), "unbalanced parenthesis in query_string")
        eat(); n
      case TFieldOpen(f) =>
        require(peek.contains(LP), "field group prefix must be followed by '('")
        parseAtom(f) // the LP path above, with the group's field inherited
      case TClause(fOpt, text, isPhrase) => leaf(fOpt.getOrElse(dfField), text, isPhrase)
      case t => throw new IllegalArgumentException(s"unexpected token $t in query_string")
    }
    /** Empty-clause removal: the parent connective collapses onto its
      * surviving child (the ES clause-removal rule). */
    private def join(a: Option[Node], b: Option[Node])(f: (Node, Node) => Node) =
      (a, b) match {
        case (Some(x), Some(y)) => Some(f(x, y))
        case (x, None) => x
        case (None, y) => y
      }
    private def leaf(field: String, text: String, isPhrase: Boolean): Option[Node] =
      field match {
        case "lang" => Some(TermN("lang", text.toLowerCase))
        case f =>
          val ts = SearchOps.analyzeQuery(text)
          if (ts.isEmpty) None // stopword-only clause: dropped, as ES does
          else if (isPhrase && ts.length > 1) Some(PhraseN(f, ts))
          // multi-token word (e.g. `N//A` → n, a): default-operator expand
          else Some(ts.map(t => TermN(f, t): Node).reduceLeft(OrN.apply))
      }
  }

  private[graft] def parseQueryString(q: String): Option[Node] = new P(lex(q)).parseAll()

  // ---- compiler 1: Spark Columns --------------------------------------

  private def phraseNeedle(ts: Seq[String]): String = s" ${ts.mkString(" ")} "

  /** The connective algebra, shared by EVERY Spark-side compiler (scan
    * and index-served): only the LEAF resolution differs between faces,
    * so the operator/score laws cannot drift apart — one place spells
    * "NOT scores 0", both faces inherit it.
    */
  private def compileTree(n: Node, leaf: Node => (Column, Column)): (Column, Column) = n match {
    case OrN(a, b) =>
      val ((pa, sa), (pb, sb)) = (compileTree(a, leaf), compileTree(b, leaf))
      (pa || pb, sa + sb)
    case AndN(a, b) =>
      val ((pa, sa), (pb, sb)) = (compileTree(a, leaf), compileTree(b, leaf))
      (pa && pb, sa + sb)
    case NotN(a) =>
      (!compileTree(a, leaf)._1, lit(0))
    case other => leaf(other)
  }

  private def compileSpark(n: Node, toksOf: String => Column,
                           lang: Column): (Column, Column) =
    compileTree(n, {
      case TermN("lang", t) =>
        val p = lang === t; (p, p.cast("int"))
      case TermN(f, t) =>
        val p = array_contains(toksOf(f), t); (p, p.cast("int"))
      case PhraseN(f, ts) =>
        // analyzed-token adjacency via the padded-join device (token-bounded,
        // no substring false hits) — same trick as SearchOps.highlight
        val p = instr(concat(lit(" "), array_join(toksOf(f), " "), lit(" ")),
          lit(phraseNeedle(ts))) > 0
        (p, p.cast("int"))
      case n => throw new IllegalStateException(s"connective reached leaf: $n")
    })

  // ---- compiler 2: the DuckDB oracle, same tree ------------------------

  private def sqlQuote(s: String): String = s.replace("'", "''")

  private def compileSql(n: Node): (String, String) = n match {
    case OrN(a, b) =>
      val ((pa, sa), (pb, sb)) = (compileSql(a), compileSql(b))
      (s"($pa OR $pb)", s"($sa + $sb)")
    case AndN(a, b) =>
      val ((pa, sa), (pb, sb)) = (compileSql(a), compileSql(b))
      (s"($pa AND $pb)", s"($sa + $sb)")
    case NotN(a) =>
      (s"(NOT ${compileSql(a)._1})", "0")
    case TermN("lang", t) =>
      val p = s"(lang = '${sqlQuote(t)}')"; (p, s"CAST($p AS INT)")
    case TermN(f, t) =>
      val p = s"list_contains(${sqlArr(f)}, '${sqlQuote(t)}')"
      (p, s"CAST($p AS INT)")
    case PhraseN(f, ts) =>
      val p = s"(position('${sqlQuote(phraseNeedle(ts))}' IN " +
        s"' ' || array_to_string(${sqlArr(f)}, ' ') || ' ') > 0)"
      (p, s"CAST($p AS INT)")
  }

  private def sqlArr(field: String): String =
    if (field == "title") "title_toks" else "toks"

  // ---- the query face --------------------------------------------------

  /** Default fixture: field prefix + quoted phrase + parens + all three
    * operators, with precedence doing real work (the AND binds before the
    * OR; the NOT guards only `error`). */
  private[graft] val DefaultQ =
    """lang:en AND ("data stream" OR (window AND NOT error))"""

  def queryString(spark: SparkSession, dir: String,
                  q: String = DefaultQ, k: Int = 20): DataFrame = {
    val node = parseQueryString(q)
      .getOrElse(throw new IllegalArgumentException(
        s"query_string '$q' analyzed to no effective clauses"))
    val staged = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), col("lang"),
        SearchOps.fence(SearchOps.analyze(col("text"))).as("toks"),
        SearchOps.analyze(substring(col("text"), 1, 48)).as("title_toks"))
    val toksOf = (f: String) => if (f == "title") col("title_toks") else col("toks")
    val (pred, score) = compileSpark(node, toksOf, col("lang"))
    staged.filter(pred)
      .select(col("doc_id"), col("lang"), score.cast("long").as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  // ---- compiler 3: the index-served plan, same AST ----------------------

  /** Index atoms of a tree: the leaves an inverted index resolves (term
    * and phrase clauses on analyzed fields). `lang` leaves are doc-dim
    * attributes — ES filter context — and never probe the index.
    */
  private def indexAtoms(n: Node): Seq[Node] = n match {
    case OrN(a, b)  => (indexAtoms(a) ++ indexAtoms(b)).distinct
    case AndN(a, b) => (indexAtoms(a) ++ indexAtoms(b)).distinct
    case NotN(a)    => indexAtoms(a)
    case TermN("lang", _) => Nil
    case leaf => Seq(leaf)
  }

  private def langTerms(n: Node): Seq[String] = n match {
    case OrN(a, b)  => (langTerms(a) ++ langTerms(b)).distinct
    case AndN(a, b) => (langTerms(a) ++ langTerms(b)).distinct
    case NotN(a)    => langTerms(a)
    case TermN("lang", t) => Seq(t)
    case _ => Nil
  }

  /** Constant-fold the tree with every index atom FALSE and a given
    * lang assignment — true means a document with NO index hits can
    * still match (a NOT-dominated tree), so the index probe does not
    * bound the candidates and the doc dim must outer-join.
    */
  private def matchesWithoutIndexHits(n: Node, langIs: Option[String]): Boolean = n match {
    case OrN(a, b)  => matchesWithoutIndexHits(a, langIs) || matchesWithoutIndexHits(b, langIs)
    case AndN(a, b) => matchesWithoutIndexHits(a, langIs) && matchesWithoutIndexHits(b, langIs)
    case NotN(a)    => !matchesWithoutIndexHits(a, langIs)
    case TermN("lang", t) => langIs.contains(t)
    case _ => false // index atom, assumed absent
  }

  /** [[queryString]] served from the INDEX — the same driver-built AST,
    * third compiler: term leaves probe the field-tagged postings store
    * (`mfpostings`; the `title` field is analyzed from the same 48-char
    * slice as the scan face's staged `title_toks`), phrase leaves run the
    * [[SearchOps.phraseSearchIndexed]] anchor-shift intersection over the
    * bucketed positional store, and the boolean/score algebra is the ONE
    * shared [[compileTree]] over per-doc atom flags — so the scan face,
    * this face, and the DuckDB oracle all replay one tree.
    *
    * Plan shape: every atom probe is a pruned IN-pushed store read; the
    * union of probes aggregates to one flag row per candidate doc. The
    * doc dim (doc_id, lang — column-pruned) joins INNER when the
    * constant-folded tree proves a no-hit document can never match
    * (checked per possible lang: one-hot over the tree's lang terms plus
    * the none-of-them case), so NOT-free queries read only candidates;
    * NOT-dominated trees fall back to a left join over the dim — the
    * bitset-over-all-docs ES itself pays for pure must_not. Either way
    * the corpus TEXT is never re-analyzed at query time.
    */
  def queryStringIndexed(spark: SparkSession, dir: String,
                         q: String = DefaultQ, k: Int = 20): DataFrame = {
    import spark.implicits._
    val node = parseQueryString(q)
      .getOrElse(throw new IllegalArgumentException(
        s"query_string '$q' analyzed to no effective clauses"))
    val atoms = indexAtoms(node)
    // declared face boundary, checked BEFORE any plan builds: the title
    // field has no positional store (its truncated-token law means title
    // positions cannot be derived from the body store), so title phrases
    // stay on the scan face — fail loud and early, not mid-plan
    atoms.foreach {
      case PhraseN("title", ts) => throw new IllegalArgumentException(
        s"""queryStringIndexed does not serve title-field phrases """ +
          s"""(no positional title store): title:"${ts.mkString(" ")}"""")
      case _ =>
    }
    val atomIdx = atoms.zipWithIndex.toMap
    val mfPosts = SearchOps.servedMultiFieldPostings(spark, dir)

    // ALL term atoms resolve through ONE IN-pushed probe joined to a
    // broadcast (field, token, atom) relation — the boolQueryIndexed
    // shape — instead of one store read per atom
    val termAtoms = atoms.collect { case a @ TermN(f, t) =>
      (if (f == "title") "title" else "body", t, atomIdx(a)) }
    val termProbe =
      if (termAtoms.isEmpty) Nil
      else Seq(mfPosts
        .filter(col("field").isInCollection(termAtoms.map(_._1).distinct) &&
          col("token").isInCollection(termAtoms.map(_._2).distinct))
        .join(broadcast(termAtoms.toDF("field", "token", "atom")),
          Seq("field", "token"))
        .select(col("doc_id"), col("atom")))

    def phraseProbe(ts: Seq[String], i: Int): DataFrame = {
      val pp = SearchOps.positionalFor(spark, dir, ts.distinct)
      ts.zipWithIndex.map { case (t, j) =>
        pp.filter(col("token") === t)
          .select(col("doc_id"), (col("pos") - j).as("start"))
      }.reduce((x, y) => x.join(y, Seq("doc_id", "start")))
        .select(col("doc_id")).distinct()
        .select(col("doc_id"), lit(i).as("atom"))
    }
    val phraseProbes = atoms.collect { case a @ PhraseN(_, ts) =>
      phraseProbe(ts, atomIdx(a)) }

    val dim = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val base =
      if (atoms.isEmpty) dim // lang-only tree: pure dim predicate
      else {
        val flags = (termProbe ++ phraseProbes)
          .reduce(_ union _)
          .groupBy("doc_id")
          .agg(
            max(when(col("atom") === 0, lit(true))).as("a0"),
            atoms.indices.tail.map(i =>
              max(when(col("atom") === i, lit(true))).as(s"a$i")): _*)
        // inner join iff NO lang world lets a hit-free doc match
        val worlds = langTerms(node).map(Option(_)) :+ None
        val needOuter = worlds.exists(w => matchesWithoutIndexHits(node, w))
        dim.join(flags, Seq("doc_id"), if (needOuter) "left" else "inner")
      }
    val (pred, score) = compileTree(node, {
      case TermN("lang", t) =>
        val p = col("lang") === t; (p, p.cast("int"))
      case atom =>
        val c = coalesce(col(s"a${atomIdx(atom)}"), lit(false))
        (c, c.cast("int"))
    })
    base.filter(pred)
      .select(col("doc_id"), col("lang"), score.cast("long").as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** The oracle for [[queryString]]: the SAME parse tree compiled to
    * DuckDB SQL — parser bugs can't cancel out because both engines replay
    * one AST built once, driver-side. */
  private[graft] def queryStringOracle(q: String = DefaultQ, k: Int = 20): String = {
    val node = parseQueryString(q).get
    val (pred, score) = compileSql(node)
    s"""WITH base AS (
       |  SELECT doc_id, lang,
       |    ${SearchOps.duckToksOf("text")} AS toks,
       |    ${SearchOps.duckToksOf("substr(text, 1, 48)")} AS title_toks
       |  FROM documents)
       |SELECT doc_id, lang, CAST($score AS BIGINT) AS score
       |FROM base WHERE $pred
       |ORDER BY score DESC, doc_id ASC LIMIT $k""".stripMargin
  }
}
