package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.analyze.Analyzer

/** Lucene/OpenSearch `query_string` mini-language — ONE string compiling
  * to the engine's query primitives, brute-force or index-served.
  *
  * Supported subset (the well-defined core; reference hand-off this
  * replaces: the `opensearch` sink delegating `query_string` to Lucene's
  * QueryParser):
  *
  *   - clauses separated by whitespace; leading `+` = must, `-` = must_not,
  *     bare = should (Lucene's default-OR / `+`/`-` form);
  *   - `"w1 w2"` = phrase, optional `~N` slop suffix ("w1 w2"~2);
  *   - `term~` / `term~N` = fuzzy (Levenshtein ≤ N over the dictionary,
  *     `~` alone = 1, [[Search.fuzzyExpand]] semantics);
  *   - `pre*`, `w?ld*rd` = wildcard/prefix (`*` any run, `?` one char),
  *     expanded against the dictionary ascending, capped at maxExpansions;
  *   - `clause^B` = boost (multiplies the clause's BM25 contribution).
  *
  * NOT supported (documented exclusions): `AND`/`OR`/`NOT` keywords and
  * parentheses (Lucene's operator precedence is famously surprising — the
  * `+`/`-` form is its own recommended replacement), field prefixes
  * (single-field engine), ranges, and escaping.
  *
  * Semantics (Lucene bool): a doc matches when it matches EVERY must
  * clause, NO must_not clause, and — if there are no must clauses — at
  * least one should clause. Score = Σ over matched scoring clauses of
  * boost × clause score, where a term/fuzzy/wildcard clause scores the
  * ascending-ordered sum of its concrete terms' BM25 and a phrase clause
  * scores BM25(tf = phrase_tf, idf = Σ slot idfs) (see
  * [[BruteForce.phraseSlopScoreAll]]). Contributions fold in CLAUSE
  * order (as written in the query string), each clause's term sum in
  * ascending term order — the engine-wide fixed-order determinism
  * contract. Final scores round to 4; ranking (score desc, docId asc).
  *
  * Two executions, rank-identical (QueryStringSpec pins it), sharing
  * only the parser and [[resolve]]:
  *   - [[topK]]: brute-force corpus scan (the oracle form), its clause
  *     algebra written as Columns over frames ([[compose]]);
  *   - [[IndexSearch.queryStringTopK]]: dictionary from termstats/, then
  *     the resolved clauses are the groups of one [[Clauses]] value scored
  *     by the clause kernel ([[IndexSearch.shardClauseTopK]]) on one
  *     routed postings read — the corpus text is never read.
  */
object QueryString {

  sealed trait Occur
  case object Must extends Occur
  case object Should extends Occur
  case object MustNot extends Occur

  /** One parsed clause. Exactly one of the shapes below. */
  sealed trait QClause {
    def occur: Occur
    def boost: Double
  }
  final case class TermClause(term: String, occur: Occur, boost: Double)
      extends QClause
  final case class FuzzyClause(term: String, maxDist: Int, occur: Occur,
      boost: Double) extends QClause
  final case class WildClause(pattern: String, occur: Occur, boost: Double)
      extends QClause
  final case class PhraseClause(terms: Seq[String], slop: Int, occur: Occur,
      boost: Double) extends QClause

  // ------------------------------------------------------------- parsing

  /** Parse a query string into ordered clauses. Throws
    * IllegalArgumentException on malformed input (unterminated quote, bad
    * boost/slop/fuzzy number, empty clause, no scoring clause). */
  def parse(q: String): Seq[QClause] = {
    val clauses = lex(q).map(parseOne)
    require(clauses.exists(_.occur != MustNot),
      s"query '$q' has no scoring (must/should) clause")
    clauses
  }

  /** Whitespace-split outside double quotes. */
  private def lex(q: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQ = false
    q.foreach { c =>
      if (c == '"') { inQ = !inQ; cur += c }
      else if (!inQ && c.isWhitespace) {
        if (cur.nonEmpty) { out += cur.result(); cur.clear() }
      } else cur += c
    }
    require(!inQ, s"unterminated quote in query: $q")
    if (cur.nonEmpty) out += cur.result()
    val toks = out.result()
    require(toks.nonEmpty, "empty query string")
    toks
  }

  private def parseOne(raw: String): QClause = {
    var s = raw
    val occur = s.head match {
      case '+' => s = s.tail; Must
      case '-' => s = s.tail; MustNot
      case _ => Should
    }
    require(s.nonEmpty, s"empty clause in '$raw'")
    // boost suffix: after the closing quote / fuzzy suffix, so strip first
    var boost = 1.0
    val caret = s.lastIndexOf('^')
    if (caret > 0 && caret > s.lastIndexOf('"')) {
      boost = try s.substring(caret + 1).toDouble
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"bad boost in '$raw'") }
      require(boost > 0, s"boost must be > 0 in '$raw'")
      s = s.substring(0, caret)
    }
    if (s.startsWith("\"")) {
      val close = s.indexOf('"', 1)
      require(close > 0, s"unterminated phrase in '$raw'")
      val slots = s.substring(1, close).split("\\s+").filter(_.nonEmpty)
        .map(Analyzer.lowerLikeCatalyst).toSeq
      require(slots.nonEmpty, s"empty phrase in '$raw'")
      val rest = s.substring(close + 1)
      val slop =
        if (rest.isEmpty) 0
        else if (rest.startsWith("~")) {
          try rest.tail.toInt
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(s"bad slop in '$raw'") }
        } else throw new IllegalArgumentException(
          s"unexpected suffix '$rest' in '$raw'")
      require(slop >= 0, s"slop must be >= 0 in '$raw'")
      PhraseClause(slots, slop, occur, boost)
    } else {
      val tilde = s.lastIndexOf('~')
      if (tilde > 0) {
        val t = Analyzer.lowerLikeCatalyst(s.substring(0, tilde))
        require(!t.contains('*') && !t.contains('?'),
          s"fuzzy and wildcard cannot combine in '$raw'")
        val d =
          if (tilde == s.length - 1) 1
          else try s.substring(tilde + 1).toInt
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(s"bad fuzziness in '$raw'") }
        require(d >= 0, s"fuzziness must be >= 0 in '$raw'")
        FuzzyClause(t, d, occur, boost)
      } else if (s.contains('*') || s.contains('?'))
        WildClause(Analyzer.lowerLikeCatalyst(s), occur, boost)
      else TermClause(Analyzer.lowerLikeCatalyst(s), occur, boost)
    }
  }

  // --------------------------------------------------------- resolution

  /** A clause with dictionary expansion applied: `terms` is the concrete
    * term set (a plain term = one; fuzzy/wildcard = its expansion, maybe
    * empty), or `phrase` the (slots, slop). */
  private[query] final case class Resolved(occur: Occur, boost: Double,
      terms: Seq[String], phrase: Option[(Seq[String], Int)])

  /** Expand fuzzy/wildcard clauses through a dictionary lookup (ascending
    * order, capped at maxExpansions — the engine's expansion contract). */
  private[query] def resolve(clauses: Seq[QClause],
      expandFuzzy: (String, Int) => Seq[String],
      expandWild: String => Seq[String],
      maxExpansions: Int): Seq[Resolved] =
    clauses.map {
      case TermClause(t, o, b) => Resolved(o, b, Seq(t), None)
      case FuzzyClause(t, d, o, b) =>
        Resolved(o, b,
          expandFuzzy(t, d).distinct.sorted.take(maxExpansions), None)
      case WildClause(p, o, b) =>
        Resolved(o, b,
          expandWild(p).distinct.sorted.take(maxExpansions), None)
      case PhraseClause(slots, slop, o, b) =>
        Resolved(o, b, Nil, Some((slots, slop)))
    }

  /** Glob → SQL LIKE, with LIKE metacharacters escaped ([[IndexSearch
    * .wildcardTopK]]'s convention). */
  private[query] def globToLike(pattern: String): String =
    pattern.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
      .replace("*", "%").replace("?", "_")

  // -------------------------------------------------------- composition

  /** The brute form's clause algebra over side-supplied frames. The
    * served form folds the same clauses in the clause kernel, so the two
    * are independent executions of one fold (clause order, each clause's
    * terms ascending from 0.0, boost × clause sum).
    *
    * `pivoted`: (docId, one double column per concrete scoring term,
    * null = absent) — [[BruteForce.scorePivot]].
    * `resolved`: clause list in query order; for each phrase clause,
    * `phraseFrames(i)` is its (docId, score) frame (unrounded scores).
    * `mustNotFrames`: one (docId) match-set frame per must_not clause.
    *
    * Returns (docId, score) top-k, rounded-4 scores, (score desc, docId
    * asc). */
  private[query] def compose(pivoted: Option[DataFrame],
      resolved: Seq[Resolved],
      phraseFrames: Map[Int, DataFrame], mustNotFrames: Seq[DataFrame],
      k: Int): DataFrame = {
    // base universe: docs matching >= 1 scoring clause — the pivot rows
    // (>= 1 scoring term) full-outer-joined with every phrase match set.
    // Lucene's "no must => at least one should must match" gate is thereby
    // structural: a doc matching only must_not clauses never enters.
    var base: DataFrame = pivoted.orNull
    resolved.zipWithIndex.foreach { case (r, i) =>
      if (r.phrase.isDefined && r.occur != MustNot) {
        val f = phraseFrames(i)
          .select(col("docId"), col("score").as(s"_ph$i"))
        base = if (base == null) f
          else base.join(f, Seq("docId"), "full_outer")
      }
    }
    require(base != null, "no scoring clause survived expansion")
    // a should clause whose expansion matched no dictionary term simply
    // contributes nothing (Lucene's empty-rewrite behavior)
    val contribs: Seq[Column] = resolved.zipWithIndex.collect {
      case (r, i) if r.occur != MustNot &&
          (r.phrase.isDefined || r.terms.nonEmpty) =>
        val raw: Column =
          if (r.phrase.isDefined) coalesce(col(s"_ph$i"), lit(0.0))
          else r.terms.sorted
            .map(t => coalesce(col(s"`$t`"), lit(0.0)))
            .reduceLeft(_ + _)
        if (r.boost == 1.0) raw else lit(r.boost) * raw
    }
    require(contribs.nonEmpty, "no scoring clause survived expansion")
    val mustPreds: Seq[Column] = resolved.zipWithIndex.collect {
      case (r, i) if r.occur == Must =>
        if (r.phrase.isDefined) col(s"_ph$i").isNotNull
        else r.terms.sorted
          .map(t => col(s"`$t`").isNotNull)
          .reduceLeft(_ || _)
    }
    var out = mustPreds.foldLeft(base)((d, p) => d.filter(p))
      .select(col("docId"),
        round(contribs.reduceLeft(_ + _), 4).as("score"))
    mustNotFrames.foreach { nf =>
      out = out.join(nf.select("docId"), Seq("docId"), "left_anti")
    }
    out.orderBy(desc("score"), asc("docId")).limit(k)
  }

  // ------------------------------------------------------- brute driver

  /** Brute-force execution over a (idCol, textCol) corpus — the oracle
    * form ([[IndexSearch.queryStringTopK]] is the serving path). One
    * corpus tokenize feeds the dictionary, the term pivot, and the gating
    * sets; each phrase clause adds one phrase-scoring pass. */
  def topK(docs: DataFrame, idCol: String, textCol: String, q: String,
      k: Int, maxExpansions: Int = 50): DataFrame = {
    val clauses = parse(q)
    lazy val dict = Analyzer.tokens(docs, idCol, textCol)
      .select("term").distinct()
    val resolved = resolve(clauses,
      (t, d) => Search.fuzzyExpand(dict, "term", t, d)
        .select("term").collect().map(_.getString(0)).toSeq,
      p => dict.filter(col("term").like(globToLike(p)))
        .select("term").collect().map(_.getString(0)).toSeq,
      maxExpansions)
    // a MUST clause with an empty expansion can match nothing
    val emptySchema = docs.select(col(idCol), lit(0.0).as("score")).limit(0)
    if (resolved.exists(r => r.occur == Must && r.phrase.isEmpty &&
        r.terms.isEmpty))
      return emptySchema
    val scoringTerms = resolved
      .filter(r => r.occur != MustNot).flatMap(_.terms).distinct.sorted
    val pivoted =
      if (scoringTerms.isEmpty) None
      else {
        val (p, _) = BruteForce.scorePivot(docs, idCol, textCol, scoringTerms)
        Some(p)
      }
    val phraseFrames = resolved.zipWithIndex.collect {
      case (r, i) if r.phrase.isDefined && r.occur != MustNot =>
        val (slots, slop) = r.phrase.get
        i -> BruteForce.phraseSlopScoreAll(docs, idCol, textCol, slots, slop)
          .select(col("docId"), col("score"))
    }.toMap
    lazy val toks = Analyzer.tokens(docs, idCol, textCol)
    val notFrames = resolved.collect {
      case r if r.occur == MustNot && r.phrase.isDefined =>
        val (slots, slop) = r.phrase.get
        BruteForce.phraseSlopScoreAll(docs, idCol, textCol, slots, slop)
          .select(col("docId"))
      case r if r.occur == MustNot && r.terms.nonEmpty =>
        toks.filter(col("term").isin(r.terms: _*))
          .select(col(idCol).as("docId")).distinct()
    }
    compose(pivoted, resolved, phraseFrames, notFrames, k)
      .withColumnRenamed("docId", idCol)
  }
}
