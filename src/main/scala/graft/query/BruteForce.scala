package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.analyze.Analyzer

/** Brute-force DataFrame BM25 scorer — the oracle the WAND executor must
  * match rank-identically (FIXTURES.md §2).
  *
  * Whole-corpus scan, no index: tokenize → tf → per-term score columns →
  * fixed-order sum → orderBy(score desc, docId asc).limit(k). Trustworthy
  * because it is ~30 lines of declarative Catalyst plan; also serves as the
  * scale path for one-off analytical scoring (it is a single pass with one
  * shuffle on (docId, term) and one on docId).
  *
  * Determinism contract (SURVEY.md §7.5): scores per (term, doc) use the
  * exact [[Bm25]] operand order, and per-doc totals are accumulated over
  * query terms in ascending term order via a *pivoted* fixed expression —
  * never a groupBy-sum over doubles whose accumulation order floats.
  */
object BruteForce {

  /** BM25 score column with operand order identical to [[Bm25.score]]. */
  def scoreCol(tf: Column, dl: Column, df: Column, n: Long, avgdl: Double): Column = {
    val nd = lit(n.toDouble)
    val idf = log(lit(1.0) + ((nd - df.cast("double")) + lit(0.5)) / (df.cast("double") + lit(0.5)))
    idf * ((tf.cast("double") * lit(2.2)) /
      (tf.cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) * (dl.cast("double") / lit(avgdl)))))
  }

  /** Score EVERY matching doc — (docId, score), unordered. The top-k entry
    * wraps this with TakeOrdered; callers that re-rank on rounded scores
    * (the oracle gates) consume it directly instead of asking topK for
    * n rows (which would heap-sort the whole corpus per partition and
    * needs a count() job just to learn n — VERDICT r1 plan audit). */
  def scoreAll(docs: DataFrame, idCol: String, textCol: String,
      query: Seq[String]): DataFrame = {
    val (pivoted, terms) = scorePivot(docs, idCol, textCol, query)
    val total = terms.map(t => coalesce(col(s"`$t`"), lit(0.0))).reduceLeft(_ + _)
    pivoted.select(col("docId"), total.as("score"))
  }

  /** Per-term pivoted BM25 scores: (docId, one double column per distinct
    * query term — null where the term is absent from the doc) plus the
    * ascending term order every fixed-order accumulation uses. The shared
    * scaffolding behind [[scoreAll]] and the dis_max / boosted-term brute
    * scorers. */
  def scorePivot(docs: DataFrame, idCol: String, textCol: String,
      query: Seq[String]): (DataFrame, Seq[String]) = {
    val terms = query.distinct.sorted
    val spark = docs.sparkSession

    val withDl = docs.select(col(idCol).as("docId"),
      Analyzer.tokensCol(col(textCol)).as("toks"))
      .select(col("docId"), col("toks"), size(col("toks")).cast("long").as("dl"))

    // exact global stats from integer aggregates (deterministic doubles)
    val (n, sumDl) = {
      import spark.implicits._
      withDl.agg(count(lit(1)), sum(col("dl"))).as[(Long, Long)].head()
    }
    val avgdl = sumDl.toDouble / n.toDouble

    val tf = withDl.select(col("docId"), col("dl"), explode(col("toks")).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy(col("docId"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df_, "term")
      .select(col("docId"),
        col("term"),
        scoreCol(col("tf"), col("dl"), col("df"), n, avgdl).as("s"))

    // pivot to one column per query term → fixed-order accumulations
    (scored.groupBy(col("docId")).pivot("term", terms).agg(first(col("s"))),
      terms)
  }

  /** Top-k over a docs table `(idCol, textCol)` for an OR-semantics query.
    * Returns (docId, score), k rows, ordered (score desc, docId asc). */
  def topK(docs: DataFrame, idCol: String, textCol: String,
      query: Seq[String], k: Int): DataFrame =
    scoreAll(docs, idCol, textCol, query)
      .orderBy(desc("score"), asc("docId"))
      .limit(k)

  /** Brute-force EXACT PHRASE scorer — the oracle [[graft.query.Phrase]]
    * must match rank-identically, and itself the DuckDB-replayable gate
    * surface (q_phrase_topk). Semantics documented on [[Phrase]]: a match
    * is a strictly consecutive token run; `phrase_tf` = match starts;
    * score = BM25(tf = phrase_tf, idf = Σ slot idfs — duplicate slot terms
    * count per slot).
    *
    * Per-doc matching is one narrow Column fold (`filter` over candidate
    * start positions with `element_at` equality per slot); the only
    * aggregates are the corpus stats and the per-distinct-term dfs —
    * a 100 TB phrase scan never shuffles match rows. */
  def phraseScoreAll(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val m = phrase.length
    val spark = docs.sparkSession
    import spark.implicits._

    val withDl = docs.select(col(idCol).as("docId"),
      Analyzer.tokensCol(col(textCol)).as("toks"))
      .select(col("docId"), col("toks"), size(col("toks")).cast("long").as("dl"))

    val (n, sumDl) =
      withDl.agg(count(lit(1)), sum(col("dl"))).as[(Long, Long)].head()
    val avgdl = sumDl.toDouble / n.toDouble

    val distinctTerms = phrase.distinct
    val dfMap = withDl
      .select(explode(array_distinct(col("toks"))).as("term"))
      .where(col("term").isin(distinctTerms: _*))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .as[(String, Long)].collect().toMap
    // slot order fold — identical to IndexReader.phraseTopK's
    val idfSum = phrase.map(t => Bm25.idf(n, dfMap.getOrElse(t, 0L))).sum

    val starts = when(size(col("toks")) >= m,
      sequence(lit(1), size(col("toks")) - (m - 1)))
      .otherwise(array().cast("array<int>"))
    val matched = filter(starts, i =>
      phrase.zipWithIndex.map { case (t, j) =>
        element_at(col("toks"), i + lit(j)) === lit(t)
      }.reduceLeft(_ && _))
    val ptf = size(matched).cast("long")

    withDl.select(col("docId"), ptf.as("phrase_tf"), col("dl"))
      .where(col("phrase_tf") > 0)
      .select(col("docId"), col("phrase_tf"),
        (lit(idfSum) * ((col("phrase_tf").cast("double") * lit(2.2)) /
          (col("phrase_tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) * (col("dl").cast("double") / lit(avgdl))))))
          .as("score"))
  }

  /** Phrase top-k: (docId, phrase_tf, score), ordered (score desc,
    * docId asc), k rows. */
  def phraseTopK(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String], k: Int): DataFrame =
    phraseScoreAll(docs, idCol, textCol, phrase)
      .orderBy(desc("score"), asc("docId"))
      .limit(k)

  /** Brute-force ORDERED-PROXIMITY phrase scorer (the engine's
    * `match_phrase` + `slop` contract, mirrored by
    * [[graft.query.Phrase]]'s slop path and the q_phrase_slop oracle).
    *
    * Semantics (minimal-stretch ordered match): a start is an occurrence
    * p₀ of slot 0; for each later slot j the GREEDY chain picks the
    * smallest position pⱼ > pⱼ₋₁ where slot j's term occurs; the start
    * matches when the chain exists and its stretch
    * `p_{m-1} − p₀ − (m−1)` ≤ `slop` (extra non-phrase tokens allowed
    * between slots, order preserved). Greedy-minimal pⱼ minimizes
    * p_{m-1}, so the test accepts exactly the starts for which ANY
    * ordered chain within the stretch budget exists; `slop = 0` is the
    * exact consecutive match of [[phraseScoreAll]] (PhraseSpec pins the
    * equivalence corpus-wide). `phrase_tf` = matching starts; score =
    * BM25(tf = phrase_tf, idf = Σ slot idfs) — identical arithmetic to
    * the exact phrase scorer.
    *
    * Matching runs as a ONE-PASS JVM kernel (documented UDF seam, the
    * same pattern as [[graft.ops.Dedup.shingles]]): tokenize once via
    * [[Analyzer.termPositionsLocal]], then the greedy chain walks the
    * per-slot position lists with monotone pointers — O(dl + Σ tf) per
    * document. The first cut was nested higher-order `filter` Columns;
    * Catalyst inlines the position-array aliases into the lambdas
    * (CollapseProject), re-running the full `lower`+`split` tokenizer per
    * start element — a ~600× per-row blowup observed in PhraseSpec. The
    * kernel is the scale-true form; the DuckDB oracle replays the chain
    * independently as nested list_filter lambdas. No shuffle beyond the
    * stats aggregates: a 100 TB slop-phrase scan never shuffles match
    * rows. */
  def phraseSlopScoreAll(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String], slop: Int): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    require(slop >= 0, "slop must be >= 0")
    val m = phrase.length
    val spark = docs.sparkSession
    import spark.implicits._

    val withDl = docs.select(col(idCol).as("docId"),
      Analyzer.tokensCol(col(textCol)).as("toks"))
      .select(col("docId"), col("toks"), size(col("toks")).cast("long").as("dl"))

    val (n, sumDl) =
      withDl.agg(count(lit(1)), sum(col("dl"))).as[(Long, Long)].head()
    val avgdl = sumDl.toDouble / n.toDouble

    val distinctTerms = phrase.distinct
    val dfMap = withDl
      .select(explode(array_distinct(col("toks"))).as("term"))
      .where(col("term").isin(distinctTerms: _*))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .as[(String, Long)].collect().toMap
    val idfSum = phrase.map(t => Bm25.idf(n, dfMap.getOrElse(t, 0L))).sum

    val ph = phrase.toArray
    val sl = slop
    val ptfKernel = udf { (toks: Seq[String]) =>
      if (toks == null) 0L else BruteForce.slopPhraseTf(toks, ph, sl)
    }
    val ptf = ptfKernel(col("toks"))

    withDl.select(col("docId"), ptf.as("phrase_tf"), col("dl"))
      .where(col("phrase_tf") > 0)
      .select(col("docId"), col("phrase_tf"),
        (lit(idfSum) * ((col("phrase_tf").cast("double") * lit(2.2)) /
          (col("phrase_tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) * (col("dl").cast("double") / lit(avgdl))))))
          .as("score"))
  }

  /** Slop-phrase top-k: (docId, phrase_tf, score), ordered (score desc,
    * docId asc), k rows. */
  def phraseSlopTopK(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String], slop: Int, k: Int): DataFrame =
    phraseSlopScoreAll(docs, idCol, textCol, phrase, slop)
      .orderBy(desc("score"), asc("docId"))
      .limit(k)

  /** Brute-force `match_phrase_prefix` scorer (OpenSearch's
    * search-as-you-type query; [[graft.query.IndexSearch.phrasePrefixTopK]]
    * is the index-served form): the phrase's LAST term is a PREFIX — it
    * expands against the corpus dictionary (ascending, capped at
    * `maxExpansions`, the engine's expansion contract) and the last slot
    * matches ANY expansion term. Slots 0..m−2 match exactly; `slop`
    * stretches the chain with [[phraseSlopScoreAll]]'s greedy
    * minimal-stretch semantics (slop = 0 = consecutive).
    *
    * Scoring: BM25 with tf = phrase_tf and idf = Σ exact-slot idfs +
    * idf(df_union), where df_union = number of docs containing AT LEAST
    * ONE expansion term — the prefix slot's actual selectivity (a
    * per-expansion-term idf sum would inflate with the expansion size).
    * Returns (docId, phrase_tf, score), matching docs only. */
  def phrasePrefixScoreAll(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String], slop: Int = 0, maxExpansions: Int = 50)
      : DataFrame = {
    require(phrase.length >= 2,
      "match_phrase_prefix needs >= 2 slots (use a prefix query for 1)")
    require(slop >= 0, "slop must be >= 0")
    val exact = phrase.init.map(Analyzer.lowerLikeCatalyst)
    val prefix = Analyzer.lowerLikeCatalyst(phrase.last)
    val spark = docs.sparkSession
    import spark.implicits._

    val withDl = docs.select(col(idCol).as("docId"),
      Analyzer.tokensCol(col(textCol)).as("toks"))
      .select(col("docId"), col("toks"),
        size(col("toks")).cast("long").as("dl"))

    val (n, sumDl) =
      withDl.agg(count(lit(1)), sum(col("dl"))).as[(Long, Long)].head()
    val avgdl = sumDl.toDouble / n.toDouble

    val terms = withDl
      .select(col("docId"), explode(array_distinct(col("toks"))).as("term"))
    val expansion = terms.select("term").distinct()
      .filter(col("term").startsWith(prefix))
      .as[String].collect().sorted.take(maxExpansions).toSeq
    val empty = withDl.select(col("docId"), lit(0L).as("phrase_tf"),
      lit(0.0).as("score")).limit(0)
    if (expansion.isEmpty) return empty

    val dfMap = terms.where(col("term").isin(exact.distinct: _*))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .as[(String, Long)].collect().toMap
    val dfUnion = terms.where(col("term").isin(expansion: _*))
      .select("docId").distinct().count()
    val idfSum = exact.map(t => Bm25.idf(n, dfMap.getOrElse(t, 0L))).sum +
      Bm25.idf(n, dfUnion)

    val (ex, sl) = (exact.toArray, slop)
    val expSet = new java.util.HashSet[String](
      scala.jdk.CollectionConverters.SeqHasAsJava(expansion).asJava)
    val ptfKernel = udf { (toks: Seq[String]) =>
      if (toks == null) 0L else BruteForce.prefixPhraseTf(toks, ex, expSet, sl)
    }
    withDl.select(col("docId"), ptfKernel(col("toks")).as("phrase_tf"),
        col("dl"))
      .where(col("phrase_tf") > 0)
      .select(col("docId"), col("phrase_tf"),
        (lit(idfSum) * ((col("phrase_tf").cast("double") * lit(2.2)) /
          (col("phrase_tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) * (col("dl").cast("double") / lit(avgdl))))))
          .as("score"))
  }

  /** Prefix-phrase top-k: (docId, phrase_tf, score), ordered
    * (score desc, docId asc), k rows. */
  def phrasePrefixTopK(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String], slop: Int, k: Int, maxExpansions: Int = 50)
      : DataFrame =
    phrasePrefixScoreAll(docs, idCol, textCol, phrase, slop, maxExpansions)
      .orderBy(desc("score"), asc("docId"))
      .limit(k)

  /** One-pass prefix-phrase match counter: per-slot ascending position
    * lists (last slot = any expansion-set member) feed the SHARED counting
    * kernels ([[Phrase.slotTf]]) — the index path counts over identical
    * arrays decoded from positional postings. */
  private[query] def prefixPhraseTf(toks: Seq[String], exact: Array[String],
      exp: java.util.HashSet[String], slop: Int): Long = {
    val byTerm = new java.util.HashMap[String, java.util.ArrayList[Long]]()
    exact.foreach(t =>
      byTerm.putIfAbsent(t, new java.util.ArrayList[Long]()))
    val lastList = new java.util.ArrayList[Long]()
    var i = 0
    val it = toks.iterator
    while (it.hasNext) {
      val t = it.next()
      val l = byTerm.get(t)
      if (l != null) l.add(i.toLong)
      if (exp.contains(t)) lastList.add(i.toLong)
      i += 1
    }
    if (lastList.isEmpty) return 0L
    val arrs = new Array[(Array[Long], Int, Int)](exact.length + 1)
    var j = 0
    while (j < exact.length) {
      val l = byTerm.get(exact(j))
      if (l.isEmpty) return 0L
      val a = new Array[Long](l.size())
      var q = 0
      while (q < a.length) { a(q) = l.get(q); q += 1 }
      arrs(j) = (a, 0, a.length)
      j += 1
    }
    val last = new Array[Long](lastList.size())
    var q = 0
    while (q < last.length) { last(q) = lastList.get(q); q += 1 }
    arrs(exact.length) = (last, 0, last.length)
    Phrase.slotTf(arrs, slop)
  }

  /** Greedy minimal-stretch ordered match count over one token list —
    * the [[phraseSlopScoreAll]] kernel. Per-slot ascending position lists
    * come from one pass over `toks`; each slot keeps a monotone pointer
    * across starts (greedy picks are monotone in p₀), so matching is
    * O(Σ slot tf) after the O(dl) scan. */
  private[query] def slopPhraseTf(toks: Seq[String], phrase: Array[String],
      slop: Int): Long = {
    val m = phrase.length
    // boxed Integer values: get() on an absent key must be null, not the
    // unboxed zero a HashMap[String, Int] would silently return
    val want = new java.util.HashMap[String, Integer]()
    var j = 0
    while (j < m) { want.putIfAbsent(phrase(j), Integer.valueOf(j)); j += 1 }
    // per-DISTINCT-term position lists in one pass; slots share by term
    val perTerm = new Array[java.util.ArrayList[Int]](m)
    j = 0
    while (j < m) {
      if (want.get(phrase(j)).intValue == j)
        perTerm(j) = new java.util.ArrayList[Int]()
      j += 1
    }
    var i = 0
    val it = toks.iterator
    while (it.hasNext) {
      val owner = want.get(it.next())
      if (owner != null) perTerm(owner.intValue).add(i)
      i += 1
    }
    val slot = Array.tabulate(m)(j => perTerm(want.get(phrase(j)).intValue))
    if (slot.exists(_.isEmpty)) return 0L
    val ptr = new Array[Int](m)
    var count = 0L
    val p0 = slot(0)
    var a = 0
    while (a < p0.size()) {
      var prev = p0.get(a)
      var ok = true
      j = 1
      while (ok && j < m) {
        val pj = slot(j)
        var q = ptr(j)
        while (q < pj.size() && pj.get(q) <= prev) q += 1
        ptr(j) = q
        if (q < pj.size()) prev = pj.get(q) else ok = false
        j += 1
      }
      if (ok && prev - p0.get(a) - (m - 1) <= slop) count += 1
      a += 1
    }
    count
  }
}
