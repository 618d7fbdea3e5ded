package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analyze.Analyzer

/** Percolation — reverse search: STORED queries are matched against
  * incoming documents (OpenSearch's percolator; in the reference's world
  * this is the alerting/routing direction — Data Prepper routes events to
  * sinks by expression, OpenSearch percolates documents against saved
  * searches). Stored queries are bool term queries
  * `(query_id, must, should, must_not, min_should)` with the engine's
  * bool semantics ([[Search.boolTopK]]): every must term present, no
  * must_not term present, and at least `max(min_should, 1 if no must)`
  * should terms when should is non-empty.
  *
  * Scale shape: the corpus tokenizes ONCE into a per-doc distinct term
  * set and NEVER shuffles; the stored-query table is a dimension —
  * broadcast — and matching is pure set algebra
  * (`array_except`/`array_intersect` sizes) inside one join condition.
  * 10⁹ docs × 10⁴ stored queries is a map-side evaluation per doc, not a
  * shuffle. Matching is a boolean (percolation selects, it does not
  * rank); feed matched doc sets to BM25 if scores are wanted.
  */
object Percolate {

  /** One stored query. Each entry runs through the full analyzer on
    * registration ([[normalize]]): a multi-token or punctuated entry like
    * "data query" or "error-500" decomposes into its tokens (match-query
    * semantics — the document tokens it could actually contain), so a
    * saved alert can never be silently dead because its term holds a
    * character no document token can. */
  final case class StoredQuery(
      queryId: String,
      must: Seq[String] = Nil,
      should: Seq[String] = Nil,
      mustNot: Seq[String] = Nil,
      minShould: Int = 0)

  /** The engine's registration-time normalization of one stored query —
    * full analyzer per entry, duplicates dropped, the effective
    * minimum-should (explicit msm, or the at-least-one rule when there is
    * no must clause). ONE definition shared with the DuckDB oracle so the
    * two cannot drift. Rejects contradictions loudly (a term both must
    * and must_not — the same rule every bool surface applies) and queries
    * that analyze to nothing. */
  def normalize(q: StoredQuery): (String, Seq[String], Seq[String], Seq[String], Int) = {
    def toks(ts: Seq[String]): Seq[String] =
      ts.flatMap(Analyzer.analyzeQuery).distinct
    val (m, s, n) = (toks(q.must), toks(q.should), toks(q.mustNot))
    require(m.nonEmpty || s.nonEmpty,
      s"stored query '${q.queryId}' analyzes to no must/should terms")
    require(m.intersect(n).isEmpty,
      s"stored query '${q.queryId}': a term cannot be must AND must_not")
    val eff = if (s.isEmpty) 0 else math.max(q.minShould, if (m.isEmpty) 1 else 0)
    (q.queryId, m, s, n, eff)
  }

  /** (docId, query_id) pairs for every document × stored-query match.
    * One tokenize projection over docs + one broadcast join. */
  def percolate(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[StoredQuery]): DataFrame = {
    require(queries.nonEmpty, "percolate needs at least one stored query")
    require(!Set("_pc_terms", "query_id", "q_must", "q_should", "q_not",
        "q_min")(idCol),
      s"idCol '$idCol' collides with a percolate working column")
    require(queries.map(_.queryId).distinct.size == queries.size,
      "stored query ids must be unique")
    val spark = docs.sparkSession
    import spark.implicits._
    val qdf = queries.map(normalize)
      .toDF("query_id", "q_must", "q_should", "q_not", "q_min")
    val toks = docs.select(col(idCol),
      array_distinct(Analyzer.tokensCol(col(textCol))).as("_pc_terms"))
    val matchCond =
      size(array_except(col("q_must"), col("_pc_terms"))) === 0 &&
        size(array_intersect(col("q_not"), col("_pc_terms"))) === 0 &&
        size(array_intersect(col("q_should"), col("_pc_terms"))) >= col("q_min")
    toks.join(broadcast(qdf), matchCond)
      .select(col(idCol), col("query_id"))
  }
}
