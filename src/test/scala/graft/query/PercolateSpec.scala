package graft.query

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.query.Percolate.StoredQuery

/** Percolation semantics: hand-derived matches on a tiny corpus plus a
  * differential — a doc percolates a query iff it is in that query's
  * unbounded boolTopK match set. */
class PercolateSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "spark shuffle join window"),
    (2L, "spark hash join"),
    (3L, "the quick data query plan"),
    (4L, "window shuffle only"),
    (5L, "The SPARK of data")).toDF("docId", "text")

  test("bool gates: must / mustNot / should msm / no-must should>=1") {
    val out = Percolate.percolate(docs, "docId", "text", Seq(
        StoredQuery("spark", must = Seq("Spark")), // normalized on entry
        StoredQuery("spark-no-hash", must = Seq("spark"), mustNot = Seq("hash")),
        StoredQuery("two-of", should = Seq("join", "window", "shuffle"),
          minShould = 2),
        StoredQuery("should-only", should = Seq("data"))))
      .as[(Long, String)].collect().toSet
    assert(out == Set(
      (1L, "spark"), (2L, "spark"), (5L, "spark"),
      (1L, "spark-no-hash"), (5L, "spark-no-hash"),
      (1L, "two-of"), (4L, "two-of"),
      (3L, "should-only"), (5L, "should-only")))
  }

  test("differential: percolates(q) ≡ boolTopK(q) match set, per query") {
    val queries = Seq(
      StoredQuery("a", must = Seq("spark"), mustNot = Seq("hash")),
      StoredQuery("b", should = Seq("data", "plan"), minShould = 1),
      StoredQuery("c", must = Seq("spark"), should = Seq("join", "window"),
        minShould = 2))
    val out = Percolate.percolate(docs, "docId", "text", queries)
      .as[(Long, String)].collect().groupBy(_._2)
      .view.mapValues(_.map(_._1).toSet).toMap
    queries.foreach { q =>
      val expect = Search.boolTopK(docs, "docId", "text",
          q.must, q.should, q.mustNot, 1000, minShouldMatch = q.minShould)
        .select("docId").as[Long].collect().toSet
      assert(out.getOrElse(q.queryId, Set.empty) == expect,
        s"query ${q.queryId} diverged from boolTopK")
    }
  }

  test("registration analyzes entries: multi-token and punctuated terms decompose") {
    // "spark join" → must spark AND join (match-query semantics);
    // "hash-join" → hash AND join via the analyzer's punctuation split
    val out = Percolate.percolate(docs, "docId", "text", Seq(
        StoredQuery("both", must = Seq("spark join")),
        StoredQuery("dashed", must = Seq("hash-join"))))
      .as[(Long, String)].collect().toSet
    assert(out == Set((1L, "both"), (2L, "both"), (2L, "dashed")))
    assert(Percolate.normalize(StoredQuery("n", must = Seq("Hash-Join", "join")))
      ._2 == Seq("hash", "join"))
  }

  test("idCol naming a percolate working column is rejected") {
    for (c <- Seq("_pc_terms", "query_id", "q_must", "q_should", "q_not", "q_min")) {
      val renamed = docs.withColumnRenamed("docId", c)
      val e = intercept[IllegalArgumentException] {
        Percolate.percolate(renamed, c, "text", Seq(StoredQuery("q", must = Seq("spark"))))
      }
      assert(e.getMessage.contains(c))
    }
  }

  test("invalid inputs fail loudly") {
    intercept[IllegalArgumentException] {
      Percolate.percolate(docs, "docId", "text", Seq(StoredQuery("empty")))
    }
    intercept[IllegalArgumentException] {
      Percolate.percolate(docs, "docId", "text",
        Seq(StoredQuery("d", must = Seq("x")), StoredQuery("d", must = Seq("y"))))
    }
    // a term both must and must_not is a contradiction, rejected like
    // every other bool surface (a silently-dead alert otherwise)
    intercept[IllegalArgumentException] {
      Percolate.normalize(StoredQuery("c", must = Seq("x"), mustNot = Seq("X")))
    }
    // punctuation-only term analyzes to nothing
    intercept[IllegalArgumentException] {
      Percolate.normalize(StoredQuery("p", must = Seq("---")))
    }
  }
}
