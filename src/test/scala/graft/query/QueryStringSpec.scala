package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.corpus.SyntheticCorpus
import graft.index.{IndexBuilder, IndexParams}

/** query_string mini-language: parser unit behavior, equivalence of the
  * sugar to the dedicated query types, and brute ≡ index rank identity on
  * a positional index (tiny blocks/shards so clauses cross boundaries). */
class QueryStringSpec extends AnyFunSuite {

  import QueryString._

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val indexDir = TestSpark.tmpDir("graft-qs-idx")
  private lazy val search: IndexSearch = {
    val pages = SyntheticCorpus.generate(spark, 400, seed = 23L, partitions = 4)
    new IndexBuilder(spark, indexDir,
      IndexParams(buckets = 4, shardSize = 64, blockSize = 8,
        buildPartitions = 4, positions = true))
      .build(pages, "synthetic(seed=23,n=400)")
    new IndexSearch(spark, indexDir)
  }
  private lazy val docs: DataFrame = {
    search
    spark.read.parquet(s"$indexDir/docs").select("docId", "text")
  }

  /** The most common corpus bigram — a phrase clause that actually hits. */
  private lazy val bigram: Seq[String] = {
    val toks = docs.select(graft.analyze.Analyzer.tokensCol($"text").as("l"))
    toks.select(explode(expr(
        "transform(sequence(1, greatest(size(l) - 1, 0)), " +
          "i -> concat_ws(' ', slice(l, i, 2)))")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("g")).head().getString(0).split(' ').toSeq
  }

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.select(col("docId").cast("long"), col("score"))
      .as[(Long, Double)].collect().toSeq

  // ------------------------------------------------------------- parser

  test("parser: occurs, boosts, phrases, slop, fuzzy, wildcard") {
    assert(parse("spark") == Seq(TermClause("spark", Should, 1.0)))
    assert(parse("+a -b c") == Seq(TermClause("a", Must, 1.0),
      TermClause("b", MustNot, 1.0), TermClause("c", Should, 1.0)))
    assert(parse("merge^2.5") == Seq(TermClause("merge", Should, 2.5)))
    assert(parse("\"window sort\"") ==
      Seq(PhraseClause(Seq("window", "sort"), 0, Should, 1.0)))
    assert(parse("+\"a b c\"~2^3") ==
      Seq(PhraseClause(Seq("a", "b", "c"), 2, Must, 3.0)))
    assert(parse("sprk~") == Seq(FuzzyClause("sprk", 1, Should, 1.0)))
    assert(parse("sprk~2^0.5") == Seq(FuzzyClause("sprk", 2, Should, 0.5)))
    assert(parse("st*m") == Seq(WildClause("st*m", Should, 1.0)))
    assert(parse("-w?ld* x") == Seq(WildClause("w?ld*", MustNot, 1.0),
      TermClause("x", Should, 1.0)))
    // normalization matches the analyzer
    assert(parse("SPARK") == Seq(TermClause("spark", Should, 1.0)))
  }

  test("parser: malformed inputs refuse loudly") {
    assertThrows[IllegalArgumentException](parse(""))
    assertThrows[IllegalArgumentException](parse("\"unterminated"))
    assertThrows[IllegalArgumentException](parse("a^x"))
    assertThrows[IllegalArgumentException](parse("\"a b\"~x"))
    assertThrows[IllegalArgumentException](parse("a~z"))
    assertThrows[IllegalArgumentException](parse("-only -nots"))
    assertThrows[IllegalArgumentException](parse("w*ld~1"))
  }

  // ----------------------------------------- sugar ≡ dedicated queries

  test("terms-only query_string ≡ boolTopK") {
    val qs = rows(topK(docs, "docId", "text", "+the w00002 -w00004", 15))
    val bool = rows(Search.boolTopK(docs, "docId", "text",
      Seq("the"), Seq("w00002"), Seq("w00004"), 15))
    assert(qs == bool)
  }

  test("boosted query_string ≡ boostedTopK") {
    val qs = rows(topK(docs, "docId", "text", "the^2 w00002", 15))
    val b = rows(Search.boostedTopK(docs, "docId", "text",
      Seq(("the", 2.0), ("w00002", 1.0)), 15))
    assert(qs == b)
  }

  test("pure-phrase query_string ≡ rounded phrase top-k") {
    val qs = rows(topK(docs, "docId", "text",
      "\"" + bigram.mkString(" ") + "\"", 10))
    val ph = BruteForce.phraseSlopScoreAll(docs, "docId", "text", bigram, 0)
      .select(col("docId"), round(col("score"), 4).as("score"))
      .orderBy(desc("score"), asc("docId")).limit(10)
    assert(qs == rows(ph))
    assert(qs.nonEmpty)
  }

  test("fuzzy query_string ≡ fuzzyTopK") {
    val qs = rows(topK(docs, "docId", "text", "thw~1", 10))
    val fz = rows(Search.fuzzyTopK(docs, "docId", "text", Seq("thw"), 10, 1))
    assert(qs == fz)
  }

  // ------------------------------------------------- brute ≡ index-served

  test("kitchen-sink query: brute ≡ index, rank and rounded-score identical") {
    val qstr = s"""+the w00002^2 "${bigram.mkString(" ")}"~1 -w00004 w0000* thw~1"""
    val brute = rows(topK(docs, "docId", "text", qstr, 20, maxExpansions = 8))
    val served = rows(search.queryStringTopK(qstr, 20, maxExpansions = 8))
    assert(brute.nonEmpty)
    assert(served == brute, s"query_string diverged:\n brute=$brute\n index=$served")
  }

  test("wildcard over more than maxExpansions terms: brute ≡ index") {
    val qstr = "w000* +the"
    assert(search.termStats.filter(col("term").like("w000%")).count() > 3)
    val brute = rows(topK(docs, "docId", "text", qstr, 20, maxExpansions = 3))
    val served = rows(search.queryStringTopK(qstr, 20, maxExpansions = 3))
    assert(brute.nonEmpty)
    assert(served == brute, s"query_string diverged:\n brute=$brute\n index=$served")
    // the cap decides the answer: the first 3 terms only, not all of them
    assert(served != rows(search.queryStringTopK(qstr, 20, maxExpansions = 50)))
  }

  test("no-must query: phrase-only docs still enter the union") {
    val qstr = s""""${bigram.mkString(" ")}" w00002"""
    val brute = rows(topK(docs, "docId", "text", qstr, 25))
    val served = rows(search.queryStringTopK(qstr, 25))
    assert(served == brute)
    // phrase contributions actually present: top result beats pure-term score
    val termOnly = rows(search.boolTopK(Nil, Seq("w00002"), Nil, 25)).toMap
    assert(brute.exists { case (id, s) =>
      s > termOnly.getOrElse(id, 0.0) + 1e-9 })
  }

  test("must phrase gates; must_not phrase excludes") {
    val ph = "\"" + bigram.mkString(" ") + "\""
    val mustPh = rows(topK(docs, "docId", "text", s"+$ph the", 30))
    val servedMust = rows(search.queryStringTopK(s"+$ph the", 30))
    assert(servedMust == mustPh)
    val matchSet = BruteForce.phraseSlopScoreAll(docs, "docId", "text", bigram, 0)
      .select("docId").as[Long].collect().toSet
    assert(mustPh.nonEmpty && mustPh.forall(r => matchSet(r._1)))
    val notPh = rows(topK(docs, "docId", "text", s"-$ph the", 30))
    val servedNot = rows(search.queryStringTopK(s"-$ph the", 30))
    assert(servedNot == notPh)
    assert(notPh.nonEmpty && !notPh.exists(r => matchSet(r._1)))
  }

  test("must clause with empty expansion matches nothing, schema intact") {
    val brute = topK(docs, "docId", "text", "+zzzz* the", 10)
    val served = search.queryStringTopK("+zzzz* the", 10)
    assert(brute.columns.toSeq == Seq("docId", "score"))
    assert(served.columns.toSeq == Seq("docId", "score"))
    assert(brute.count() == 0 && served.count() == 0)
    // an empty SHOULD expansion just drops out
    val b2 = rows(topK(docs, "docId", "text", "zzzz* the", 10))
    assert(b2 == rows(search.queryStringTopK("zzzz* the", 10)))
    assert(b2.nonEmpty)
  }
}
