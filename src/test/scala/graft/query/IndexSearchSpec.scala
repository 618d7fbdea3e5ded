package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.corpus.SyntheticCorpus
import graft.index.{IndexBuilder, IndexParams}

/** Index-served search API ≡ the brute-force corpus-scan forms, bit-for-bit
  * on (docId, rounded score) — and the index plans never touch the corpus.
  * The brute [[Search]] forms stay as the oracle (they are themselves
  * DuckDB-replayed by the q_bool_topk / q_mlt_* / q_suggest /
  * q_search_facets gates).
  */
class IndexSearchSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val indexDir = TestSpark.tmpDir("graft-idx-search")
  private lazy val search: IndexSearch = {
    val pages = SyntheticCorpus.generate(spark, 800, seed = 11L, partitions = 5)
    new IndexBuilder(spark, indexDir,
      IndexParams(buckets = 8, shardSize = 128, blockSize = 32,
        buildPartitions = 5))
      .build(pages, "synthetic(seed=11,n=800)")
    new IndexSearch(spark, indexDir)
  }
  private lazy val docs: DataFrame = {
    search // force the build before reading its docs artifact
    spark.read.parquet(s"$indexDir/docs").select("docId", "text", "lang")
  }

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.select(col("docId").cast("long"), col("score"))
      .as[(Long, Double)].collect().toSeq

  /** Second FIELD over the same url set: first-8-token "title". Built as
    * its own index (field-local stats, Lucene semantics); docIds align
    * with the text index because docId assignment is a pure function of
    * the url set. */
  private lazy val titleIndexDir = TestSpark.tmpDir("graft-idx-title")
  private lazy val titleSearch: IndexSearch = {
    search // text index first (shared corpus build)
    val titled = graft.corpus.SyntheticCorpus.titleField(
      spark.read.parquet(s"$indexDir/docs").select("url", "text", "lang"))
    new IndexBuilder(spark, titleIndexDir,
      IndexParams(buckets = 8, shardSize = 128, blockSize = 32,
        buildPartitions = 5))
      .build(titled, "titles(seed=11,n=800)")
    new IndexSearch(spark, titleIndexDir)
  }

  test("boolTopK ≡ brute Search.boolTopK across must/should/mustNot shapes") {
    val cases = Seq(
      (Seq("the"), Seq("w00002"), Seq("w00004"), 15),
      (Seq("the", "of"), Nil, Nil, 10),
      (Nil, Seq("w00001", "w00003"), Seq("the"), 20),
      (Seq("w00007"), Seq("w00002", "of"), Seq("w00011", "w00013"), 12))
    for ((must, should, not, k) <- cases) {
      val brute = rows(Search.boolTopK(docs, "docId", "text", must, should, not, k))
      val served = rows(search.boolTopK(must, should, not, k))
      assert(served == brute, s"bool($must | $should | -$not, k=$k) diverged:\n" +
        s" brute=$brute\n index=$served")
    }
  }

  test("fuzzyTopK ≡ brute Search.fuzzyTopK (expansion from termstats)") {
    for ((q, d, k) <- Seq((Seq("thw"), 1, 10), (Seq("w0000"), 1, 15),
        (Seq("qqqqqq"), 1, 5))) {
      val brute = rows(Search.fuzzyTopK(docs, "docId", "text", q, k, d)
        .withColumnRenamed("docId", "docId"))
      val served = rows(search.fuzzyTopK(q, k, d))
      assert(served == brute, s"fuzzy($q, d=$d) diverged")
    }
  }

  test("moreLikeThisTerms ≡ brute (tf desc, df asc, term asc)") {
    val brute = Search.moreLikeThisTerms(docs, "docId", "text", 17L, 8)
      .as[(String, Long, Long)].collect().toSeq
    val served = search.moreLikeThisTerms(17L, 8)
      .as[(String, Long, Long)].collect().toSeq
    assert(served == brute)
  }

  test("moreLikeThisTopK ≡ brute, source doc excluded") {
    val brute = rows(Search.moreLikeThisTopK(docs, "docId", "text", 17L, 8, 10))
    val served = rows(search.moreLikeThisTopK(17L, 8, 10))
    assert(served == brute)
    assert(!served.exists(_._1 == 17L))
  }

  test("facets ≡ brute full-match-set bucket counts") {
    val brute = Search.facets(docs, "docId", "text", Seq("w00002", "w00005"), "lang")
      .as[(String, Long)].collect().toMap
    val served = search.facets(Seq("w00002", "w00005"), "lang")
      .as[(String, Long)].collect().toMap
    assert(served == brute)
  }

  test("suggest ≡ brute dictionary suggester (freq = total_tf)") {
    val bruteDict = graft.analyze.Analyzer.tokens(docs, "docId", "text")
      .groupBy("term").agg(count(lit(1)).as("freq"))
    val brute = Search.suggest(bruteDict, "term", "freq", "thw", 2, 5)
      .select("term", "freq", "dist").as[(String, Long, Int)].collect().toSeq
    val served = search.suggest("thw", 2, 5)
      .select("term", "freq", "dist").as[(String, Long, Int)].collect().toSeq
    assert(served == brute)
  }

  test("driver-side facet counts and mlt ranking agree with Spark's groupBy and orderBy") {
    // U+FF01 sorts after U+1F600 in UTF-16 (String.compareTo) and before it
    // in UTF-8 bytes, the order Spark sorts strings in
    val tv = Array(("！", 2L, 5L), ("😀", 2L, 5L), ("b", 2L, 5L),
      ("a", 2L, 7L), ("c", 3L, 9L), ("d", 1L, 1L))
    for (m <- 1 to tv.length) {
      val viaSpark = tv.toSeq.toDF("term", "tf", "df")
        .orderBy(desc("tf"), col("df"), col("term")).limit(m)
        .as[(String, Long, Long)].collect().toSeq
      assert(IndexSearch.mltHead(tv, m).toSeq == viaSpark, s"m = $m")
    }
    val field = org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType)
    val dv = PostingStore.DocValues(Array(1L, 3L, 4L, 6L, 9L),
      Array("en", null, "de", null, "en"), field, 0L)
    val ids = Array(9L, 1L, 3L, 6L, 7L)
    val viaSpark = Seq((1L, "en"), (3L, null), (4L, "de"), (6L, null), (9L, "en"))
      .toDF("docId", "lang").join(ids.toSeq.toDF("docId"), Seq("docId"), "left_semi")
      .groupBy("lang").agg(count(lit(1)).as("doc_count"))
      .as[(String, Long)].collect().toSet
    assert(IndexSearch.facetCounts(dv, ids).map(r => (r.getString(0), r.getLong(1))).toSet ==
      viaSpark)
    assert(viaSpark == Set(("en", 2L), (null, 2L)))
  }

  test("served plans read postings/termstats/tf — never the corpus text") {
    // a served bool executes one of two plans: the segment scan the
    // driver route collects, or the distributed route's shard fan-out
    val driverScan = search.reader.segmentsFor(Seq("the", "w00002", "w00004"),
      positions = false)
    // the distributed reader stores no doc values, so facets plan in Spark
    // there; the driver reader counts them locally
    val distributed = new IndexSearch(spark, new IndexReader(spark, indexDir, -1L))
    val fanOut = distributed.boolTopK(Seq("the"), Seq("w00002"), Seq("w00004"), 10)
    for (boolPlan <- Seq(driverScan.queryExecution.executedPlan.toString,
        fanOut.queryExecution.executedPlan.toString)) {
      assert(boolPlan.contains("postings"), "bool must scan the segment store")
      assert(!boolPlan.contains("/docs"), s"bool plan touches the corpus:\n$boolPlan")
      // bucket pruning reaches the postings scan as a partition filter
      assert(boolPlan.contains("PartitionFilters") && boolPlan.contains("bucket"),
        s"no bucket partition pruning in:\n$boolPlan")
      // the query terms reach the Parquet scan (row-group pruning)
      assert(boolPlan.contains("PushedFilters") &&
        boolPlan.contains("In(term, [the,w00002,w00004])"),
        s"no term pushdown in:\n$boolPlan")
    }
    // the distributed bool shuffles once: the shard fan-out's groupByKey
    val fanOutPlan = fanOut.queryExecution.executedPlan.toString
    assert("\\bExchange\\b".r.findAllIn(fanOutPlan).size == 1,
      s"not exactly one Exchange in:\n$fanOutPlan")
    // mlt, term vectors and _explain read one doc's slice of the tf artifact
    val slicePlan = search.reader.docSlice(17L).queryExecution.executedPlan.toString
    assert(slicePlan.contains("/tf") && !slicePlan.contains("/docs"))
    assert(slicePlan.contains("PushedFilters") && slicePlan.contains("EqualTo(docId,17)"),
      s"the slice's docId predicate is not pushed:\n$slicePlan")
    val facetPlan = distributed.facets(Seq("w00002"), "lang")
      .queryExecution.executedPlan.toString
    assert(facetPlan.contains("postings") && facetPlan.contains("/docs"))
    // the docs side of the facet join prunes the text column away
    assert(!facetPlan.contains("text"), s"facet reads text:\n$facetPlan")
  }

  test("fuzzyTopK with no expansion keeps the (docId, score) schema") {
    val empty = search.fuzzyTopK(Seq("zzzzzzzzzzzz"), 5, maxDist = 1)
    assert(empty.columns.toSeq == Seq("docId", "score"))
    assert(empty.count() == 0)
  }

  test("searchAfter ≡ brute keyset page 2/3 (cursor inside the shard kernel)") {
    val terms = Seq("the", "w00002")
    val scored = BruteForce.scoreAll(docs, "docId", "text",
        terms.map(graft.analyze.Analyzer.lowerLikeCatalyst))
      .withColumn("score", round(col("score"), 4))
    var cursor = rows(search.boolTopK(Nil, terms, Nil, 10)).last
    for (page <- 2 to 3) {
      val brute = rows(Search.searchAfter(scored, "docId", "score",
        cursor._2, cursor._1, 10))
      val served = rows(search.searchAfter(terms, cursor._2, cursor._1, 10))
      assert(served == brute, s"page $page diverged:\n brute=$brute\n index=$served")
      cursor = served.last
    }
  }

  test("generational index: bool/mlt/facets stay brute-identical across appends") {
    val genDir = TestSpark.tmpDir("graft-idx-search-gen")
    val params = IndexParams(buckets = 8, shardSize = 128, blockSize = 32,
      buildPartitions = 4)
    val all = SyntheticCorpus.generate(spark, 600, seed = 23L, partitions = 4)
    graft.index.IncrementalIndex.append(spark, genDir,
      all.filter(length(col("url")) % 2 === 0), params, "gen0")
    graft.index.IncrementalIndex.append(spark, genDir,
      all.filter(length(col("url")) % 2 === 1), params, "gen1")
    val gen = new IndexSearch(spark, genDir)
    val genDocs = new IndexReader(spark, genDir).gens
      .map { case (_, d) => spark.read.parquet(s"$d/docs") }
      .reduce(_.unionByName(_)).select("docId", "text", "lang")
    // merged df/globals across generations feed the same BM25 the brute
    // form computes over the union corpus
    val brute = rows(Search.boolTopK(genDocs, "docId", "text",
      Seq("the"), Seq("w00002"), Seq("w00009"), 12))
    val served = rows(gen.boolTopK(Seq("the"), Seq("w00002"), Seq("w00009"), 12))
    assert(served == brute)
    val bruteMlt = rows(Search.moreLikeThisTopK(genDocs, "docId", "text", 5L, 6, 8))
    assert(rows(gen.moreLikeThisTopK(5L, 6, 8)) == bruteMlt)
    val bruteFacets = Search.facets(genDocs, "docId", "text",
      Seq("w00003"), "lang").as[(String, Long)].collect().toMap
    assert(gen.facets(Seq("w00003"), "lang")
      .as[(String, Long)].collect().toMap == bruteFacets)
  }

  test("prefixTopK ≡ brute bool over the sorted capped expansion") {
    for ((prefix, max, k) <- Seq(("w0000", 50, 12), ("w001", 5, 10),
        ("the", 50, 8), ("zzz", 50, 5))) {
      val expansion = graft.analyze.Analyzer.tokens(docs, "docId", "text")
        .select("term").distinct().as[String].collect()
        .filter(_.startsWith(prefix)).sorted.take(max).toSeq
      val brute =
        if (expansion.isEmpty) Nil
        else rows(Search.boolTopK(docs, "docId", "text",
          Nil, expansion, Nil, k))
      val served = rows(search.prefixTopK(prefix, k, maxExpansions = max))
      assert(served == brute, s"prefix($prefix, max=$max) diverged")
    }
    // empty expansion keeps the (docId, score) schema contract
    assert(search.prefixTopK("zzz", 5).columns.toSeq ==
      Seq("docId", "score"))
  }

  test("wildcardTopK ≡ brute bool over the anchored-glob expansion") {
    for ((pat, max, k) <- Seq(("w0*1", 25, 10), ("*002", 10, 8),
        ("w00*0*", 15, 10), ("zz*q", 50, 5))) {
      val re = ("^" + pat.split("\\*", -1)
        .map(java.util.regex.Pattern.quote).mkString(".*") + "$").r
      val expansion = graft.analyze.Analyzer.tokens(docs, "docId", "text")
        .select("term").distinct().as[String].collect()
        .filter(t => re.findFirstIn(t).isDefined).sorted.take(max).toSeq
      val brute =
        if (expansion.isEmpty) Nil
        else rows(Search.boolTopK(docs, "docId", "text",
          Nil, expansion, Nil, k))
      val served = rows(search.wildcardTopK(pat, k, maxExpansions = max))
      assert(served == brute, s"wildcard($pat, max=$max) diverged")
    }
    assert(search.wildcardTopK("zz*q", 5).columns.toSeq ==
      Seq("docId", "score"))
  }

  test("minimum_should_match ≡ brute across m = 0..|should|") {
    val (must, should) = (Seq("the"), Seq("w00002", "w00005", "w00009"))
    for (m <- 0 to 3) {
      val brute = rows(Search.boolTopK(docs, "docId", "text",
        must, should, Nil, 12, minShouldMatch = m))
      val served = rows(search.boolTopK(must, should, Nil, 12,
        minShouldMatch = m))
      assert(served == brute, s"msm=$m diverged")
    }
    // m larger than matched clauses → strictly smaller (or empty) set
    val loose = rows(search.boolTopK(Nil, should, Nil, 100000))
    val strict = rows(search.boolTopK(Nil, should, Nil, 100000,
      minShouldMatch = 3))
    assert(strict.size < loose.size)
    assert(strict.toSet.subsetOf(loose.toSet))
    // msm with NO should clauses is a no-op (OpenSearch semantics) —
    // a must-only query must not be silently emptied by the gate
    val mustOnly = rows(search.boolTopK(must, Nil, Nil, 12))
    val mustOnlyMsm = rows(search.boolTopK(must, Nil, Nil, 12,
      minShouldMatch = 1))
    assert(mustOnly.nonEmpty && mustOnlyMsm == mustOnly)
  }

  test("compositeAgg: served ≡ brute; pages are disjoint and exhaustive") {
    search // force the index build before reading its docs artifact
    val meta = spark.read.parquet(s"$indexDir/docs")
      .select(col("docId"), col("lang"), length(col("text")).as("n"))
    val sources = Seq("lang" -> col("lang"),
      "bucket" -> (floor(col("n").cast("double") / 500.0) * 500.0))
    val terms = Seq("the", "w00002")
    val bruteDocs = docs.withColumn("n", length(col("text")))
    def key3(df: DataFrame) = df
      .select(col("lang"), col("bucket"), col("doc_count"))
      .as[(String, Double, Long)].collect().toSeq
    // full bucket space (one oversized page) as the reference set
    val all = key3(Search.compositeAgg(bruteDocs, "docId", "text", terms,
      sources, size = 100000))
    assert(all.nonEmpty && all == all.sortBy(r => (r._1, r._2)))
    // walk with size-3 pages via the after cursor; served ≡ brute per page
    var after: Option[Seq[org.apache.spark.sql.Column]] = None
    var walked = Seq.empty[(String, Double, Long)]
    var done = false
    var guard = 0
    while (!done) {
      guard += 1; assert(guard < 50, "cursor failed to advance")
      val brutePage = key3(Search.compositeAgg(bruteDocs, "docId", "text",
        terms, sources, size = 3, after = after))
      val servedPage = key3(search.compositeAgg(terms, meta, sources,
        size = 3, after = after))
      assert(servedPage == brutePage, s"page after=$after diverged")
      if (brutePage.isEmpty) done = true
      else {
        walked = walked ++ brutePage
        after = Some(Seq(lit(brutePage.last._1), lit(brutePage.last._2)))
      }
    }
    assert(walked == all) // disjoint + exhaustive + ordered
  }

  test("multiMatchTopK ≡ brute across best_fields/most_fields and tie breakers") {
    val bruteDocs = {
      titleSearch // force both builds
      spark.read.parquet(s"$indexDir/docs").select(col("docId"), col("text"))
        .withColumn("title",
          array_join(slice(graft.analyze.Analyzer.tokensCol(col("text")), 1, 8), " "))
    }
    val served = Seq(titleSearch -> 2.0, search -> 1.0)
    val bruteFields = Seq("title" -> 2.0, "text" -> 1.0)
    for ((mt, tie, k) <- Seq(("best_fields", 0.0, 15), ("best_fields", 0.3, 15),
        ("most_fields", 0.0, 12))) {
      val brute = rows(Search.multiMatchTopK(bruteDocs, "docId", bruteFields,
        Seq("the", "w00002"), k, mt, tie))
      val idx = rows(IndexSearch.multiMatchTopK(served,
        Seq("the", "w00002"), k, mt, tie))
      assert(idx == brute, s"multi_match($mt, tie=$tie) diverged:\n" +
        s" brute=$brute\n index=$idx")
      assert(brute.nonEmpty)
    }
    // single-field degeneracy: multi_match over one field ≡ plain BM25
    val single = rows(IndexSearch.multiMatchTopK(Seq(search -> 1.0),
      Seq("the", "w00002"), 10, "most_fields"))
    val plain = rows(Search.multiMatchTopK(bruteDocs, "docId",
      Seq("text" -> 1.0), Seq("the", "w00002"), 10, "most_fields"))
    assert(single == plain)
  }

  test("explainScore: contributions sum to the doc's ranking score") {
    val terms = Seq("the", "w00002", "w00005")
    val exp = search.explainScore(17L, terms)
      .as[(String, Long, Long, Double, Double)].collect()
    assert(exp.nonEmpty)
    // recompute from the corpus with the same arithmetic
    val toks = graft.analyze.Analyzer.tokens(docs, "docId", "text")
    val n = docs.count()
    val dl = toks.filter(col("docId") === 17L).count()
    val sumdl = toks.count()
    val avgdl = sumdl.toDouble / n.toDouble
    exp.foreach { case (t, tf, df, idf, contrib) =>
      val tfm = toks.filter(col("docId") === 17L && col("term") === t).count()
      val dfm = toks.filter(col("term") === t)
        .select("docId").distinct().count()
      assert(tf == tfm && df == dfm)
      val idfm = Bm25.idf(n, dfm)
      assert(idf == BigDecimal(idfm).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(contrib == BigDecimal(
        Bm25.score(idfm, tfm.toDouble, dl.toDouble, avgdl))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // the breakdown sums (pre-rounding ≈) to the bool ranking score
    val full = rows(search.boolTopK(Nil, terms, Nil, 1000))
      .find(_._1 == 17L)
    full.foreach { case (_, score) =>
      assert(math.abs(exp.map(_._5).sum - score) < 1e-3)
    }
  }

  test("stats and termVectors match corpus aggregates") {
    val toks = graft.analyze.Analyzer.tokens(docs, "docId", "text")
    val st = search.stats.as[(Int, Long, Long, Long)].collect()
    assert(st.map(_._2).sum == docs.count())
    assert(st.map(_._3).sum == toks.select("term").distinct().count())
    assert(st.map(_._4).sum == toks.count())
    val tv = search.termVectors(17L)
      .as[(String, Long, Long)].collect().sortBy(_._1)
    val manual = toks.filter(col("docId") === 17L)
      .groupBy("term").agg(count(lit(1)).as("tf")).as[(String, Long)]
      .collect().sortBy(_._1)
    assert(tv.map(t => (t._1, t._2)).toSeq == manual.toSeq)
    tv.foreach { case (t, _, df) =>
      assert(df == toks.filter(col("term") === t)
        .select("docId").distinct().count())
    }
  }

  test("dateHistogram ≡ manual week-bucket counts over the match set") {
    val meta = docs.select(col("docId"),
      expr("timestampadd(DAY, CAST(docId % 90 AS INT), " +
        "TIMESTAMP '2026-01-01 00:00:00')").as("ts"))
    val terms = Seq("w00002", "w00005")
    val matched = search.matchingDocIds(terms)
    val manual = meta.join(matched, Seq("docId"), "left_semi")
      .groupBy(date_trunc("week", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("doc_count"))
      .as[(java.sql.Timestamp, Long)].collect().toMap
    val served = search.dateHistogram(terms, meta, "ts", "week")
      .as[(java.sql.Timestamp, Long)].collect().toMap
    assert(served == manual)
    assert(served.values.sum == matched.count())
  }

  test("disMaxTopK ≡ brute across the tie_breaker range") {
    val terms = Seq("the", "w00002", "w00005")
    for (tie <- Seq(0.0, 0.3, 1.0)) {
      val brute = rows(Search.disMaxTopK(docs, "docId", "text", terms, tie, 12))
      val served = rows(search.disMaxTopK(terms, tie, 12))
      assert(served == brute, s"dis_max(tie=$tie) diverged:\n" +
        s" brute=$brute\n index=$served")
    }
    // tie = 1 degenerates to the should-bool sum
    assert(rows(search.disMaxTopK(terms, 1.0, 12)) ==
      rows(search.boolTopK(Nil, terms, Nil, 12)))
  }

  test("boostedTopK ≡ brute per-term boosts inside the shard kernel") {
    val boosts = Seq(("the", 0.2), ("w00002", 3.0), ("w00005", 1.0))
    val brute = rows(Search.boostedTopK(docs, "docId", "text", boosts, 15))
    val served = rows(search.boostedTopK(boosts, 15))
    assert(served == brute, s"boosted diverged:\n brute=$brute\n index=$served")
    // all-1.0 boosts ≡ the plain should-bool
    val ones = boosts.map { case (t, _) => (t, 1.0) }
    assert(rows(search.boostedTopK(ones, 15)) ==
      rows(search.boolTopK(Nil, boosts.map(_._1), Nil, 15)))
    assertThrows[IllegalArgumentException] {
      search.boostedTopK(Seq(("the", 1.0), ("The", 2.0)), 5)
    }
  }

  test("regexpTopK ≡ brute anchored-dictionary expansion") {
    for ((pat, max, k) <- Seq(("w0+1", 25, 10), ("w00(02|05)", 50, 12),
        ("th.", 50, 8), ("zzz+q", 50, 5))) {
      val brute = rows(Search.regexpTopK(docs, "docId", "text", pat, k, max))
      val served = rows(search.regexpTopK(pat, k, max))
      assert(served == brute, s"regexp($pat) diverged")
    }
    assert(search.regexpTopK("zzz+q", 5).columns.toSeq ==
      Seq("docId", "score"))
  }

  test("synonymTopK ≡ brute expand=true union scoring") {
    val syn = Map("w00002" -> Seq("w00005", "w00009"), "the" -> Seq("of"))
    for (q <- Seq(Seq("w00002"), Seq("the", "w00002"), Seq("w00013"))) {
      val brute = rows(Search.synonymTopK(docs, "docId", "text", q, syn, 12))
      val served = rows(search.synonymTopK(q, syn, 12))
      assert(served == brute, s"synonym($q) diverged")
    }
  }

  test("matchStats ≡ brute over the match set") {
    val meta = docs.select(col("docId"),
      (col("docId") % 97).cast("long").as("v"))
    val bruteDocs = docs.join(meta.select("docId", "v"), Seq("docId"))
    val terms = Seq("w00002", "w00005")
    val brute = Search.matchStats(bruteDocs, "docId", "text", terms, "v")
      .as[(Long, Long, Long, Long, Double)].collect().head
    val served = search.matchStats(terms, meta, "v")
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(served == brute)
    assert(served._1 == search.matchingDocIds(terms).count())
  }

  test("significantTerms ≡ brute JLH over the match set") {
    val terms = Seq("w00002", "w00005")
    val brute = Search.significantTerms(docs, "docId", "text", terms, 10,
        minDocCount = 2)
      .as[(String, Long, Long, Double)].collect().toSeq
    val served = search.significantTerms(terms, 10, minDocCount = 2)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(brute.nonEmpty)
    assert(served == brute, s"jlh diverged:\n brute=$brute\n index=$served")
    // query terms themselves never appear as findings
    assert(!served.exists(r => terms.contains(r._1)))
  }

  test("matchPercentiles / matchHistogram / matchCardinality ≡ brute") {
    val meta = docs.select(col("docId"),
      (col("docId") * 7 % 101).cast("long").as("v"))
    val bruteDocs = docs.join(meta, "docId")
    val terms = Seq("w00002", "w00005")
    val bp = Search.matchPercentiles(bruteDocs, "docId", "text", terms,
      "v", Seq(0.1, 0.5, 0.95)).as[(Double, Double)].collect().toSeq
    val ip = search.matchPercentiles(terms, meta, "v", Seq(0.1, 0.5, 0.95))
      .as[(Double, Double)].collect().toSeq
    assert(bp.size == 3 && ip == bp)
    val bh = Search.matchHistogram(bruteDocs, "docId", "text", terms,
      "v", 20.0).as[(Double, Long)].collect().toMap
    val ih = search.matchHistogram(terms, meta, "v", 20.0)
      .as[(Double, Long)].collect().toMap
    assert(bh.nonEmpty && ih == bh)
    assert(bh.values.sum == search.matchingDocIds(terms).count())
    val bc = Search.matchCardinality(bruteDocs, "docId", "text", terms,
      "v", k = 8).as[(Int, Double, Long)].collect().head
    val ic = search.matchCardinality(terms, meta, "v", k = 8)
      .as[(Int, Double, Long)].collect().head
    assert(ic == bc)
    assert(bc._1 == 8, "k=8 sketch should saturate on this fixture")
  }

  test("topHits ≡ brute: bucket selection, per-bucket ranks, scores") {
    val terms = Seq("w00002", "w00005")
    val brute = Search.topHits(docs, "docId", "text", terms, "lang",
        nBuckets = 2, perBucket = 4)
      .as[(String, Long, Int, Long, Double)].collect().toSeq
    val served = search.topHits(terms, "lang", nBuckets = 2, perBucket = 4)
      .as[(String, Long, Int, Long, Double)].collect().toSeq
    assert(brute.nonEmpty)
    assert(served == brute, s"topHits diverged:\n brute=$brute\n index=$served")
    // ranks are dense 1..perBucket within each bucket
    served.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._3).sorted == (1 to rows.size))
    }
  }

  test("topKWithSnippets: ranking ≡ boolTopK, snippets ≡ the brute kernel") {
    val terms = Seq("w00002", "w00005")
    val served = search.topKWithSnippets(terms, k = 8, w = 6)
      .as[(Long, Double, String, Int)].collect().toSeq
    val page = rows(search.boolTopK(Nil, terms, Nil, 8))
    assert(served.map(r => (r._1, r._2)) == page)
    val brute = docs.select(col("docId"),
        Snippets.snippet(col("text"), terms, 6).as("sn"),
        Snippets.snippetTermCount(col("text"), terms, 6).as("nt"))
      .as[(Long, String, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    served.foreach { case (id, _, sn, nt) =>
      assert(brute(id) == ((sn, nt)))
      assert(sn.contains("<em>"))
    }
  }

  test("filtersAgg / adjacencyMatrix ≡ brute; empty bucket kept / omitted") {
    val filters = Seq(
      ("a", Seq("w00002", "w00003")),
      ("b", Seq("w00005")),
      ("z", Seq("qqqnever")))
    val bf = Search.filtersAgg(docs, "docId", "text", filters)
      .as[(String, Long)].collect().toSeq
    val sf = search.filtersAgg(filters).as[(String, Long)].collect().toSeq
    assert(sf == bf)
    assert(bf.toMap.apply("z") == 0L, "filters keeps empty buckets at 0")
    val bm = Search.adjacencyMatrix(docs, "docId", "text", filters)
      .as[(String, Long)].collect().toSeq
    val sm = search.adjacencyMatrix(filters).as[(String, Long)].collect().toSeq
    assert(sm == bm)
    assert(!bm.exists(_._1.contains("z")), "adjacency omits zero buckets")
    assert(bm.exists(_._1 == "a&b"), "pair key in declaration order")
  }

  test("pipeline aggs: cumulative_sum, derivative, moving_avg") {
    val hist = Seq((1.0, 4L), (2.0, 6L), (3.0, 2L), (4.0, 8L))
      .toDF("bucket", "doc_count")
    val out = Search.movingAvg(
        Search.derivative(
          Search.cumulativeSum(hist, "bucket", "doc_count"),
          "bucket", "doc_count"),
        "bucket", "doc_count", window = 2)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getDouble(4)))
      .toSeq
    assert(out == Seq(
      (1.0, 4L, 4L, None, 4.0),
      (2.0, 6L, 10L, Some(2L), 5.0),
      (3.0, 2L, 12L, Some(-4L), 4.0),
      (4.0, 8L, 20L, Some(6L), 5.0)))
  }

  test("rangeAgg: half-open buckets, unbounded tails, full coverage") {
    val meta = docs.select(col("docId"),
      (col("docId") % 100).cast("double").as("v"))
    val out = search.rangeAgg(Seq("the"), meta, "v",
      bounds = Seq(10.0, 50.0, 90.0))
      .as[(String, Long)].collect().toMap
    val matched = search.matchingDocIds(Seq("the"))
    val vals = meta.join(matched, Seq("docId"), "left_semi")
      .select("v").as[Double].collect()
    assert(out.getOrElse("(-inf,10.0)", 0L) == vals.count(_ < 10.0))
    assert(out.getOrElse("[10.0,50.0)", 0L) ==
      vals.count(v => v >= 10.0 && v < 50.0))
    assert(out.getOrElse("[50.0,90.0)", 0L) ==
      vals.count(v => v >= 50.0 && v < 90.0))
    assert(out.getOrElse("[90.0,inf)", 0L) == vals.count(_ >= 90.0))
    assert(out.values.sum == vals.length)
    assertThrows[IllegalArgumentException] {
      search.rangeAgg(Seq("the"), meta, "v", Seq(5.0, 5.0))
    }
  }
}
