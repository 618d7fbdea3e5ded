package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.corpus.{Page, SyntheticCorpus}
import graft.extract.HtmlText
import graft.index.{IncrementalIndex, IndexBuilder, IndexParams}

/** The served top-k runs one shard kernel per shard on either of two
  * routes ([[IndexReader.routedScores]]): on the driver over the collected
  * bucket-pruned rows, or fanned out by `groupByKey(shard)`. Every top-k
  * entry point must return the same rows on both, and the same rows again
  * when a warm reader serves them from its posting store, on an index with
  * all the hard parts: two generations whose boundary falls inside shards,
  * positions, and tombstones. Readers opened with a route bound of
  * `Long.MaxValue` take the driver route for every query, with `-1` the
  * distributed one (and never store postings). Facets finish on the
  * driver from resident doc values, otherwise in Spark; term vectors,
  * mlt's term selection and `_explain` finish on the driver from each
  * doc's term vector, and rescore combines on the driver, on every
  * reader. The rows are the same. */
class ServedRoutesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val dir: String = {
    val d = TestSpark.tmpDir("graft-idx-routes")
    val params = IndexParams(buckets = 8, shardSize = 128, blockSize = 32,
      buildPartitions = 4, positions = true)
    val all = SyntheticCorpus.generate(spark, 600, seed = 41L, partitions = 4)
    IncrementalIndex.append(spark, d,
      all.filter(length(col("url")) % 2 === 0), params, "gen0")
    IncrementalIndex.append(spark, d,
      all.filter(length(col("url")) % 2 === 1), params, "gen1")
    assert(new IndexSearch(spark, d).deleteByQuery(Seq("w00300")) > 0)
    d
  }
  private lazy val onDriver = new IndexReader(spark, dir, Long.MaxValue)
  private lazy val distributed = new IndexReader(spark, dir, -1L)

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.select(col("docId").cast("long"), col("score"))
      .as[(Long, Double)].collect().toSeq

  /** The q_query_string_indexed gate's shape (`+a b^2 "c d"~1 -e f*g h~1`)
    * plus a must_not phrase, over this index's vocabulary. */
  private val qsQuery =
    "+the w00002^2 \"of the\"~1 -w00040 w001*3 w0005~1 -\"of the\""

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec]

  test("the index under test has two generations and tombstones") {
    assert(onDriver.gens.size == 2)
    assert(onDriver.deletedSorted != null && onDriver.deletedSorted.nonEmpty)
  }

  /** (entry point, query, whether the call returns the route's own frame) */
  private val cases: Seq[(String, IndexSearch => DataFrame, Boolean)] = Seq(
    ("topK", _.reader.topK(Seq("w00002", "w00005", "the", "w00300"), 25), true),
    ("phraseTopK", _.reader.phraseTopK(Seq("the", "of"), 20), true),
    ("phraseTopK slop", _.reader.phraseTopK(Seq("of", "the"), 20, slop = 2), true),
    ("boolTopK", _.boolTopK(Seq("the"), Seq("w00002", "w00007"), Seq("w00004"),
      20, minShouldMatch = 1), true),
    ("searchAfter", _.searchAfter(Seq("the", "w00002"), 1.5, 100L, 15), true),
    ("fuzzyTopK", _.fuzzyTopK(Seq("w0002"), 15), true),
    ("moreLikeThisTopK", _.moreLikeThisTopK(17L, 8, 12), true),
    ("prefixTopK", _.prefixTopK("w001", 15, maxExpansions = 6), true),
    ("wildcardTopK", _.wildcardTopK("w0*3", 15), true),
    ("regexpTopK", _.regexpTopK("w0000[1-4]", 15), true),
    ("synonymTopK", _.synonymTopK(Seq("w00002"), Map("w00002" -> Seq("w00009")), 15), true),
    ("disMaxTopK", _.disMaxTopK(Seq("the", "w00002", "w00011"), 0.3, 20), true),
    ("boostedTopK", _.boostedTopK(Seq("the" -> 0.5, "w00002" -> 2.0), 20), true),
    ("phrasePrefixTopK", _.phrasePrefixTopK(Seq("the", "w0"), 20, slop = 1,
      maxExpansions = 8), true),
    ("queryStringTopK", _.queryStringTopK(qsQuery, 20), true),
    ("rescoreTopK", _.rescoreTopK(Seq("the", "w00002"), Seq("the", "of"), 1, 30, 10), false),
    ("topKWithSnippets", _.topKWithSnippets(Seq("w00002", "w00005"), 10, 6), false),
    ("topHits", _.topHits(Seq("the", "w00002"), "lang", 3, 5), false),
    ("fieldValueFactorTopK", s => s.fieldValueFactorTopK(Seq("the", "w00002"),
      s.docsMeta.select(col("docId"), length(col("url")).as("n")), "n", 0.01,
      "ln1p", 20), false),
    // one index paired with itself is docId-aligned
    ("multiMatchTopK", s => IndexSearch.multiMatchTopK(Seq(s -> 2.0, s -> 1.0),
      Seq("the", "w00002"), 20, "best_fields", 0.3), false))

  /** The untruncated scores, which come back unordered. */
  private val untruncated: Seq[(String, IndexSearch => DataFrame)] = Seq(
    ("phraseScored", s => s.reader.scoresOf(s.reader.phraseScored(Seq("of", "the"), 1))),
    ("phrasePrefixScores", _.phrasePrefixScores(Seq("the", "w0"), 1, 8)))

  test("every top-k entry point returns identical rows on both routes") {
    val (d, x) = (new IndexSearch(spark, onDriver), new IndexSearch(spark, distributed))
    val deleted = onDriver.deletedSorted.toSet
    for ((name, q, routed) <- cases) {
      val (a, b) = (q(d), q(x))
      if (routed) {
        assert(isLocal(a), s"$name: the driver route planned a distributed scan")
        assert(!isLocal(b), s"$name: the distributed route ran on the driver")
      }
      val (ra, rb) = (rows(a), rows(b))
      assert(ra.nonEmpty, s"$name: no rows")
      assert(ra == rb, s"$name: routes diverged\n driver=$ra\n distributed=$rb")
      assert(!ra.exists(r => deleted(r._1)), s"$name: a tombstoned doc came back")
    }
    // the untruncated scores: compare them as sets
    for ((name, q) <- untruncated) {
      val (a, b) = (q(d), q(x))
      assert(isLocal(a), s"$name: the driver route planned a distributed scan")
      assert(!isLocal(b), s"$name: the distributed route ran on the driver")
      val (ra, rb) = (rows(a).sorted, rows(b).sorted)
      assert(ra.nonEmpty, s"$name: no rows")
      assert(ra == rb, s"$name: routes diverged")
      assert(!ra.exists(r => deleted(r._1)), s"$name: a tombstoned doc came back")
    }
    // the default bound serves this small index on the driver
    assert(isLocal(new IndexReader(spark, dir).topK(Seq("w00002"), 5)))
  }

  test("query_string: every clause shape and a must_not phrase gate the rows") {
    val s = new IndexSearch(spark, onDriver)
    val all = rows(s.queryStringTopK(qsQuery, 1000))
    val plain = rows(s.queryStringTopK(qsQuery.stripSuffix(" -\"of the\""), 1000))
    // the must_not phrase bans docs the query would otherwise return
    assert(all.nonEmpty && plain.size > all.size && all.toSet.subsetOf(plain.toSet),
      s"\n with=$all\n without=$plain")
  }

  test("a task over its share of the bound re-reads the rows on the driver") {
    val terms = Seq("of", "the", "w00002", "w00004", "w00007")
    val seg = onDriver.segmentsFor(terms, positions = false)
    val total = onDriver.readPostings(seg, 0L).bytes.values.sum
    val parts = seg.rdd.getNumPartitions
    val share = total / parts
    val overflowed = seg.rdd.mapPartitions(it =>
      Iterator(IndexReader.readTask(it, share)._2 == null)).collect()
    assert(parts > 1 && overflowed.contains(true),
      s"no task of $parts overflowed a $share-byte share")
    // the whole query fits the bound, so the driver route still answers
    val atBound = new IndexSearch(spark, new IndexReader(spark, dir, total))
    val q: IndexSearch => DataFrame =
      _.boolTopK(Seq("the"), Seq("w00002", "w00007", "of"), Seq("w00004"), 25)
    val a = q(atBound)
    assert(isLocal(a))
    assert(rows(a) == rows(q(new IndexSearch(spark, distributed))))
  }

  test("helper branches, called directly, give the same head for one kernel") {
    val r = new IndexReader(spark, dir)
    val seg = r.segmentsFor(Seq("the", "w00002", "w00300"), positions = false)
    val (n, avgdl, del) = (r.globals.n, r.globals.avgdl, r.deletedBc)
    val kernel: Map[String, Long] => IndexReader.ShardKernel =
      df => IndexReader.shardTopK(n, avgdl, 30, df, del.value)
    val read = r.readPostings(seg, Long.MaxValue)
    val dfByTerm = read.dfByTerm
    assert(read.bytes.keySet == dfByTerm.keySet && read.rows != null)
    // the read's rows and a fresh collect are the two driver-route inputs
    val local = IndexReader.head(
      IndexReader.onDriver(seg.collect(), kernel(dfByTerm)), 30)
    val fromRead = IndexReader.head(
      IndexReader.onDriver(read.rows, kernel(dfByTerm)), 30)
    val fanned = IndexReader.head(
      r.shardCandidates(seg, dfByTerm, kernel).collect(), 30)
    assert(local.nonEmpty && local.toSeq == fanned.toSeq &&
      fromRead.toSeq == local.toSeq)
  }

  test("the route bound applies to the whole query's posting bytes, inclusive") {
    val r = new IndexReader(spark, dir)
    val one = r.segmentsFor(Seq("the"), positions = false)
    val both = r.segmentsFor(Seq("the", "of"), positions = false)
    val (oneBytes, bothBytes) =
      (r.readPostings(one, 0L).bytes.values.sum,
        r.readPostings(both, 0L).bytes.values.sum)
    assert(oneBytes < bothBytes)
    val kernel: Map[String, Long] => IndexReader.ShardKernel = {
      val (n, avgdl) = (r.globals.n, r.globals.avgdl)
      df => IndexReader.shardTopK(n, avgdl, 5, df, null)
    }
    assert(r.routedScores(Seq("the", "of"), false, bothBytes)(kernel).isLeft)
    // "the" alone fits the bound; with "of" added the query does not
    assert(r.routedScores(Seq("the"), false, oneBytes)(kernel).isLeft)
    assert(r.routedScores(Seq("the", "of"), false, oneBytes)(kernel).isRight)
    // the first call filled the store and the other two hit it: resident
    // terms over the bound still take the distributed route
    val c = r.storeCounters
    assert(c.misses == 1 && c.hits == 2 && c.residentBytes == bothBytes, c)
  }

  test("a warm reader serves every routed entry point as cold, and as the distributed route") {
    val x = new IndexSearch(spark, distributed)
    val all = cases.map(c => (c._1, c._2, false)) ++
      untruncated.map { case (name, q) => (name, q, true) }
    for ((name, q, unordered) <- all) {
      def get(s: IndexSearch) = if (unordered) rows(q(s)).sorted else rows(q(s))
      // a fresh reader per entry point, so the first call reads postings
      val warm = new IndexSearch(spark, new IndexReader(spark, dir, Long.MaxValue))
      val cold = get(warm)
      val before = warm.reader.storeCounters
      val again = get(warm)
      val after = warm.reader.storeCounters
      assert(before.misses > 0, s"$name: the first call found its postings resident")
      assert(after.hits > before.hits && after.misses == before.misses,
        s"$name: the second call read postings\n before=$before\n after=$after")
      assert(cold.nonEmpty, s"$name: no rows")
      assert(again == cold, s"$name: warm diverged from cold\n cold=$cold\n warm=$again")
      assert(again == get(x), s"$name: warm diverged from the distributed route")
    }
    assert(distributed.storeCounters.entries == 0)
  }

  test("a warm reader keeps its snapshot; a reader opened after a delete drops the deletes") {
    val copy = TestSpark.tmpDir("graft-idx-routes-del")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(dir), new java.io.File(copy))
    val q: IndexSearch => DataFrame = _.boolTopK(Nil, Seq("the", "w00002"), Nil, 1000)
    val warm = new IndexSearch(spark, new IndexReader(spark, copy))
    val before = rows(q(warm))
    assert(rows(q(warm)) == before && warm.reader.storeCounters.hits == 1)
    val gone = before.map(_._1).take(5)
    IncrementalIndex.deleteDocs(spark, copy, gone.toDF("docId"))
    assert(rows(q(warm)) == before, "a warm reader saw a delete made after it opened")
    val reopened = rows(q(new IndexSearch(spark, new IndexReader(spark, copy))))
    assert(reopened == before.filterNot(r => gone.contains(r._1)))
    assert(reopened == rows(q(new IndexSearch(spark, new IndexReader(spark, copy, -1L)))))
  }

  private def facetRows(df: DataFrame): Seq[(String, Long)] =
    df.select(col("lang"), col("doc_count")).as[(String, Long)].collect().toSeq.sorted

  /** The visible docs holding any of `terms`, decoded from the postings. */
  private def matchSet(terms: Seq[String]): Set[Long] = {
    val deleted = onDriver.deletedSorted.toSet
    onDriver.segmentsFor(terms, positions = false).collect().flatMap(r =>
      graft.index.PForDelta.decodeGaps(r.gaps, r.n, r.firstDocId)).toSet.diff(deleted)
  }

  test("facets, term vectors and mlt terms: resident on the driver reader, identical to the distributed reader") {
    val (d, x) = (new IndexSearch(spark, onDriver), new IndexSearch(spark, distributed))
    for (terms <- Seq(Seq("w00002", "w00300"), Seq("the"), Seq("w00300"))) {
      val (a, b) = (d.facets(terms, "lang"), x.facets(terms, "lang"))
      assert(isLocal(a), s"$terms: the driver reader counted facets in Spark")
      assert(!isLocal(b), s"$terms: the distributed reader counted facets on the driver")
      assert(a.schema == b.schema, s"$terms: facet schemas differ")
      val (fa, fb) = (facetRows(a), facetRows(b))
      assert(fa == fb, s"$terms: facets diverged\n driver=$fa\n distributed=$fb")
      // no tombstoned doc is counted: the buckets sum to the visible match set
      assert(fa.map(_._2).sum == matchSet(terms).size, s"$terms: $fa")
    }
    assert(facetRows(d.facets(Seq("w00300"), "lang")).isEmpty)
    for (doc <- Seq(17L, 301L)) {
      val (a, b) = (d.termVectors(doc), x.termVectors(doc))
      assert(isLocal(a) && isLocal(b))
      val tv = a.as[(String, Long, Long)].collect().toSeq.sorted
      assert(tv.nonEmpty && tv == b.as[(String, Long, Long)].collect().toSeq.sorted,
        s"doc $doc: term vectors diverged")
      val mlt = d.moreLikeThisTerms(doc, 8).as[(String, Long, Long)].collect().toSeq
      assert(mlt.nonEmpty && mlt == x.moreLikeThisTerms(doc, 8)
        .as[(String, Long, Long)].collect().toSeq, s"doc $doc: mlt terms diverged")
    }
    val c = onDriver.storeCounters
    assert(c.docValueBytes > 0 &&
      c.residentBytes == c.postingBytes + c.docValueBytes + c.termVectorBytes, c)
    assert(distributed.storeCounters.entries == 0)
  }

  /** The calls that read one doc's term vector, and rescore: (name, call,
    * whether its row order is its answer). Doc 999999 is in no generation. */
  private val vectorCalls: Seq[(String, IndexSearch => DataFrame, Boolean)] =
    Seq(17L, 301L, 999999L).flatMap { doc => Seq[(String, IndexSearch => DataFrame, Boolean)](
      (s"termVectors($doc)", _.termVectors(doc), false),
      (s"moreLikeThisTerms($doc)", _.moreLikeThisTerms(doc, 8), true),
      (s"explainScore($doc)", _.explainScore(doc, Seq("the", "of", "w00002", "w00300")), true))
    } ++ Seq[(String, IndexSearch => DataFrame, Boolean)](
      ("moreLikeThisTopK", _.moreLikeThisTopK(17L, 8, 12), true),
      ("rescoreTopK", _.rescoreTopK(Seq("the", "w00002"), Seq("the", "of"), 1, 30, 10), true),
      ("rescoreTopK max", _.rescoreTopK(Seq("the", "w00005"), Seq("of", "the"), 2, 40, 15,
        0.7, 1.3, "max"), true))

  test("term vectors, mlt, _explain and rescore: on the driver from the store, identical to the distributed reader and to a reader too small for the dictionary") {
    val d = new IndexSearch(spark, new IndexReader(spark, dir, Long.MaxValue))
    val x = new IndexSearch(spark, distributed)
    def canon(df: DataFrame, ordered: Boolean): Seq[String] = {
      val rs = df.collect().toSeq.map(_.toString)
      if (ordered) rs else rs.sorted
    }
    val onD = vectorCalls.map { case (name, q, ordered) =>
      val (a, b) = (q(d), q(x))
      assert(isLocal(a), s"$name: the driver reader ran a Spark plan")
      // only mlt's bool read takes the distributed route there
      if (name == "moreLikeThisTopK")
        assert(!isLocal(b), s"$name: the distributed reader ran on the driver")
      else assert(isLocal(b), s"$name: the distributed reader ran a Spark plan")
      val (ra, rb) = (canon(a, ordered), canon(b, ordered))
      assert(ra.nonEmpty || name.contains("999999"), s"$name: no rows")
      assert(ra == rb, s"$name: readers diverged\n driver=$ra\n distributed=$rb")
      ra
    }
    assert(vectorCalls.filter(_._1.contains("999999")).forall(c => canon(c._2(d), c._3).isEmpty))
    val c = d.reader.storeCounters
    assert(c.termVectorBytes > 0 && c.residentBytes ==
      c.postingBytes + c.docValueBytes + c.termVectorBytes, c)
    // a 0-byte bound: the reader stores nothing, and still answers term
    // vectors and mlt terms on the driver
    val small = new IndexSearch(spark, new IndexReader(spark, dir, 0L))
    for (((name, q, ordered), ra) <- vectorCalls.zip(onD)) {
      val a = q(small)
      if (name.startsWith("termVectors") || name.startsWith("moreLikeThisTerms"))
        assert(isLocal(a), s"$name: the small reader ran a Spark plan")
      assert(canon(a, ordered) == ra, s"$name: the small reader diverged")
    }
    assert(small.reader.storeCounters.entries == 0, small.reader.storeCounters)
  }

  test("the driver route's frames carry the distributed route's schema") {
    val (d, x) = (new IndexSearch(spark, onDriver), new IndexSearch(spark, distributed))
    val topK = (d.boolTopK(Nil, Seq("the", "w00002"), Nil, 10),
      x.boolTopK(Nil, Seq("the", "w00002"), Nil, 10))
    val scores = (onDriver.scoresOf(onDriver.phraseScored(Seq("of", "the"), 1)),
      distributed.scoresOf(distributed.phraseScored(Seq("of", "the"), 1)))
    for ((name, (a, b)) <- Seq("top-k" -> topK, "scores" -> scores)) {
      assert(isLocal(a) && !isLocal(b), name)
      assert(a.schema == b.schema, s"$name: ${a.schema} vs ${b.schema}")
    }
    // a prefix no term has: the empty (docId, score) frame
    val none = d.prefixTopK("zzzz", 10)
    assert(none.collect().isEmpty && none.schema == topK._2.schema, none.schema)
    val rescore: IndexSearch => DataFrame =
      _.rescoreTopK(Seq("the", "w00002"), Seq("the", "of"), 1, 30, 10)
    assert(rescore(d).schema == rescore(x).schema)
    // the (term, tf, df) and `_explain` frames keep the schemas their rows'
    // product encoders gave them: a nullable term beside non-null numbers
    assert(d.termVectors(17L).schema ==
      Seq.empty[(String, Long, Long)].toDF("term", "tf", "df").schema)
    assert(d.moreLikeThisTerms(17L, 8).schema == d.termVectors(17L).schema)
    assert(d.explainScore(17L, Seq("the")).schema ==
      Seq.empty[(String, Long, Long, Double, Double)]
        .toDF("term", "tf", "df", "idf", "contribution").schema)
  }

  test("a term vector larger than the store's capacity is returned with identical rows, not stored, and evicts nothing") {
    // doc "long" holds the whole vocabulary; every other doc two of its terms
    val vocab = (0 until 64).map(i => f"t$i%02d")
    val texts = ("long" -> vocab.mkString(" ")) +:
      (0 until 31).map(i => s"short$i" -> s"${vocab(i)} ${vocab(63 - i)}")
    val pages = texts.map { case (name, text) =>
      val html = s"<html><body><p>$text</p></body></html>"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      Page(s"http://x/$name", new java.sql.Timestamp(0L), html, HtmlText.extract(html), "en")
    }
    val d = TestSpark.tmpDir("graft-idx-longdoc")
    new IndexBuilder(spark, d, IndexParams(buckets = 4, shardSize = 16, blockSize = 8,
      buildPartitions = 4)).build(pages.toDS(), "longdoc")
    val x = new IndexSearch(spark, new IndexReader(spark, d, -1L))
    val byLength = x.reader.tfTables.map(_.select("docId")).reduce(_.unionByName(_))
      .groupBy("docId").count()
    val longDoc = byLength.orderBy(desc("count")).first().getLong(0)
    val shortDoc = byLength.orderBy(asc("count")).first().getLong(0)
    val tvBytes = x.reader.termVector(longDoc).bytes
    // a capacity one byte short of the long doc's vector
    val r = new IndexReader(spark, d, tvBytes - 1)
    val s = new IndexSearch(spark, r)
    s.termVectors(shortDoc).collect()
    s.boolTopK(Nil, Seq("t00", "t63"), Nil, 5).collect()
    val before = r.storeCounters
    assert(before.termVectorBytes > 0 && before.postingBytes > 0, before)
    // tables resolved outside the counted calls
    r.segmentsFor(Nil); r.tfTables; r.termstatsTables
    SparkJobs.withoutAqe {
      var got = Seq.empty[String]
      val first = SparkJobs.count("routes-tv-first") {
        got = s.termVectors(longDoc).collect().toSeq.map(_.toString).sorted
      }
      // not stored: the second call reads it again
      val again = SparkJobs.count("routes-tv-again")(s.termVectors(longDoc).collect())
      assert(first == 2 && again == 2, s"first $first, again $again")
      assert(got.size == vocab.size &&
        got == x.termVectors(longDoc).collect().toSeq.map(_.toString).sorted)
    }
    val after = r.storeCounters
    assert(after.copy(hits = before.hits, misses = before.misses) == before,
      s"\n before=$before\n after=$after")
  }

  test("one doc's slice is read under a fixed bound; a doc over it fails loudly, naming the docId") {
    val tv = new IndexReader(spark, dir, -1L).termVector(17L)
    val err = intercept[IllegalStateException](
      new IndexReader(spark, dir, -1L).termVector(17L, tv.bytes - 1))
    assert(err.getMessage.contains("doc 17 ") &&
      err.getMessage.contains(s"${tv.bytes - 1}-byte"), err.getMessage)
    // the default bound: the rows of termVectors(17)
    val atDefault = new IndexReader(spark, dir, -1L).termVector(17L)
    assert(atDefault.bytes == tv.bytes && atDefault.rows.toSeq.map(_.toString) ==
      new IndexSearch(spark, distributed).termVectors(17L).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)).toString))
  }

  test("a reader whose bound holds the postings but not the doc values counts in Spark, without retrying the load") {
    val terms = Seq("w00002", "w00300")
    val bound = onDriver.readPostings(onDriver.segmentsFor(terms, positions = false), 0L)
      .bytes.values.sum
    // 8 bytes a docId at least: no split of the docs scan fits `bound`
    assert(8 * onDriver.globals.n > bound)
    val tight = new IndexSearch(spark, new IndexReader(spark, dir, bound))
    val x = new IndexSearch(spark, distributed)
    assert(isLocal(tight.boolTopK(Nil, terms, Nil, 10)), "the postings do not fit the bound")
    // tables resolved outside the counted calls
    for (r <- Seq(tight.reader, distributed)) { r.segmentsFor(Nil); r.docsTables }
    SparkJobs.withoutAqe {
      val plan = SparkJobs.count("routes-facets-dist")(x.facets(terms, "lang").collect())
      var got = Seq.empty[(String, Long)]
      val first = SparkJobs.count("routes-facets-first") {
        got = facetRows(tight.facets(terms, "lang"))
      }
      val again = SparkJobs.count("routes-facets-again")(tight.facets(terms, "lang").collect())
      assert(got == facetRows(x.facets(terms, "lang")))
      // the load is one job on the first call, and none after its overflow
      assert(first == plan + 1 && again == plan, s"plan $plan, first $first, again $again")
    }
    assert(tight.reader.storeCounters.docValueBytes == 0)
  }

  test("positions are only read for the phrase kernels") {
    val r = new IndexReader(spark, dir)
    assert(r.segmentsFor(Seq("the"), positions = false).collect().forall(_.pos == null))
    assert(r.segmentsFor(Seq("the")).collect().exists(_.pos != null))
  }

  test("dictionary expansions keep the first maxExpansions terms, ascending") {
    val s = new IndexSearch(spark, dir)
    val all = s.termStats.select("term").as[String].collect()
      .filter(_.startsWith("w00")).sorted.toSeq
    assert(all.size > 8, s"prefix matches only ${all.size} terms")
    assert(s.firstTerms(col("term").startsWith("w00"), 8) == all.take(8))
    // the capped expansion is what prefixTopK scores
    assert(rows(s.prefixTopK("w00", 10, maxExpansions = 8)) ==
      rows(s.boolTopK(Nil, all.take(8), Nil, 10)))
  }
}
