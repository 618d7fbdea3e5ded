package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, length}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.corpus.SyntheticCorpus
import graft.index.{IndexBuilder, IndexParams}

/** Spark jobs per served call, pinned per query shape, cold and warm.
  * The reader resolves its tables once, so a call pays only its own work:
  * on a fresh reader (an empty posting store), one job for a routed read,
  * which sizes the query and returns its rows together
  * ([[IndexReader.readPostings]]), one job for each doc-values column
  * load, and two for each doc's term-vector load (its slice, then its
  * terms' dfs); the serving-cache load sizes its terms with that same
  * read. On a warm reader a routed read whose terms are all in the posting
  * store runs no job, facets count over resident doc values, mlt, term
  * vectors and `_explain` read the doc's resident term vector, and rescore
  * combines its two driver results on the driver. A schema-inference job,
  * a separate metadata pass or a skipped store lookup creeping into a call
  * fails here. Counted with adaptive execution off, as the benchmark runs,
  * so each count is the plan's own job structure. */
class ServedJobsSpec extends AnyFunSuite {
  import SyntheticCorpus.{Stopwords => sw, term => t}

  private lazy val spark = TestSpark.spark

  private lazy val dir: String = {
    val d = TestSpark.tmpDir("graft-idx-jobs")
    new IndexBuilder(spark, d,
      IndexParams(buckets = 8, shardSize = 128, blockSize = 32,
        buildPartitions = 4, positions = true))
      .build(SyntheticCorpus.generate(spark, 400, seed = 5L, partitions = 4),
        "synthetic(seed=5,n=400)")
    d
  }

  /** A search over a new reader — an empty posting store — whose tables
    * are already resolved, so its first call pays only its own jobs. */
  private def fresh(): IndexSearch = {
    val r = new IndexReader(spark, dir)
    r.segmentsFor(Nil); r.termstatsTables; r.docsTables; r.tfTables
    new IndexSearch(spark, r)
  }

  import SparkJobs.{count => jobs, withoutAqe}

  /** (name, call, jobs on a fresh reader, jobs on the second call). A
    * call gets two searches over separate readers, so multi_match's two
    * fields read as two indexes do. */
  private val shapes: Seq[(String, (IndexSearch, IndexSearch) => DataFrame, Int, Int)] = Seq(
    ("bool", (s, _) => s.boolTopK(Seq(sw(1)), Seq(t(3)), Seq(t(60)), 10), 1, 0),
    ("dis_max", (s, _) => s.disMaxTopK(Seq(t(2), t(30), t(300)), 0.3, 10), 1, 0),
    ("phrase", (s, _) => s.reader.phraseTopK(Seq(sw(0), sw(1)), 10), 1, 0),
    ("mlt", (s, _) => s.moreLikeThisTopK(7L, 8, 10), 3, 0),
    ("facets", (s, _) => s.facets(Seq(t(4)), "lang"), 2, 0),
    ("term_vectors", (s, _) => s.termVectors(7L), 2, 0),
    ("query_string", (s, _) => s.queryStringTopK(
      s"+${sw(2)} ${t(5)}^2.0 ${t(150)} -${t(400)}", 10), 1, 0),
    ("dist_topk", (s, _) => s.reader.topK(Seq(t(7), t(900)), 10), 1, 0),
    ("phrase_prefix", (s, _) => s.phrasePrefixTopK(Seq(sw(0), "w0"), 10), 3, 1),
    ("rescore", (s, _) => s.rescoreTopK(Seq(sw(0), t(3)), Seq(sw(0), sw(1)),
      1, 30, 10), 2, 0),
    ("top_hits", (s, _) => s.topHits(Seq(sw(0), t(3)), "lang", 3, 5), 6, 5),
    ("function_score", (s, _) => s.fieldValueFactorTopK(Seq(sw(0), t(3)),
      s.docsMeta.select(col("docId"), length(col("url")).as("n")), "n",
      0.01, "ln1p", 10), 3, 2),
    ("multi_match", (s, other) => IndexSearch.multiMatchTopK(
      Seq(s -> 2.0, other -> 1.0), Seq(sw(0), t(3)), 10), 3, 1))
  /** (name, call returning its result size, cold, warm): the frame
    * shapes, then the two calls that size terms without scoring them — the
    * cache load (the sizing read, then the resident terms' collect) and
    * `_explain` (the doc's term-vector load: its slice, then its terms'
    * dfs; warm, the vector is resident). */
  private val calls: Seq[(String, (IndexSearch, IndexSearch) => Int, Int, Int)] =
    shapes.map { case (name, call, c, w) =>
      (name, (s: IndexSearch, o: IndexSearch) => call(s, o).collect().length, c, w)
    } ++ Seq(
      ("load_cache", (s, _) => s.reader.loadCache(Seq(sw(0), t(3), t(60))).resident.size, 2, 2),
      ("explain", (s, _) => s.explainScore(7L, Seq(sw(0), sw(1))).collect().length, 2, 0))

  test("each served shape runs a fixed number of jobs on a fresh reader") {
    withoutAqe {
      val cold = calls.map { case (name, call, _, _) =>
        val (s, o) = (fresh(), fresh())
        name -> jobs(s"served-jobs-cold-$name")(assert(call(s, o) > 0, s"$name: no rows"))
      }
      assert(cold == calls.map(c => c._1 -> c._3))
    }
  }

  test("each served shape runs a fixed number of jobs on a warm reader") {
    withoutAqe {
      // one pair of readers: each call's second run
      val (s, o) = (fresh(), fresh())
      val warm = calls.map { case (name, call, _, _) =>
        assert(call(s, o) > 0, s"$name: no rows")
        name -> jobs(s"served-jobs-warm-$name")(call(s, o))
      }
      assert(warm == calls.map(c => c._1 -> c._4))
    }
  }

  test("a repeated routed read hits the posting store") {
    val s = fresh()
    val bool = () => s.boolTopK(Seq(sw(1)), Seq(t(3)), Seq(t(60)), 10).collect()
    val first = bool()
    val cold = s.reader.storeCounters
    assert(cold.hits == 0 && cold.misses == 1 && cold.entries == 3, cold)
    assert(cold.residentBytes > 0 && cold.residentBytes <= s.reader.maxDriverBytes)
    assert(bool().toSeq == first.toSeq)
    assert(s.reader.storeCounters == cold.copy(hits = 1))
  }
}
