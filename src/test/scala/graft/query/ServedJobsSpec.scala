package graft.query

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, length}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.corpus.SyntheticCorpus
import graft.index.{IndexBuilder, IndexParams}

/** Spark jobs per served call on a warm reader, pinned per query shape.
  * The reader resolves its tables once, so a call pays only its own work:
  * one job for a routed read, which sizes the query and returns its rows
  * together ([[IndexReader.readPostings]]); the serving-cache load and
  * `_explain` size their terms with that same read. A schema-inference
  * job or a separate metadata pass creeping back into a call fails here.
  * Counted with adaptive execution off, as the benchmark runs, so each
  * count is the plan's own job structure. */
class ServedJobsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private lazy val search: IndexSearch = {
    val dir = TestSpark.tmpDir("graft-idx-jobs")
    new IndexBuilder(spark, dir,
      IndexParams(buckets = 8, shardSize = 128, blockSize = 32,
        buildPartitions = 4, positions = true))
      .build(SyntheticCorpus.generate(spark, 400, seed = 5L, partitions = 4),
        "synthetic(seed=5,n=400)")
    new IndexSearch(spark, dir)
  }

  /** Jobs started by `f` on this thread (job group `group`). */
  private def jobs(group: String)(f: => Unit): Int = {
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try f finally {
      sc.clearJobGroup()
      ListenerBusSync.drain(sc)
      sc.removeSparkListener(listener)
    }
    n.get()
  }

  test("each served shape runs a fixed number of jobs on a warm reader") {
    import SyntheticCorpus.{Stopwords => sw, term => t}
    val reader = search.reader
    val shapes: Seq[(String, () => DataFrame, Int)] = Seq(
      ("bool", () => search.boolTopK(Seq(sw(1)), Seq(t(3)), Seq(t(60)), 10), 1),
      ("dis_max", () => search.disMaxTopK(Seq(t(2), t(30), t(300)), 0.3, 10), 1),
      ("phrase", () => reader.phraseTopK(Seq(sw(0), sw(1)), 10), 1),
      ("mlt", () => search.moreLikeThisTopK(7L, 8, 10), 3),
      ("facets", () => search.facets(Seq(t(4)), "lang"), 2),
      ("query_string", () => search.queryStringTopK(
        s"+${sw(2)} ${t(5)}^2.0 ${t(150)} -${t(400)}", 10), 1),
      ("dist_topk", () => reader.topK(Seq(t(7), t(900)), 10), 1),
      ("phrase_prefix", () => search.phrasePrefixTopK(Seq(sw(0), "w0"), 10), 3),
      ("rescore", () => search.rescoreTopK(Seq(sw(0), t(3)), Seq(sw(0), sw(1)),
        1, 30, 10), 4),
      ("top_hits", () => search.topHits(Seq(sw(0), t(3)), "lang", 3, 5), 6),
      ("function_score", () => search.fieldValueFactorTopK(Seq(sw(0), t(3)),
        search.docsMeta.select(col("docId"), length(col("url")).as("n")), "n",
        0.01, "ln1p", 10), 3),
      ("multi_match", () => IndexSearch.multiMatchTopK(
        Seq(search -> 2.0, search -> 1.0), Seq(sw(0), t(3)), 10), 3))
    // (name, call returning its result size, jobs): the frame shapes, then
    // the two calls that size terms without scoring them — the cache load
    // (the sizing read, then the resident terms' collect) and `_explain`
    // (the sizing read, then the doc's tf rows)
    val calls: Seq[(String, () => Int, Int)] =
      shapes.map { case (name, call, n) => (name, () => call().collect().length, n) } ++
        Seq(
          ("load_cache", () => reader.loadCache(Seq(sw(0), t(3), t(60))).resident.size, 2),
          ("explain", () => search.explainScore(7L, Seq(sw(0), sw(1))).collect().length, 2))
    val conf = spark.conf
    val aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val counts = calls.map { case (name, call, _) =>
        assert(call() > 0, s"$name: no rows") // warm the reader
        name -> jobs(s"served-jobs-$name")(call())
      }
      assert(counts == calls.map(s => s._1 -> s._3))
    } finally conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
