package graft.index

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.corpus.SyntheticCorpus
import graft.query.{BruteForce, IndexReader}

/** The minimum end-to-end slice (SURVEY.md §7.2) plus the full
  * rank-identity differential over the fixture query set (FIXTURES.md §2):
  * 1,000 synthesized pages → extract (byte-identity) → stats → SPIMI
  * segments → Block-Max WAND top-k ≡ brute-force DataFrame BM25 oracle.
  */
class IndexEndToEndSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val indexDir = TestSpark.tmpDir("graft-index-e2e")
  private val params = IndexParams(buckets = 8, shardSize = 128, blockSize = 32,
    buildPartitions = 6)

  private lazy val built: IndexReader = {
    val pages = SyntheticCorpus.generate(spark, 1000, seed = 42L, partitions = 6)
    new IndexBuilder(spark, indexDir, params).build(pages, "synthetic(seed=42,n=1000)")
    new IndexReader(spark, indexDir)
  }

  test("build commits all four stage manifests") {
    built
    Seq("docs", "tf", "stats", "postings").foreach { s =>
      val m = Manifest.read(indexDir, s)
      assert(m.exists(_.status == "committed"), s"stage $s not committed")
      assert(m.get.rows > 0)
      assert(m.get.perPartition.nonEmpty, s"stage $s missing partition lineage")
    }
    assert(Manifest.read(indexDir, "docs").get.metrics("mismatches") == "0")
  }

  test("docIds are dense 0..n-1, one per url, deterministically ordered") {
    built
    import spark.implicits._
    val docs = spark.read.parquet(s"$indexDir/docs")
      .select("docId", "url").as[(Long, String)].collect().sortBy(_._1)
    assert(docs.map(_._1).sameElements(docs.indices.map(_.toLong)))
    assert(docs.map(_._2).distinct.length == docs.length)
    // id order = (idBucket, url): each bucket owns one contiguous id range
    // with urls ascending inside it — deterministic and INDEPENDENT of
    // build parallelism (cross-parallelism identity is pinned by
    // ParallelismEquivalenceSpec); global url order is intentionally not
    // promised (that would need the range-sampling corpus re-read)
    val withBucket = spark.read.parquet(s"$indexDir/docs")
      .select(org.apache.spark.sql.functions.col("docId"),
        org.apache.spark.sql.functions.col("url"),
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64(
            org.apache.spark.sql.functions.col("url")),
          org.apache.spark.sql.functions.lit(1024L)).cast("int").as("idb"))
      .as[(Long, String, Int)].collect().sortBy(_._1)
    withBucket.groupBy(_._3).foreach { case (_, rows) =>
      val ids = rows.map(_._1).sorted
      assert(ids.last - ids.head == ids.length - 1, "bucket id range not contiguous")
      assert(rows.sortBy(_._1).map(_._2).sameElements(rows.map(_._2).sorted),
        "urls not ascending within bucket")
    }
  }

  test("globals agree with tf aggregates; tf matches the Spark-function tokenizer") {
    built
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val g = Globals.read(indexDir)
    val tf = spark.read.parquet(s"$indexDir/tf")
    val sumDl = tf.agg(sum("tf")).as[Long].head()
    assert(g.n == 1000)
    assert(g.sumDl == sumDl)
    // dl denormalization is consistent: per doc, dl == sum(tf)
    assert(tf.groupBy("docId").agg(first("dl").as("dl"), sum("tf").as("s"))
      .filter(col("dl") =!= col("s")).count() == 0)
    // the JVM tokenizer (termFreqsLocal) ≡ the Catalyst tokensCol spec
    val docs = spark.read.parquet(s"$indexDir/docs")
    val fromCols = graft.analyze.Analyzer.termFreqs(docs, "docId", "text")
      .select($"docId", $"term", $"tf").as[(Long, String, Long)]
      .collect().sorted
    val fromTf = tf.select($"docId", $"term", $"tf").as[(Long, String, Long)]
      .collect().sorted
    assert(fromTf.sameElements(fromCols))
  }

  test("driver bucketOf matches Spark pmod(xxhash64(term), B)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val terms = SyntheticCorpus.Stopwords.take(10) ++ (0 until 10).map(SyntheticCorpus.term)
    val sparkBuckets = terms.toSeq.toDF("t")
      .select(pmod(xxhash64(col("t")), lit(8L)).cast("int")).as[Int].collect()
    val ours = terms.map(built.bucketOf(_, 8))
    assert(sparkBuckets.sameElements(ours))
  }

  test("posting lists decode to exactly the tf table") {
    built
    import spark.implicits._
    val fromTf = spark.read.parquet(s"$indexDir/tf")
      .select($"term", $"docId", $"tf", $"dl").as[(String, Long, Long, Long)]
      .collect().sortBy(t => (t._1, t._2))
    val fromSegments = spark.read.parquet(s"$indexDir/postings").as[SegmentRowRead]
      .collect().groupBy(_.term).toSeq.flatMap { case (t, rows) =>
        SegmentMerger.decodeGlobal(rows.map(_.toRow).toSeq)
          .map(p => (t, p.docId, p.tf, p.dl)).toSeq
      }.sortBy(t => (t._1, t._2))
    assert(fromSegments == fromTf.toSeq)
  }

  test("WAND top-k rank- and score-identical to brute-force oracle, k=10 and k=100") {
    built
    import spark.implicits._
    val docs = spark.read.parquet(s"$indexDir/docs")
    val queries = SyntheticCorpus.querySet()
    assert(queries.size == 50)
    val cache = built.loadCache(queries.flatten.distinct)
    val cases = queries.map(q => (q, 10)) ++ queries.take(10).map(q => (q, 100))
    for ((q, k) <- cases) {
      val oracle = BruteForce.topK(docs, "docId", "text", q, k)
        .as[(Long, Double)].collect()
      val wandLocal = built.topKLocal(cache, q, k)
      assert(wandLocal.map(_.docId).sameElements(oracle.map(_._1)),
        s"docId ranks differ for q=$q k=$k:\n oracle=${oracle.take(12).mkString(",")}\n wand=${wandLocal.take(12).mkString(",")}")
      wandLocal.zip(oracle).foreach { case (w, (d, s)) =>
        assert(w.score == s, s"score not bit-identical for q=$q doc=$d: ${w.score} vs $s")
      }
    }
  }

  test("distributed topK equals local topK") {
    built
    import spark.implicits._
    val queries = SyntheticCorpus.querySet().take(8)
    val cache = built.loadCache(queries.flatten.distinct)
    queries.foreach { q =>
      val dist = built.topK(q, 10).as[(Long, Double)].collect()
      val local = built.topKLocal(cache, q, 10)
      assert(dist.map(_._1).sameElements(local.map(_.docId)), s"distributed != local for $q")
      assert(dist.map(_._2).sameElements(local.map(_.score)))
    }
  }
}

/** Read-back row (bucket is the partition column, restored as Int). */
final case class SegmentRowRead(
    term: String, df: Long, shard: Long, blockId: Int,
    firstDocId: Long, lastDocId: Long, n: Int, maxTf: Long, minDl: Long,
    gaps: Array[Byte], tfs: Array[Byte], dls: Array[Byte],
    pos: Array[Byte], bucket: Int) {
  def toRow: SegmentRow = SegmentRow(term, df, shard, blockId, firstDocId,
    lastDocId, n, maxTf, minDl, gaps, tfs, dls, pos, bucket)
}
