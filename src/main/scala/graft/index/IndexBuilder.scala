package graft.index

import java.nio.file.{Files, Paths}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.analyze.Analyzer
import graft.corpus.Page
import graft.extract.HtmlText
import graft.query.Bm25

/** Index layout parameters.
  *
  * @param buckets   term-hash buckets; postings are directory-partitioned by
  *                  `bucket = pmod(xxhash64(term), buckets)` so query-time
  *                  reads prune to the buckets of the query terms.
  * @param shardSize docIds per shard (docId range). Shards are the
  *                  *document-sharded* unit of query execution (each shard
  *                  holds every term's postings for its docId range) and the
  *                  *salt* of the build shuffle: a hot term's postings are
  *                  split across all shards, so no reducer owns `the`
  *                  (SURVEY.md §7.5 skew). At 10^12 docs this is ~10M docs
  *                  per shard; in-sandbox defaults keep tens of shards.
  * @param blockSize postings per compressed block (Block-Max WAND skip unit).
  */
final case class IndexParams(
    buckets: Int = 16,
    shardSize: Long = 4096,
    blockSize: Int = 128,
    buildPartitions: Int = 0,
    /** First docId this build assigns — non-zero for incremental
      * generations ([[IncrementalIndex.append]]), so every generation owns
      * a disjoint docId (and therefore shard) range. */
    idOffset: Long = 0L,
    /** Fixed docId-assignment decomposition: urls land in
      * `pmod(xxhash64(url), idBuckets)` buckets and ids are dense in
      * (bucket, url) order. A FIXED bucket count (not the partition count)
      * makes the assignment invariant to build parallelism — the same
      * corpus yields the same ids on 1 executor or 1000 — without the
      * range-partitioner sampling pass that re-reads the whole corpus.
      * Part of the index identity → recorded in the manifest params. */
    idBuckets: Int = 1024,
    /** Store per-posting token positions (delta + PForDelta inside each
      * block, boundaries implied by tfs) — enables exact phrase top-k
      * ([[graft.query.IndexReader.phraseTopK]]) at ~sumTf extra packed
      * ints per block. A founding param: phrase queries refuse an index
      * built without positions, and appends refuse to mix. */
    positions: Boolean = false) {
  def resolvedPartitions(spark: SparkSession): Int =
    if (buildPartitions > 0) buildPartitions else spark.sparkContext.defaultParallelism
  def asMap: Map[String, String] = Map(
    "buckets" -> buckets.toString, "shardSize" -> shardSize.toString,
    "blockSize" -> blockSize.toString, "idOffset" -> idOffset.toString,
    "idBuckets" -> idBuckets.toString,
    "positions" -> positions.toString,
    // posting-block codec identity: an append onto an index whose blocks
    // were written by a different codec must refuse, not misread
    "codec" -> "pfor1")
}

/** One compressed posting block for (term, shard): `n` postings whose
  * docIds/tfs/doclens are PForDelta-compressed (docIds delta-gap vs
  * `firstDocId`; `firstDocId` is the first posting's docId). The Block-Max
  * WAND skip bound is NOT stored: the block keeps its score-MONOTONE
  * extrema (`maxTf`, `minDl`) and the reader computes the bound with the
  * CURRENT corpus stats — so blocks stay valid when later generations
  * change N/avgdl/df (a build-time max score would go stale and silently
  * break WAND's pruning invariant). Routed and distributed reads use the
  * corner `Bm25.score(idf, maxTf, minDl, avgdl) >= max member score`; the
  * serving cache, whose stats are fixed for the reader's life, decodes
  * the block once at load and uses its exact member max raised by a
  * 1e-12 relative margin (`IndexReader.exactBlocks`). `df` is the term's
  * document frequency WITHIN THIS BUILD; the reader sums it across
  * generations for the merged idf.
  */
final case class SegmentRow(
    term: String, df: Long, shard: Long, blockId: Int,
    firstDocId: Long, lastDocId: Long, n: Int, maxTf: Long, minDl: Long,
    gaps: Array[Byte], tfs: Array[Byte], dls: Array[Byte],
    /** Concatenated per-posting token positions (delta within a posting,
      * PForDelta over the concatenation; boundaries = running tf sums).
      * Null when the index was built with `positions = false`. */
    pos: Array[Byte], bucket: Int)

final case class DocRow(docId: Long, url: String, text: String, lang: String)

/** One distinct (doc, term) pair with its in-doc frequency and the doc's
  * total token count (denormalized — saves the doclen join downstream).
  * `pos` carries the term's ascending 0-based token positions when the
  * build stores positions; null otherwise. */
final case class TfRow(docId: Long, term: String, tf: Long, dl: Long,
    pos: Array[Int])

final case class Globals(n: Long, sumDl: Long) {
  /** Deterministic across parallelism: long/long division in double —
    * never a floating `avg()` whose accumulation order varies. */
  def avgdl: Double = sumDl.toDouble / n.toDouble
}

object Globals {
  def write(indexDir: String, g: Globals): Unit =
    IndexIO.writeString(s"$indexDir/globals.json",
      s"""{"n": ${g.n}, "sumDl": ${g.sumDl}}""")
  def read(indexDir: String): Globals = {
    val s = IndexIO.readString(s"$indexDir/globals.json").getOrElse(
      throw new IllegalStateException(s"no globals.json under $indexDir"))
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
    Globals(m.get("n").asLong(), m.get("sumDl").asLong())
  }
}

/** Thrown by the test-only failure injection to simulate a killed build. */
final class InjectedFailure(stage: String)
  extends RuntimeException(s"injected failure after stage $stage")

/** SPIMI-style distributed inverted-index build over the north-rule corpus.
  *
  * Stage DAG (each stage = one materialized Parquet artifact + committed
  * [[StageManifest]]; a rerun skips committed stages → resumable):
  *
  *   docs      extract html→text (verified byte-identical to the stored
  *             reference text per url), assign dense docIds in
  *             (urlHash-partition, url) order — hash-partition on url +
  *             per-partition url sort + prefix-sum offsets: deterministic
  *             and parallelism-invariant with no single-partition window
  *             and no range-sampling pass (which would re-read the whole
  *             corpus once per build).
  *   tf        (docId, term, tf, dl) — shuffle-free narrow mapPartitions
  *             (per-doc SPIMI map phase; see stageTf).
  *   stats     termstats(term, df), globals(N, sumDl).
  *   postings  tf ⋈ termstats(broadcast) → repartition by (bucket, shard) →
  *             sortWithinPartitions(term, docId) → mapPartitions packs
  *             PForDelta blocks with per-block max BM25 score (SPIMI: each
  *             partition writes its own sorted run; because shard = docId
  *             range, the per-shard runs of one term concatenate in shard
  *             order into the globally docId-sorted posting list — the
  *             "external multi-way merge" is positional, never re-sorted).
  *
  * Scale notes: exactly three shuffles end to end — url hash-partition
  * (docIds), groupBy(term) (df stats), repartition(bucket, shard)
  * (postings); tf is narrow. Hot-term skew is defused
  * structurally: the build partitions by (bucket, shard), so a term with
  * df = 10^11 spreads over all shards instead of one reducer. Nothing is
  * ever collected to the driver except scalars and manifests.
  */
final class IndexBuilder(
    spark: SparkSession, indexDir: String, params: IndexParams = IndexParams()) {

  import spark.implicits._

  val docsPath = s"$indexDir/docs"
  val tfPath = s"$indexDir/tf"
  val termstatsPath = s"$indexDir/termstats"
  val postingsPath = s"$indexDir/postings"

  /** Per-file row counts from parquet FOOTERS only (driver-side, a few KB
    * per file via the Hadoop FS API) — r1 re-scanned the entire stage
    * output with a groupBy(input_file_name) job after every stage, adding
    * a full extra read of the artifact per commit; footer metadata is the
    * same numbers for free. */
  private def lineage(path: String): (Long, Seq[PartitionLineage]) = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val files = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) files += f.getPath
    }
    // Footer opens are independent metadata reads — do them on a small
    // driver-side pool. A partitionBy'd postings commit touches
    // buckets×partitions files; serial opens were the LARGEST fixed cost
    // in the build (a ~2.5 s driver-only tail per build that dilutes the
    // N→4N scaling ratio identically at every cluster size).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, math.max(1, files.size)))
    val per =
      try files.sortBy(_.toString).map { f =>
        pool.submit(new java.util.concurrent.Callable[PartitionLineage] {
          def call(): PartitionLineage = {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try PartitionLineage(f.getName, r.getRecordCount) finally r.close()
          }
        })
      }.map(_.get()).toSeq
      finally pool.shutdown()
    (per.map(_.rows).sum, per)
  }


  // Schema-pinned readers: a bare spark.read.parquet runs a small
  // schema-inference job per call (footer sampling) — six of them per
  // build, each a driver-serial ~0.2 s that dilutes the N→4N scaling
  // ratio. The stage schemas are static, so pin them.
  private val docSchema = implicitly[org.apache.spark.sql.Encoder[DocRow]].schema
  private val tfSchema = implicitly[org.apache.spark.sql.Encoder[TfRow]].schema
  private val tsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("term", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("df", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("total_tf", org.apache.spark.sql.types.LongType)))

  private def commit(stage: String, path: String, inputs: Seq[String],
      metrics: Map[String, String]): Unit = {
    val (rows, per) = lineage(path)
    val attempt = Manifest.read(indexDir, stage).map(_.attempt + 1).getOrElse(1)
    Manifest.write(indexDir,
      StageManifest(stage, "committed", rows, params.asMap, inputs, per, metrics, attempt))
  }

  private def skip(stage: String): Boolean =
    Manifest.isCommitted(indexDir, stage, params.asMap)

  /** Commit an externally-written docs artifact (the compaction path
    * reuses earlier generations' already-extracted docs tables and skips
    * stageDocs — extraction and id assignment never repeat). */
  def commitDocs(nDocs: Long, inputDesc: String): Unit =
    commit("docs", docsPath, Seq(inputDesc),
      Map("mismatches" -> "0", "n" -> nDocs.toString))

  /** Build the full index. `failAfterStage` is a test hook simulating a
    * kill between stages (resume test, BASELINE.md correctness gates). */
  def build(pages: Dataset[Page], inputDesc: String,
      failAfterStage: Option[String] = None): Unit = {
    def checkpoint(stage: String): Unit =
      if (failAfterStage.contains(stage)) throw new InjectedFailure(stage)

    def timed(stage: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      System.err.println(f"[graft-index] stage $stage%-9s ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    if (!skip("docs")) timed("docs")(stageDocs(pages, inputDesc))
    checkpoint("docs")
    if (!skip("tf")) timed("tf")(stageTf())
    checkpoint("tf")
    if (!skip("stats")) timed("stats")(stageStats())
    checkpoint("stats")
    if (!skip("postings")) timed("postings")(stagePostings())
    checkpoint("postings")
  }

  /** Stage 1: distributed extraction (byte-identity-verified) + dense docId
    * assignment in deterministic (urlHash-partition, url) order. */
  def stageDocs(pages: Dataset[Page], inputDesc: String): Unit = {
    val parts = params.resolvedPartitions(spark)
    val extractUdf = udf((html: Array[Byte]) => HtmlText.extract(html))

    // HASH-partition on a FIXED id-bucket of the url (not range-partition):
    // repartitionByRange's RangePartitioner executes the exchange's child
    // once just to sample bounds, i.e. a SECOND full corpus read per build
    // (~25% of the docs stage). Instead urls land in
    // pmod(xxhash64(url), idBuckets) buckets; dense ids follow
    // (bucket, url) order via per-bucket prefix-sum offsets. Because the
    // bucket count is an IndexParams CONSTANT (each bucket lives entirely
    // inside one partition), the assignment is invariant to build
    // parallelism AND needs no sampling pass
    // (ParallelismEquivalenceSpec pins 1-vs-7 identity).
    // Byte-identity gate (north rule): re-extracted text must equal the
    // reference-extracted text stored in the corpus, for every row.
    val idBuckets = params.idBuckets
    val sorted = pages
      .select($"url", $"html", $"text", $"lang")
      .withColumn("idb", pmod(xxhash64($"url"), lit(idBuckets.toLong)).cast("int"))
      .repartition(parts, $"idb")
      .sortWithinPartitions("idb", "url")
      .withColumn("extracted", extractUdf(col("html")))
      .select($"idb", $"url", $"extracted", $"text", $"lang")
      .persist()

    // One fused pass over the cached partitions: per-BUCKET row counts
    // (for the dense-docId prefix sum; rows arrive bucket-sorted so this
    // is a run-length count) AND the byte-identity mismatch count
    // (north-rule extraction gate).
    val counts = sorted.select($"idb", $"extracted", $"text")
      .as[(Int, String, String)].mapPartitions { it =>
        val perBucket = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
        var curB = -1
        var n = 0L
        var mism = 0L
        it.foreach { case (b, e, t) =>
          if (b != curB) { if (curB >= 0) perBucket += ((curB, n)); curB = b; n = 0L }
          n += 1
          if (e != t) mism += 1
        }
        if (curB >= 0) perBucket += ((curB, n))
        // bucket rows, plus one (-1, partitionMismatches) sentinel row
        perBucket.iterator ++ Iterator.single((-1, mism))
      }.collect()
    val mismatches = counts.collect { case (-1, m) => m }.sum
    require(mismatches == 0,
      s"HTML extraction not byte-identical to reference for $mismatches urls")
    val offsets = new Array[Long](idBuckets)
    var acc = params.idOffset // generation base — 0 for a standalone build
    counts.filter(_._1 >= 0).sortBy(_._1).foreach { case (b, c) =>
      offsets(b) = acc; acc += c
    }
    val nDocs = acc - params.idOffset
    val bc = spark.sparkContext.broadcast(offsets)

    val docs = sorted.select($"idb", $"url", $"extracted", $"lang")
      .as[(Int, String, String, String)]
      .mapPartitions { it =>
        var curB = -1
        var id = 0L
        it.map { case (b, url, text, lang) =>
          if (b != curB) { curB = b; id = bc.value(b) }
          val r = DocRow(id, url, text, lang); id += 1; r
        }
      }
    docs.write.mode(SaveMode.Overwrite).parquet(docsPath)
    sorted.unpersist()
    commit("docs", docsPath, Seq(inputDesc),
      Map("mismatches" -> "0", "n" -> nDocs.toString))
  }

  /** Stage 2: per-(doc, term) frequencies + doc length, denormalized into
    * one row shape (docId, term, tf, dl).
    *
    * SHUFFLE-FREE: tokenization and tf-counting happen per document inside
    * a narrow mapPartitions (the SPIMI map phase) — the naive
    * explode→groupBy(docId, term) plan shuffles every token occurrence
    * (~300 rows/doc → 3·10^14 rows at north-rule scale); this emits only
    * distinct (doc, term) pairs and never exchanges them. Carrying `dl` on
    * each row also deletes the doclen join from the postings stage. */
  def stageTf(): Unit = {
    val withPositions = params.positions
    spark.read.schema(docSchema).parquet(docsPath).select($"docId", $"text")
      .as[(Long, String)]
      .mapPartitions { it =>
        if (withPositions) it.flatMap { case (id, text) =>
          val (posMap, dl) = Analyzer.termPositionsLocal(text)
          val out = new Array[TfRow](posMap.size)
          val e = posMap.entrySet().iterator()
          var i = 0
          while (e.hasNext) {
            val kv = e.next()
            val ps = kv.getValue
            val arr = new Array[Int](ps.size())
            var j = 0
            while (j < arr.length) { arr(j) = ps.get(j); j += 1 }
            out(i) = TfRow(id, kv.getKey, arr.length.toLong, dl, arr)
            i += 1
          }
          out
        }
        else it.flatMap { case (id, text) =>
          val (counts, dl) = Analyzer.termFreqsLocal(text)
          val out = new Array[TfRow](counts.size)
          val e = counts.entrySet().iterator()
          var i = 0
          while (e.hasNext) {
            val kv = e.next()
            out(i) = TfRow(id, kv.getKey, kv.getValue, dl, null)
            i += 1
          }
          out
        }
      }
      .write.mode(SaveMode.Overwrite).parquet(tfPath)
    commit("tf", tfPath, Seq(docsPath), Map.empty)
  }

  /** Stage 3: corpus statistics — term document frequencies (the one
    * unavoidable by-term shuffle, map-side combined) and exact integer
    * globals (N, sumDl) for a parallelism-invariant avgdl. */
  def stageStats(): Unit = {
    val tf = spark.read.schema(tfSchema).parquet(tfPath)
    // ONE scan of tf AND one Spark job: df and per-term total_tf in the
    // same aggregate; sumDl rides the write action as an `observe`
    // metric (sum of per-term exact integers == total tokens) instead of
    // a second job over the written artifact.
    val obs = org.apache.spark.sql.Observation("stats")
    tf.groupBy($"term").agg(count(lit(1)).as("df"), sum($"tf").as("total_tf"))
      .observe(obs, coalesce(sum($"total_tf"), lit(0L)).as("sumDl"))
      .write.mode(SaveMode.Overwrite).parquet(termstatsPath)
    // n from the docs-stage manifest (no extra job; includes empty docs)
    val n = Manifest.read(indexDir, "docs")
      .flatMap(_.metrics.get("n").map(_.toLong))
      .getOrElse(spark.read.parquet(docsPath).count())
    val sumDl = obs.get("sumDl").asInstanceOf[Long]
    Globals.write(indexDir, Globals(n, sumDl))
    commit("stats", termstatsPath, Seq(tfPath),
      Map("n" -> n.toString, "sumDl" -> sumDl.toString))
  }

  /** Stage 4: SPIMI posting-block build. */
  def stagePostings(): Unit = {
    val parts = params.resolvedPartitions(spark)
    val g = Globals.read(indexDir)
    val n = g.n
    val avgdl = g.avgdl
    val shardSize = params.shardSize
    val blockSize = params.blockSize
    val nBuckets = params.buckets

    val tf = spark.read.schema(tfSchema).parquet(tfPath)
    val ts = spark.read.schema(tsSchema).parquet(termstatsPath)

    // df lookup: broadcast when the vocabulary fits one executor (web
    // vocabularies are heavy-tailed; tens of millions of terms is a few
    // hundred MB of (term, df)); otherwise fall back to a shuffle join.
    // Vocabulary size comes from the stats manifest — no counting job.
    val vocabSize = Manifest.read(indexDir, "stats").map(_.rows)
      .getOrElse(ts.count())
    val withDf =
      if (vocabSize <= 5_000_000L) tf.join(broadcast(ts), "term")
      else tf.join(ts, "term")

    val joined = withDf
      .select($"term", $"docId", $"tf", $"dl", $"df", $"pos")
      .withColumn("bucket", pmod(xxhash64($"term"), lit(nBuckets.toLong)).cast("int"))
      .withColumn("shard", expr(s"docId DIV $shardSize"))

    val packed = joined
      .repartition(parts, $"bucket", $"shard")
      .sortWithinPartitions($"term", $"docId")
      .select($"term", $"docId", $"tf", $"dl", $"df", $"bucket", $"shard", $"pos")
      .as[(String, Long, Long, Long, Long, Int, Long, Array[Int])]
      .mapPartitions { it =>
        new BlockPacker(it, shardSize, blockSize, nBuckets)
      }

    packed.write.mode(SaveMode.Overwrite)
      .partitionBy("bucket").parquet(postingsPath)
    commit("postings", postingsPath, Seq(tfPath, termstatsPath),
      Map("n" -> n.toString, "avgdl" -> avgdl.toString))
  }
}

/** Streaming block packer: consumes a (term, docId)-sorted run and emits
  * one [[SegmentRow]] per filled block, cutting at term change, shard
  * boundary (shard = docId DIV shardSize), or blockSize. Constant memory
  * per partition (one block buffer) — the SPIMI inner loop. Tracks the
  * score-monotone extrema (maxTf, minDl) instead of a baked max score —
  * see [[SegmentRow]].
  */
final class BlockPacker(
    rows: Iterator[(String, Long, Long, Long, Long, Int, Long, Array[Int])],
    shardSize: Long, blockSize: Int, nBuckets: Int)
  extends Iterator[SegmentRow] {

  private val in = rows.buffered
  private val ids = new Array[Long](blockSize)
  private val tfs = new Array[Long](blockSize)
  private val dls = new Array[Long](blockSize)
  private val poss = new Array[Array[Int]](blockSize)

  override def hasNext: Boolean = in.hasNext

  override def next(): SegmentRow = {
    val (term, d0, tf0, dl0, df, bucket, shard, p0) = in.next()
    var k = 0
    ids(0) = d0; tfs(0) = tf0; dls(0) = dl0; poss(0) = p0
    var maxTf = tf0
    var minDl = dl0
    k = 1
    var blockId = ((d0 % shardSize) / blockSize).toInt // stable id base; reassigned below
    while (k < blockSize && in.hasNext && {
        val h = in.head
        h._1 == term && (h._2 / shardSize) == shard
      }) {
      val (_, d, t, l, _, _, _, p) = in.next()
      ids(k) = d; tfs(k) = t; dls(k) = l; poss(k) = p
      if (t > maxTf) maxTf = t
      if (l < minDl) minDl = l
      k += 1
    }
    // blockId = ordinal of the first docId within the (term, shard) cell's
    // packing; derived from position so ids are deterministic under resume.
    blockId = blockOrdinal(term, shard, ids(0))
    SegmentRow(term, df, shard, blockId,
      ids(0), ids(k - 1), k, maxTf, minDl,
      PForDelta.encodeGaps(java.util.Arrays.copyOf(ids, k), ids(0)),
      PForDelta.encode(java.util.Arrays.copyOf(tfs, k)),
      PForDelta.encode(java.util.Arrays.copyOf(dls, k)),
      packPositions(k),
      bucket)
  }

  /** Positions blob: per posting, delta-code its ascending position list
    * (first absolute), concatenate, PForDelta the lot. Boundaries need no
    * storage — they are the block's running tf sums. Null when the build
    * carries no positions. */
  private def packPositions(k: Int): Array[Byte] = {
    if (poss(0) == null) return null
    var total = 0
    var i = 0
    while (i < k) { total += poss(i).length; i += 1 }
    val flat = new Array[Long](total)
    var o = 0
    i = 0
    while (i < k) {
      val p = poss(i)
      var j = 0
      var prev = 0
      while (j < p.length) {
        flat(o) = if (j == 0) p(0).toLong else (p(j) - prev).toLong
        prev = p(j)
        o += 1; j += 1
      }
      i += 1
    }
    PForDelta.encode(flat)
  }

  // Blocks of a (term, shard) cell are strictly increasing in firstDocId;
  // readers order by firstDocId, so the id only needs to be unique+ordered.
  private var lastTerm: String = null
  private var lastShard: Long = -1L
  private var ordinal: Int = 0
  private def blockOrdinal(term: String, shard: Long, firstDocId: Long): Int = {
    if (term != lastTerm || shard != lastShard) { lastTerm = term; lastShard = shard; ordinal = 0 }
    else ordinal += 1
    ordinal
  }
}
