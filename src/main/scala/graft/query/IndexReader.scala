package graft.query

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{Globals, IncrementalIndex}

/** Segment row as read back from the posting store (bucket is the
  * directory-partition column; `gen` tags which generation wrote it —
  * 0 for a standalone index). `df` is the generation-local document
  * frequency; the reader sums distinct generations for the merged idf. */
final case class SegmentRead(
    term: String, df: Long, shard: Long, blockId: Int,
    firstDocId: Long, lastDocId: Long, n: Int, maxTf: Long, minDl: Long,
    gaps: Array[Byte], tfs: Array[Byte], dls: Array[Byte],
    pos: Array[Byte], bucket: Int, gen: Int)

/** Query-side executor over a built index — standalone or generational
  * ([[IncrementalIndex]]: `gen-k` subdirectories, disjoint docId ranges).
  *
  * The reader is a point-in-time snapshot: generations, globals,
  * tombstones, the positions check and each generation's postings/
  * termstats/docs/tf tables (file listing and schema) are resolved once,
  * and every query reuses them — a served call runs no schema-inference
  * job.
  *
  * Top-k runs per document shard (shard = docId range), so the kernel
  * (WAND, phrase, or the clause kernel behind bool, dis_max, query_string,
  * top_hits, field_value_factor and multi_match) runs on each shard with
  * full independence and the global answer is the
  * (score desc, docId asc) head of shards × k candidate rows. Every kernel
  * reads postings through one block cursor, [[TermCursor]]
  * ([[IndexReader.termCursor]]). Each routed query runs one job over its
  * bucket-pruned rows ([[routedScores]]): every scan task returns the
  * terms' per-generation dfs and posting bytes, and its rows while they
  * fit its share of the bound. The query's total posting bytes pick the
  * route:
  *  - at most `maxDriverBytes` (default [[IndexReader.DefaultMaxBytesPerTerm]],
  *    applied to the whole query): the same kernel runs per shard on the
  *    driver over the rows that job returned — one job, no shuffle;
  *  - above it: `groupByKey(shard).flatMapGroups` fans the query out to
  *    the executors and a TakeOrdered merges the candidates
  *    ([[shardCandidates]] — the one shard fan-out).
  * The kernels are shared, so both routes return identical rows. The
  * public constructor fixes the bound; the package-private one lets specs
  * and the plan dump pin a route. Reads prune to the query terms' hash
  * buckets (directory partition pruning) and push the term predicate into
  * Parquet.
  *
  * Block-Max bounds are computed HERE, not at build time: each block
  * stores (maxTf, minDl) and the bound is
  * `Bm25.score(idf, maxTf, minDl, avgdl)` with the CURRENT merged stats —
  * BM25 is increasing in tf and decreasing in dl, so this dominates every
  * member score, and it stays correct as generations shift N/avgdl/df.
  *
  * This replaces the reference's delegation of querying to OpenSearch
  * (/root/reference/data-prepper-plugins/opensearch/... sink +
  * source/opensearch/OpenSearchSource.java) with an in-engine executor.
  */
final class IndexReader private[graft] (spark: SparkSession,
    val indexDir: String, private[query] val maxDriverBytes: Long) {
  import spark.implicits._
  import IndexReader.ShardKernel

  def this(spark: SparkSession, indexDir: String) =
    this(spark, indexDir, IndexReader.DefaultMaxBytesPerTerm)

  /** (gen, dir) pairs — (0, indexDir) for a standalone index. Visible to
    * the [[IndexSearch]] layer, which reads the same generations' stats/
    * docs/tf artifacts. */
  private[query] val gens: Seq[(Int, String)] = IncrementalIndex.genDirs(spark, indexDir)

  /** Each generation's `name` table, read (listed, schema inferred) once. */
  private def tables(name: String): Seq[DataFrame] =
    gens.map { case (_, d) => spark.read.parquet(s"$d/$name") }

  private lazy val postingsTables: Seq[DataFrame] = tables("postings")
  private[query] lazy val termstatsTables: Seq[DataFrame] = tables("termstats")
  private[query] lazy val docsTables: Seq[DataFrame] = tables("docs")
  private[query] lazy val tfTables: Seq[DataFrame] = tables("tf")

  /** Merged corpus stats: exact integer sums across generations. */
  val globals: Globals = gens.map { case (_, d) => Globals.read(d) }
    .reduce((a, b) => Globals(a.n + b.n, a.sumDl + b.sumDl))

  /** pmod(xxhash64(term), buckets) — same hash Spark computes at build
    * time (XxHash64 with seed 42 over UTF8 bytes). */
  def bucketOf(term: String, buckets: Int): Int = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(term)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
    (((h % buckets) + buckets) % buckets).toInt
  }

  /** Bucket modulus from the committed postings manifest — the value the
    * BUILD used (r1 counted bucket= directories on the local filesystem,
    * which breaks on object stores and undercounts when a bucket holds no
    * terms → wrong modulus → silently empty postings; ADVICE r1). All
    * generations must agree (append pins the founding params). */
  private val numBuckets: Int = {
    val bs = gens.map { case (_, d) =>
      graft.index.Manifest.read(d, "postings")
        .flatMap(_.params.get("buckets")).map(_.toInt)
        .getOrElse(throw new IllegalStateException(
          s"no committed postings manifest (with buckets param) under $d"))
    }.distinct
    require(bs.size == 1 && bs.head > 0,
      s"generations disagree on bucket count: $bs")
    bs.head
  }

  /** Tombstoned docIds ([[IncrementalIndex.deleteDocs]]), sorted for
    * binary search in the shard kernels; null when none. Loaded once per
    * reader (a reader opened before a delete keeps its snapshot — same
    * point-in-time visibility a Lucene IndexReader has). Tombstones are
    * churn between compactions, bounded like Lucene's .liv bitmaps — the
    * cap fails loudly with the fix (compact) rather than letting an
    * unbounded delete backlog grow into a driver/broadcast hazard. */
  private[query] val deletedSorted: Array[Long] = {
    IncrementalIndex.deletedIds(spark, indexDir) match {
      case None => null
      case Some(df) =>
        val arr = df.as[Long].collect()
        require(arr.length <= IndexReader.MaxResidentDeletes,
          s"${arr.length} tombstoned docIds exceed the resident cap " +
            s"(${IndexReader.MaxResidentDeletes}) — run " +
            "IncrementalIndex.maybeCompact/compactGenerations to apply " +
            "deletions physically before opening a reader")
        if (arr.isEmpty) null
        else { java.util.Arrays.sort(arr); arr }
    }
  }
  private[query] val deletedBc =
    spark.sparkContext.broadcast(deletedSorted)

  /** Segment rows for the query terms, bucket-pruned, across all
    * generations. `positions = false` leaves `pos` null, so the Parquet
    * scan never reads it; only the phrase kernels use positions. */
  def segmentsFor(terms: Seq[String],
      positions: Boolean = true): Dataset[SegmentRead] = {
    val buckets = terms.map(bucketOf(_, numBuckets)).distinct
    gens.zip(postingsTables).map { case ((g, _), t) =>
      val rows = t.where(col("bucket").isin(buckets.map(Integer.valueOf): _*) &&
          col("term").isin(terms: _*))
        .withColumn("gen", lit(g))
      if (positions) rows else rows.withColumn("pos", lit(null).cast("binary"))
    }.reduce(_.unionByName(_)).as[SegmentRead]
  }

  /** Per-term GLOBAL df for the query terms ([[termMeta]] without the
    * sizing, so the scan reads no payload). */
  private[query] def mergedDfMap(seg: Dataset[SegmentRead]): Map[String, Long] =
    termMeta(seg, sized = false)._1

  /** A metadata-only pass over `seg`: the per-term GLOBAL df — a shard
    * sees only the generations that overlap it, so df cannot be resolved
    * inside the shard fan-out; generations are disjoint doc sets, so it is
    * the sum of one df per generation. When `sized`, it also returns each
    * term's posting bytes ([[IndexReader.payloadBytes]]). Each scan task
    * folds its rows into one (df, bytes) per (term, gen) it saw and the
    * driver merges those — one stage, no shuffle. The routed reads get the
    * same numbers from their own scan ([[routedScores]]); this pass serves
    * [[mergedDfMap]]'s callers and [[loadCache]]'s sizing. */
  private[query] def termMeta(seg: Dataset[SegmentRead],
      sized: Boolean = true): (Map[String, Long], Map[String, Long]) = {
    val bytes = if (sized) IndexReader.payloadBytes else lit(0L)
    val perTask = seg.select(col("term"), col("gen"), col("df"), bytes)
      .as[(String, Int, Long, Long)]
      .mapPartitions { rows =>
        val acc = new IndexReader.MetaAcc
        rows.foreach { case (t, g, df, b) => acc.add(t, g, df, b) }
        acc.result.iterator
      }.collect()
    IndexReader.mergeMeta(perTask)
  }

  /** Top-k over `seg`'s shards, routed by the query's total posting
    * bytes ([[routedScores]]): at most `bound`, the global head is
    * computed on the driver (Left); above it, the per-shard candidates
    * stay a distributed Dataset for the caller's merge (Right). `kernel`
    * builds the shard kernel from the GLOBAL merged dfs; both routes run
    * it unchanged, so they return identical rows. */
  private[query] def shardHeads(seg: Dataset[SegmentRead], k: Int,
      bound: Long = maxDriverBytes)(
      kernel: Map[String, Long] => ShardKernel)
      : Either[Array[Scored], Dataset[Scored]] =
    routedScores(seg, bound)(kernel).left.map(IndexReader.head(_, k))

  /** The one-job read behind every routed query. Each scan task returns
    * its per-(term, gen) (df, posting bytes) — the numbers [[termMeta]]
    * computes — and, while its running payload stays within
    * `bound / <scan partitions>`, its rows, so the driver never holds
    * more than `bound`. The route rule is the whole query's bytes:
    *  - at most `bound` and every task kept its rows: `kernel` runs per
    *    shard on those rows (Left: every shard's output, unmerged);
    *  - at most `bound` but some task overflowed its share: [[driverHead]]
    *    collects the rows again and runs the kernel on them (every doc it
    *    emits, ordered) — the route never depends on how the rows fell
    *    into tasks;
    *  - above it: [[shardCandidates]] (Right).
    * One job and no shuffle on the driver route. */
  private[query] def routedScores(seg: Dataset[SegmentRead], bound: Long)(
      kernel: Map[String, Long] => ShardKernel)
      : Either[Array[Scored], Dataset[Scored]] = {
    val scan = seg.rdd
    // locals only: the task closure must not capture the reader
    val share = bound / math.max(1, scan.getNumPartitions)
    val tasks = scan.mapPartitions(rows =>
      Iterator(IndexReader.readTask(rows, share))).collect()
    val (dfByTerm, bytes) = IndexReader.mergeMeta(tasks.flatMap(_._1))
    if (bytes.values.sum > bound) Right(shardCandidates(seg, dfByTerm, kernel))
    else if (tasks.forall(_._2 != null))
      Left(IndexReader.onDriver(tasks.flatMap(_._2), kernel(dfByTerm)).toArray)
    else Left(driverHead(seg, Int.MaxValue, kernel(dfByTerm)))
  }

  /** Driver route from a fresh collect of the bucket-pruned rows (one
    * job, no shuffle): run `kernel` per shard, take the global head. */
  private[query] def driverHead(seg: Dataset[SegmentRead], k: Int,
      kernel: ShardKernel): Array[Scored] =
    IndexReader.head(IndexReader.onDriver(seg.collect(), kernel), k)

  /** Distributed route: `groupByKey(shard).flatMapGroups` fans `kernel`
    * out to every shard's postings; each task returns its local top-k. */
  private[query] def shardCandidates(seg: Dataset[SegmentRead],
      dfByTerm: Map[String, Long],
      kernel: Map[String, Long] => ShardKernel): Dataset[Scored] = {
    val dfBc = spark.sparkContext.broadcast(dfByTerm)
    seg.groupByKey(_.shard)
      .flatMapGroups((shard: Long, rows: Iterator[SegmentRead]) =>
        kernel(dfBc.value)(shard, rows))
  }

  /** [[shardHeads]] as a (docId, score) DataFrame ordered (score desc,
    * docId asc), k rows: a local relation on the driver route, a
    * TakeOrdered over shards × k candidates on the distributed one. */
  private[query] def topKFrame(seg: Dataset[SegmentRead], k: Int,
      bound: Long = maxDriverBytes)(
      kernel: Map[String, Long] => ShardKernel): DataFrame =
    shardHeads(seg, k, bound)(kernel) match {
      case Left(head) => head.toSeq.toDF("docId", "score")
      case Right(cands) => cands.toDF("docId", "score")
        .orderBy(desc("score"), asc("docId"))
        .limit(k)
    }

  /** Block-Max WAND over one shard. Locals only: the kernel is shipped to
    * the executors on the distributed route and must not capture `this`. */
  private def wandKernel(k: Int): Map[String, Long] => ShardKernel = {
    val (n, avgdl, del) = (globals.n, globals.avgdl, deletedBc)
    dfByTerm => IndexReader.shardTopK(n, avgdl, k, dfByTerm, del.value)
  }

  /** Block-Max WAND top-k. Result is a tiny DataFrame (docId, score)
    * ordered by (score desc, docId asc), k rows. */
  def topK(query: Seq[String], k: Int): DataFrame =
    topKFrame(segmentsFor(query.distinct.sorted, positions = false), k)(
      wandKernel(k))

  /** Phrase top-k over positional postings (see [[Phrase]]): `slop = 0`
    * (default) is the exact consecutive-position match; `slop > 0` the
    * ordered-proximity match (`match_phrase` + `slop` — greedy
    * minimal-stretch chains, semantics on
    * [[BruteForce.phraseSlopScoreAll]]). Requires an index built with
    * `IndexParams(positions = true)` — every generation's manifest is
    * checked and a positions-less index refuses loudly rather than
    * returning silently-empty matches. Result is (docId, score), k rows,
    * ordered (score desc, docId asc). */
  def phraseTopK(phrase: Seq[String], k: Int, slop: Int = 0): DataFrame = {
    val seg = phraseSegments(phrase, slop)
    val (n, avgdl, del) = (globals.n, globals.avgdl, deletedBc)
    topKFrame(seg, k)(dfByTerm =>
      Phrase.shardTopK(avgdl, k, phrase, IndexReader.phraseIdf(n, phrase,
        dfByTerm), del.value, slop))
  }

  /** EVERY phrase-matching doc's score, untruncated — (docId, score),
    * unordered. The composition primitive for rescoring (its scores join
    * a window, so per-shard pre-truncation would drop contributors). Same
    * pruned postings read and route as [[phraseTopK]]: a local frame on
    * the driver route, the shards' candidates on the distributed one;
    * output is match-set-sized, not corpus-sized. */
  def phraseScores(phrase: Seq[String], slop: Int = 0): DataFrame = {
    val seg = phraseSegments(phrase, slop)
    val (n, avgdl, del) = (globals.n, globals.avgdl, deletedBc)
    scoresFrame(seg)(dfByTerm =>
      Phrase.shardScores(avgdl, phrase, IndexReader.phraseIdf(n, phrase,
        dfByTerm), del.value, slop))
  }

  /** [[routedScores]] as an untruncated (docId, score) DataFrame: a local
    * relation on the driver route, the shards' output on the distributed
    * one. */
  private[query] def scoresFrame(seg: Dataset[SegmentRead])(
      kernel: Map[String, Long] => ShardKernel): DataFrame =
    routedScores(seg, maxDriverBytes)(kernel) match {
      case Left(all) => all.toSeq.toDF("docId", "score")
      case Right(cands) => cands.toDF("docId", "score")
    }

  /** The first generation built without positions, from the manifests
    * read once per reader; None when every generation has them. */
  private lazy val positionless: Option[String] = gens.collectFirst {
    case (g, d) if !graft.index.Manifest.read(d, "postings")
        .flatMap(_.params.get("positions")).contains("true") =>
      s"gen-$g at $d was built without positions — rebuild/append with " +
        "IndexParams(positions = true) to serve phrase queries"
  }

  /** Refuse loudly on a positions-less index (every generation's manifest
    * must record positions = true) — silent empty phrase matches would be
    * a wrong answer, not a degraded one. */
  private[query] def requirePositions(): Unit =
    require(positionless.isEmpty, positionless.getOrElse(""))

  private def phraseSegments(phrase: Seq[String], slop: Int)
      : Dataset[SegmentRead] = {
    require(slop >= 0, "slop must be >= 0")
    require(phrase.nonEmpty, "empty phrase")
    requirePositions()
    segmentsFor(phrase.distinct)
  }

  /** Driver-local serving cache: term -> (merged df, globally docId-sorted
    * BOUNDED blocks). Because shard = docId range and generations own
    * disjoint docId ranges, concatenating a term's blocks across
    * (shard, firstDocId) order IS the external multi-way merge into the
    * term's global posting list (no re-sort — SURVEY.md §7.5). Bounds are
    * precomputed here with the merged stats, once per cache load. Used for
    * the p95 latency hot path (no job scheduling per query).
    *
    * SCALE BOUND: at 10^12 docs a stopword's posting list is terabytes —
    * collecting it to the driver is the one thing this serving path must
    * never do. The metadata job ([[termMeta]]: term → Σ posting bytes,
    * positions pruned from the scan) sizes every term FIRST; only terms
    * within `maxBytesPerTerm` have their blocks collected. Over-budget
    * terms are recorded in [[ServingCache.overBudget]] and any query
    * touching one routes through the exact distributed top-k inside
    * [[topKLocal]] — same ranking, executor-resident memory. The blocks
    * carry no positions. */
  def loadCache(terms: Seq[String],
      maxBytesPerTerm: Long = IndexReader.DefaultMaxBytesPerTerm): ServingCache = {
    val distinctTerms = terms.distinct
    // job 1: per-term posting-byte totals — the Parquet scan reads the
    // term, gaps/tfs/dls columns and no positions
    val (_, sizes) = termMeta(segmentsFor(distinctTerms, positions = false))
    val over = sizes.filter(_._2 > maxBytesPerTerm).keySet
    val residentTerms = distinctTerms.filterNot(over)
    // job 2: collect blocks for resident terms ONLY (term predicate pushed
    // into the Parquet scan; over-budget blocks never reach the driver)
    val resident =
      if (residentTerms.isEmpty) Map.empty[String, (Long, Array[SegBlock])]
      else segmentsFor(residentTerms, positions = false).collect()
        .groupBy(_.term)
        .map { case (t, rows) =>
          val df = IndexReader.mergedDf(rows)
          val idf = Bm25.idf(globals.n, df)
          t -> (df, rows.sortBy(r => (r.shard, r.firstDocId))
            .map(r => IndexReader.boundedBlock(r, idf, globals.avgdl)))
        }
    ServingCache(resident, over, maxBytesPerTerm)
  }

  /** Single global Block-Max WAND over merged posting lists — the
    * serving-node hot path; threshold pruning spans the whole corpus.
    * Queries touching an over-budget term transparently fall back to the
    * routed top-k ([[topKFrame]]; rank-identical, its route bound drops to
    * the cache's per-term budget, so the driver never holds the hot term's
    * postings). */
  def topKLocal(cache: ServingCache, query: Seq[String], k: Int): Array[Scored] = {
    val terms = query.distinct.sorted
    if (terms.exists(cache.overBudget))
      return topKFrame(segmentsFor(terms, positions = false), k,
        math.min(maxDriverBytes, cache.maxBytesPerTerm))(wandKernel(k))
        .as[Scored].collect()
    val cursors = terms.flatMap { t =>
      cache.resident.get(t).map { case (df, blocks) =>
        new TermCursor(t, Bm25.idf(globals.n, df), blocks, globals.avgdl)
      }
    }.toArray
    Wand.topK(cursors, k, deletedSorted)
  }

}

/** Driver-resident serving cache with a per-term byte bound. `resident`
  * holds terms whose full merged posting lists fit `maxBytesPerTerm`;
  * `overBudget` names terms whose lists stayed on the executors — queries
  * touching them are served by the distributed top-k instead. */
final case class ServingCache(
    resident: Map[String, (Long, Array[SegBlock])],
    overBudget: Set[String],
    maxBytesPerTerm: Long) {
  /** Total bytes actually held on the driver (compressed block payloads). */
  def residentBytes: Long = resident.valuesIterator
    .flatMap(_._2.iterator)
    .map(b => b.gaps.length.toLong + b.tfs.length + b.dls.length).sum
}

object IndexReader {
  /** One shard's top-k: (shard, its segment rows) → local candidates. */
  type ShardKernel = (Long, Iterator[SegmentRead]) => Iterator[Scored]

  /** Default per-term driver budget for [[IndexReader.loadCache]], and the
    * whole-query bound of the driver top-k route: 64 MiB. Generous for
    * every real query term (a 64 MiB PForDelta posting list is ~tens of
    * millions of docs) while guaranteeing a stopword at 10^12-doc scale
    * cannot take down the serving driver — nor can 50 dictionary
    * expansions pull 50 × 64 MiB onto it. */
  val DefaultMaxBytesPerTerm: Long = 64L << 20

  /** Resident-tombstone cap: 4M docIds (32 MB sorted longs) — far above
    * any sane between-compaction delete churn, far below broadcast
    * hazard territory. */
  val MaxResidentDeletes: Int = 1 << 22

  /** Posting bytes of one segment row: the gaps/tfs/dls payload, plus
    * positions when the row carries them. */
  def payloadBytes: Column =
    (length(col("gaps")) + length(col("tfs")) + length(col("dls")) +
      coalesce(length(col("pos")), lit(0))).cast("long")

  /** Posting bytes of one segment row — [[payloadBytes]] on the object. */
  private def rowBytes(r: SegmentRead): Long =
    r.gaps.length.toLong + r.tfs.length + r.dls.length +
      (if (r.pos == null) 0 else r.pos.length)

  /** One scan task's per-(term, gen) (df, posting bytes) fold. */
  private[query] final class MetaAcc {
    private val acc = scala.collection.mutable.HashMap.empty[(String, Int), (Long, Long)]
    def add(t: String, g: Int, df: Long, b: Long): Unit =
      acc((t, g)) = (df, acc.get((t, g)).fold(0L)(_._2) + b)
    def result: Array[((String, Int), (Long, Long))] = acc.toArray
  }

  /** Merge the tasks' (term, gen) records: the per-term GLOBAL df (one df
    * per generation, summed) and the per-term posting bytes. */
  private[query] def mergeMeta(perTask: Array[((String, Int), (Long, Long))])
      : (Map[String, Long], Map[String, Long]) = {
    val perGen = perTask.groupMapReduce(_._1)(_._2)((a, b) => (a._1, a._2 + b._2))
    (perGen.groupMapReduce(_._1._1)(_._2._1)(_ + _),
      perGen.groupMapReduce(_._1._1)(_._2._2)(_ + _))
  }

  /** One task of the one-job read ([[IndexReader.routedScores]]): its
    * (term, gen) records, and its rows while their running payload stays
    * within `share` (null once it overflowed). */
  private[query] def readTask(rows: Iterator[SegmentRead], share: Long)
      : (Array[((String, Int), (Long, Long))], Array[SegmentRead]) = {
    val acc = new MetaAcc
    var kept = Array.newBuilder[SegmentRead]
    var held = 0L
    rows.foreach { r =>
      val b = rowBytes(r)
      acc.add(r.term, r.gen, r.df, b)
      if (kept != null) {
        held += b
        if (held <= share) kept += r else kept = null
      }
    }
    (acc.result, if (kept == null) null else kept.result())
  }

  /** Run `kernel` over each shard's rows on the driver. */
  private[query] def onDriver(rows: Array[SegmentRead], kernel: ShardKernel)
      : Iterator[Scored] =
    rows.groupBy(_.shard).iterator
      .flatMap { case (shard, rs) => kernel(shard, rs.iterator) }

  /** The global head of per-shard candidates: (score desc, docId asc),
    * k rows — the order every top-k route returns. */
  def head(xs: IterableOnce[Scored], k: Int): Array[Scored] =
    xs.iterator.toArray.sortBy(s => (-s.score, s.docId)).take(k)

  /** A phrase's slot-summed idf from GLOBAL dfs (duplicated slot terms
    * count per slot) — same fold order as BruteForce.phraseScoreAll. */
  def phraseIdf(n: Long, phrase: Seq[String], dfByTerm: Map[String, Long]): Double =
    phrase.map(t => Bm25.idf(n, dfByTerm.getOrElse(t, 0L))).sum

  /** Membership test against the sorted tombstone array (null = none). */
  @inline def isDeleted(del: Array[Long], id: Long): Boolean =
    del != null && java.util.Arrays.binarySearch(del, id) >= 0

  /** Merged document frequency: each generation baked its own df into its
    * rows, generations are disjoint doc sets, so the true df is the sum of
    * one df per generation present. */
  def mergedDf(rows: Array[SegmentRead]): Long =
    rows.groupBy(_.gen).map(_._2.head.df).sum

  /** Query-time Block-Max bound: BM25 is monotone ↑ in tf and ↓ in dl, so
    * scoring the block's (maxTf, minDl) corner with the current stats
    * dominates every member score. */
  def boundedBlock(r: SegmentRead, idf: Double, avgdl: Double): SegBlock =
    SegBlock(r.firstDocId, r.lastDocId, r.n,
      Bm25.score(idf, r.maxTf.toDouble, r.minDl.toDouble, avgdl),
      r.gaps, r.tfs, r.dls, r.pos)

  /** One term's [[TermCursor]] over its rows within one shard: blocks in
    * docId order, Block-Max bounds from `idf` and the current avgdl. */
  private[query] def termCursor(t: String, rs: Array[SegmentRead], idf: Double,
      avgdl: Double): TermCursor =
    new TermCursor(t, idf, rs.sortBy(_.firstDocId)
      .map(r => boundedBlock(r, idf, avgdl)), avgdl)

  /** Executor-side per-shard WAND — a top-level function so the Spark
    * closure captures only (n, avgdl, k, dfByTerm), never the reader
    * instance. `dfByTerm` carries the GLOBAL per-term df (a shard only
    * sees its own generations' rows). */
  def shardTopK(n: Long, avgdl: Double, k: Int, dfByTerm: Map[String, Long],
      deleted: Array[Long] = null)(
      shard: Long, rows: Iterator[SegmentRead]): Iterator[Scored] =
    Wand.topK(buildCursors(rows, n, avgdl, dfByTerm), k, deleted).iterator

  private def buildCursors(rows: Iterator[SegmentRead], n: Long,
      avgdl: Double, dfByTerm: Map[String, Long]): Array[TermCursor] = {
    val byTerm = rows.toArray.groupBy(_.term)
    byTerm.map { case (t, rs) =>
      termCursor(t, rs, Bm25.idf(n, dfByTerm.getOrElse(t, mergedDf(rs))), avgdl)
    }.toArray
  }
}
