package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.index.{Globals, IncrementalIndex, PForDelta}

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
  * ([[IndexReader.termCursor]]). Postings are read one way
  * ([[readPostings]]): one job over the bucket-pruned rows in which every
  * scan task returns the terms' per-generation dfs and posting bytes, and
  * its rows while they fit its share of a bound. The routed queries read
  * at the route bound ([[routedScores]]); [[loadCache]] reads at a zero
  * bound, which sizes the terms and returns no rows. A routed query's
  * total posting bytes pick its route:
  *  - at most `maxDriverBytes` (default [[IndexReader.DefaultMaxBytesPerTerm]],
  *    applied to the whole query): the same kernel runs per shard on the
  *    driver over the rows that job returned — one job, no shuffle;
  *  - above it: `groupByKey(shard).flatMapGroups` fans the query out to
  *    the executors and a TakeOrdered merges the candidates
  *    ([[shardCandidates]] — the one shard fan-out).
  * The rows a driver-route read returns fill the reader's posting store
  * ([[PostingStore]], an LRU within `maxDriverBytes` in total). A routed
  * query whose terms are all resident skips the read: on the driver route
  * it runs no job at all. The same store holds two more kinds under the
  * same bound: one docs column's doc values ([[docValues]], for facet
  * counts on the driver; loaded in one job by the same bounded-collect
  * rule, and an overflow is remembered for the reader's life, so facets
  * then count in Spark), and one doc's term vector with the dfs of its
  * terms ([[termVector]], what more-like-this, term vectors and
  * `_explain` read on every reader; loaded in two jobs under a fixed
  * per-doc bound). The store caches postings, doc values and term
  * vectors, never results, and never changes a route.
  * The kernels are shared, so both routes return identical rows. The
  * public constructor fixes the bound; the package-private one lets specs
  * pin a route. Reads prune to the query terms' hash
  * buckets (directory partition pruning) and push the term predicate into
  * Parquet.
  *
  * Block-Max bounds are computed HERE, not at build time, with the
  * CURRENT merged stats, so they stay correct as generations shift
  * N/avgdl/df. Which bound a block gets depends on the path:
  *  - routed and distributed reads: each block stores (maxTf, minDl) and
  *    the bound is the corner `Bm25.score(idf, maxTf, minDl, avgdl)`
  *    ([[IndexReader.boundedBlock]]) — BM25 is increasing in tf and
  *    decreasing in dl, so it dominates every member score without
  *    decoding the block;
  *  - the serving cache ([[loadCache]]): the reader's stats are fixed for
  *    its life, so each resident block's bound is computed once, at load,
  *    as the exact max of its members' scores raised by the relative
  *    margin [[IndexReader.BoundMargin]] ([[IndexReader.exactBlocks]]).
  *    The margin keeps a sum of bounds taken in any order above the
  *    ascending-term fold of the members' scores, which WAND's `ub <= θ`
  *    skip needs.
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

  /** The one postings read. Each scan task of `seg` folds its rows into
    * one (df, posting bytes) per (term, gen) it saw and returns its rows
    * while their running payload stays within `bound / <scan partitions>`
    * ([[IndexReader.readTask]]), so the driver never holds more than
    * `bound`. The driver merges the folds into the per-term GLOBAL df — a
    * shard sees only the generations that overlap it, so df cannot be
    * resolved inside the shard fan-out; generations are disjoint doc sets,
    * so it is the sum of one df per generation — and the per-term posting
    * bytes. One job, no shuffle. `rows` is null when some task overflowed
    * its share; a zero `bound` sizes the terms and returns no rows. */
  private[query] def readPostings(seg: Dataset[SegmentRead], bound: Long)
      : IndexReader.PostingsRead = {
    val scan = seg.rdd
    // locals only: the task closure must not capture the reader
    val share = bound / math.max(1, scan.getNumPartitions)
    val tasks = scan.mapPartitions(rows =>
      Iterator(IndexReader.readTask(rows, share))).collect()
    val perGen = tasks.flatMap(_._1)
      .groupMapReduce(_._1)(_._2)((a, b) => (a._1, a._2 + b._2))
    IndexReader.PostingsRead(
      perGen.groupMapReduce(_._1._1)(_._2._1)(_ + _),
      perGen.groupMapReduce(_._1._1)(_._2._2)(_ + _),
      if (tasks.forall(_._2 != null)) tasks.flatMap(_._2) else null)
  }

  /** This reader's posting store: the merged postings of terms read on
    * the driver route, the doc values and the term vectors, within
    * `maxDriverBytes` in total, so the store of a reader pinned to the
    * distributed route stays empty. The reader is a snapshot and the
    * kernels apply the tombstones, so entries never go stale. */
  private[query] val store = new PostingStore(maxDriverBytes)

  /** The posting store's hits, misses, evictions and resident bytes. */
  def storeCounters: StoreCounters = store.counters

  /** The docs columns whose doc values overflowed their bound: the reader
    * is a snapshot, so a retry would overflow again and facets on them
    * count in Spark without one. */
  private val overflowed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** `rdd`'s rows on the driver in one job: each task returns its rows
    * only while their running `bytes` fit `share`; None when some task
    * overflowed. */
  private def boundedCollect[T: scala.reflect.ClassTag](rdd: org.apache.spark.rdd.RDD[T],
      share: Long)(bytes: T => Long): Option[Array[T]] = {
    val tasks = rdd.mapPartitions(rows =>
      Iterator(IndexReader.keepTask(rows, share)(bytes))).collect()
    if (tasks.contains(null)) None else Some(tasks.flatten)
  }

  /** The resident doc values of `column`: on a miss, `frame` (docId,
    * column) over every generation is read in one job under the
    * [[readPostings]] rule (each task keeps its rows only while they fit
    * `maxDriverBytes / <partitions>`) and stored sorted by docId. None when
    * the reader stores nothing or the column overflowed its bound, which
    * is then remembered. */
  private[query] def docValues(column: String, frame: => DataFrame)
      : Option[PostingStore.DocValues] =
    if (store.capacity <= 0 || overflowed.contains(column)) None
    else store.docValues(column).orElse {
      val df = frame
      // locals only: the task closure must not capture the reader
      val rows = df.rdd.map(r => (r.getLong(0), r.get(1)))
      val loaded = boundedCollect(rows, maxDriverBytes / math.max(1, rows.getNumPartitions))(
        IndexReader.docValueBytes).map { rows =>
        val sorted = rows.sortBy(_._1)
        // one object per distinct value: a facet column repeats a few values
        val distinct = new java.util.HashMap[Any, Any]()
        val values = sorted.map { case (_, v) =>
          val seen = distinct.putIfAbsent(v, v)
          if (seen == null) v else seen
        }
        val dv = PostingStore.DocValues(sorted.map(_._1), values,
          df.schema(1), rows.iterator.map(IndexReader.docValueBytes).sum)
        store.insert(column, dv)
        dv
      }
      if (loaded.isEmpty) overflowed.add(column)
      loaded
    }

  /** One doc's (term, tf, dl) rows of every generation's tf artifact, the
    * docId predicate pushed into Parquet: `dl` rides every row
    * (denormalized at build time). The one read of a doc's slice. */
  private[query] def docSlice(docId: Long): DataFrame =
    tfTables.map(_.select("docId", "term", "tf", "dl")).reduce(_.unionByName(_))
      .filter(col("docId") === docId).select("term", "tf", "dl")

  /** One doc's term vector ([[PostingStore.TermVector]]): its (term, tf,
    * df) rows, terms ascending, with each term's df summed across
    * generations (the [[IndexSearch.termStats]] rule), and its length —
    * what more-like-this, term vectors and `_explain` read, on every
    * reader. On a store miss it is read in two jobs: the doc's slice
    * ([[docSlice]]), then, unless the slice is empty, every generation's
    * termstats rows of the slice's terms, summed per term on the driver
    * (at most terms × generations rows; no vocabulary aggregation). A term
    * the termstats lack drops. The vector is then stored; one larger than
    * the store's capacity is returned but not stored.
    *
    * Bound rule: the slice is read in one job in which every scan task
    * keeps its rows only while their bytes (the vector's byte rule) fit
    * `bound`, and the whole vector must fit `bound` too; a doc over it
    * fails loudly. The bound is not divided among the scan's partitions:
    * the docId predicate leaves the rows in the few row groups that hold
    * the doc, so a per-task share would make the outcome depend on file
    * layout. */
  private[query] def termVector(docId: Long,
      bound: Long = IndexReader.DefaultMaxBytesPerTerm): PostingStore.TermVector =
    store.termVector(docId).getOrElse {
      val slice = boundedCollect(docSlice(docId).rdd
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))), bound)(
          IndexReader.vectorRowBytes)
        .filter(_.iterator.map(IndexReader.vectorRowBytes).sum + 8L <= bound)
        .getOrElse(throw new IllegalStateException(s"the term vector of doc " +
          s"$docId is over the $bound-byte bound on one doc's slice"))
      val dfs =
        if (slice.isEmpty) Map.empty[String, Long]
        else termstatsTables.map(_.select("term", "df")).reduce(_.unionByName(_))
          .filter(col("term").isin(slice.map(_._1): _*)).collect()
          .groupMapReduce(_.getString(0))(_.getLong(1))(_ + _)
      val rows = slice.flatMap { case (t, tf, _) => dfs.get(t).map((t, tf, _)) }.sortBy(_._1)
      val tv = PostingStore.TermVector(rows, slice.headOption.fold(0L)(_._3),
        rows.iterator.map(IndexReader.vectorRowBytes).sum + 8L)
      store.insert(docId, tv)
      tv
    }

  /** The route choice behind every routed query over `terms` (positions
    * only when `positions`). The rule is the whole query's posting bytes:
    *  - at most `bound`: `kernel` runs per shard on the driver (Left:
    *    every shard's output, unmerged);
    *  - above it: [[shardCandidates]] (Right).
    * When every term is in the [[store]], its rows and dfs serve the
    * query: no Dataset, no job on the driver route. Otherwise
    * [[readPostings]] at `bound` reads the whole term set in one job; on
    * the driver route the kernel runs over the read's rows, or, when a
    * task overflowed its share, over a fresh collect of the scan, so the
    * route never depends on how the rows fell into tasks — and those rows
    * fill the store. Residency never picks the route: resident terms over
    * `bound` still go to [[shardCandidates]]. */
  private[query] def routedScores(terms: Seq[String], positions: Boolean,
      bound: Long)(kernel: Map[String, Long] => ShardKernel)
      : Either[Array[Scored], Dataset[Scored]] = {
    val ts = terms.distinct
    lazy val seg = segmentsFor(ts, positions)
    // (merged dfs, total posting bytes, the rows for the driver route)
    val (dfByTerm, bytes, rows) = store.lookup(ts.map((_, positions))) match {
      case Some(es) =>
        (ts.zip(es).collect { case (t, e) if e.df > 0 => t -> e.df }.toMap,
          es.map(_.bytes).sum, () => es.flatMap(_.rows).toArray)
      case None =>
        val read = readPostings(seg, bound)
        (read.dfByTerm, read.bytes.values.sum, () => {
          val rows = if (read.rows != null) read.rows else seg.collect()
          val byTerm = rows.groupBy(_.term)
          ts.foreach(t => store.insert((t, positions), PostingStore.Entry(
            read.dfByTerm.getOrElse(t, 0L), read.bytes.getOrElse(t, 0L),
            byTerm.getOrElse(t, Array.empty[SegmentRead]))))
          rows
        })
    }
    if (bytes > bound) Right(shardCandidates(seg, dfByTerm, kernel))
    else Left(IndexReader.onDriver(rows(), kernel(dfByTerm)).toArray)
  }

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

  /** Top-k over the shards of `terms`' postings as a (docId, score)
    * DataFrame ordered (score desc, docId asc), k rows, routed by the
    * query's total posting bytes ([[routedScores]]): a local relation of
    * the global head on the driver route, a TakeOrdered over shards × k
    * candidates on the distributed one. `kernel` builds the shard kernel
    * from the GLOBAL merged dfs; both routes run it unchanged, so they
    * return identical rows. */
  private[query] def topKFrame(terms: Seq[String], positions: Boolean, k: Int,
      bound: Long = maxDriverBytes)(
      kernel: Map[String, Long] => ShardKernel): DataFrame =
    topKOf(routedScores(terms, positions, bound)(kernel), k)

  /** A routed read's top-k frame ([[topKFrame]]) from its output. */
  private[query] def topKOf(routed: Either[Array[Scored], Dataset[Scored]],
      k: Int): DataFrame = routed match {
    case Left(all) => scoredFrame(IndexReader.head(all, k))
    case Right(cands) => cands.toDF("docId", "score")
      .orderBy(desc("score"), asc("docId"))
      .limit(k)
  }

  /** A routed read's untruncated frame ([[scoresFrame]]) from its output. */
  private[query] def scoresOf(routed: Either[Array[Scored], Dataset[Scored]])
      : DataFrame = routed match {
    case Left(all) => scoredFrame(all)
    case Right(cands) => cands.toDF("docId", "score")
  }

  /** `xs` as a local (docId, score) relation of `schema`. */
  private[query] def scoredFrame(xs: Array[Scored],
      schema: StructType = IndexReader.ScoredSchema): DataFrame =
    IndexReader.localFrame(spark, schema, xs.map(s => Row(s.docId, s.score)))

  /** Block-Max WAND over one shard. Locals only: the kernel is shipped to
    * the executors on the distributed route and must not capture `this`. */
  private def wandKernel(k: Int): Map[String, Long] => ShardKernel = {
    val (n, avgdl, del) = (globals.n, globals.avgdl, deletedBc)
    dfByTerm => IndexReader.shardTopK(n, avgdl, k, dfByTerm, del.value)
  }

  /** Block-Max WAND top-k. Result is a tiny DataFrame (docId, score)
    * ordered by (score desc, docId asc), k rows. */
  def topK(query: Seq[String], k: Int): DataFrame =
    topKFrame(query.distinct.sorted, positions = false, k)(wandKernel(k))

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
    val terms = phraseTerms(phrase, slop)
    val (n, avgdl, del) = (globals.n, globals.avgdl, deletedBc)
    topKFrame(terms, positions = true, k)(dfByTerm => (shard, rows) =>
      Phrase.shardHead(k, Phrase.shardScores(avgdl, phrase,
        IndexReader.phraseIdf(n, phrase, dfByTerm), del.value, slop)(shard, rows)))
  }

  /** EVERY phrase-matching doc's score, untruncated and unordered — the
    * composition primitive for rescoring (its scores meet a window, so
    * per-shard pre-truncation would drop contributors). Same pruned
    * postings read and route ([[routedScores]]) as [[phraseTopK]]; output
    * is match-set-sized, not corpus-sized. */
  private[query] def phraseScored(phrase: Seq[String], slop: Int)
      : Either[Array[Scored], Dataset[Scored]] = {
    val terms = phraseTerms(phrase, slop)
    val (n, avgdl, del) = (globals.n, globals.avgdl, deletedBc)
    routedScores(terms, positions = true, maxDriverBytes)(dfByTerm =>
      Phrase.shardScores(avgdl, phrase, IndexReader.phraseIdf(n, phrase,
        dfByTerm), del.value, slop))
  }

  /** [[routedScores]] as an untruncated (docId, score) DataFrame: a local
    * relation on the driver route, the shards' output on the distributed
    * one. */
  private[query] def scoresFrame(terms: Seq[String], positions: Boolean)(
      kernel: Map[String, Long] => ShardKernel): DataFrame =
    scoresOf(routedScores(terms, positions, maxDriverBytes)(kernel))

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

  private def phraseTerms(phrase: Seq[String], slop: Int): Seq[String] = {
    require(slop >= 0, "slop must be >= 0")
    require(phrase.nonEmpty, "empty phrase")
    requirePositions()
    phrase.distinct
  }

  /** Driver-local serving cache: term -> (merged df, globally docId-sorted
    * BOUNDED blocks). Because shard = docId range and generations own
    * disjoint docId ranges, concatenating a term's blocks across
    * (shard, firstDocId) order IS the external multi-way merge into the
    * term's global posting list (no re-sort — SURVEY.md §7.5). Bounds are
    * computed here with the merged stats, once per cache load: each
    * block's exact member max raised by [[IndexReader.BoundMargin]]
    * ([[IndexReader.exactBlocks]]; the load decodes every resident block's
    * tfs and dls once). Used for the p95 latency hot path (no job
    * scheduling per query).
    *
    * SCALE BOUND: at 10^12 docs a stopword's posting list is terabytes —
    * collecting it to the driver is the one thing this serving path must
    * never do. The one postings read ([[readPostings]] at a zero row
    * share: term → merged df and Σ posting bytes, positions pruned from
    * the scan, no rows returned) sizes every term FIRST; only terms within
    * `maxBytesPerTerm` have their blocks collected. Over-budget
    * terms are recorded in [[ServingCache.overBudget]] and any query
    * touching one routes through the exact distributed top-k inside
    * [[topKLocal]] — same ranking, executor-resident memory. The blocks
    * carry no positions. */
  def loadCache(terms: Seq[String],
      maxBytesPerTerm: Long = IndexReader.DefaultMaxBytesPerTerm): ServingCache = {
    val distinctTerms = terms.distinct
    // job 1: per-term merged df and posting bytes — the scan reads no
    // positions and no task returns its rows
    val sized = readPostings(segmentsFor(distinctTerms, positions = false), 0L)
    val over = sized.bytes.filter(_._2 > maxBytesPerTerm).keySet
    val residentTerms = distinctTerms.filterNot(over)
    // job 2: collect blocks for resident terms ONLY (term predicate pushed
    // into the Parquet scan; over-budget blocks never reach the driver)
    val resident =
      if (residentTerms.isEmpty) Map.empty[String, (Long, Array[SegBlock])]
      else segmentsFor(residentTerms, positions = false).collect()
        .groupBy(_.term)
        .map { case (t, rows) =>
          val df = sized.dfByTerm(t)
          val idf = Bm25.idf(globals.n, df)
          t -> (df, IndexReader.exactBlocks(rows.sortBy(r => (r.shard, r.firstDocId)),
            idf, globals.avgdl))
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
      return topKFrame(terms, positions = false, k,
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

/** Driver-resident serving cache with a per-term byte bound, sized by the
  * reader's one postings read ([[IndexReader.loadCache]]). `resident`
  * holds each term whose full merged posting list fits `maxBytesPerTerm`,
  * with its merged df from that read; `overBudget` names terms whose lists
  * stayed on the executors — queries touching them are served by the
  * routed top-k instead. */
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

  /** Default per-term driver budget for [[IndexReader.loadCache]], the
    * whole-query bound of the driver top-k route, and the fixed bound on
    * one doc's term-vector read ([[IndexReader.termVector]]): 64 MiB. Generous for
    * every real query term (a 64 MiB PForDelta posting list is ~tens of
    * millions of docs) while guaranteeing a stopword at 10^12-doc scale
    * cannot take down the serving driver — nor can 50 dictionary
    * expansions pull 50 × 64 MiB onto it. */
  val DefaultMaxBytesPerTerm: Long = 64L << 20

  /** Resident-tombstone cap: 4M docIds (32 MB sorted longs) — far above
    * any sane between-compaction delete churn, far below broadcast
    * hazard territory. */
  val MaxResidentDeletes: Int = 1 << 22

  /** (docId long, score double), neither nullable: the schema of every
    * (docId, score) result, on either route. */
  private[query] val ScoredSchema: StructType = StructType(Seq(
    StructField("docId", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  /** `rows` as a local relation of `schema`: Rows against a fixed schema,
    * so a driver-route result derives no encoder per call. */
  private[query] def localFrame(spark: SparkSession, schema: StructType,
      rows: Array[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** What [[IndexReader.readPostings]] returns: the per-term GLOBAL df,
    * the per-term posting bytes, and the rows when every scan task kept
    * its share (else null). */
  private[query] final case class PostingsRead(dfByTerm: Map[String, Long],
      bytes: Map[String, Long], rows: Array[SegmentRead])

  /** Posting bytes of one segment row: the gaps/tfs/dls payload, plus
    * positions when the row carries them. */
  private def rowBytes(r: SegmentRead): Long =
    r.gaps.length.toLong + r.tfs.length + r.dls.length +
      (if (r.pos == null) 0 else r.pos.length)

  /** One task of the one postings read ([[IndexReader.readPostings]]): its
    * rows folded into one (df, posting bytes) per (term, gen), and its rows
    * while their running payload stays within `share` (null once it
    * overflowed). */
  private[query] def readTask(rows: Iterator[SegmentRead], share: Long)
      : (Array[((String, Int), (Long, Long))], Array[SegmentRead]) = {
    val meta = scala.collection.mutable.HashMap.empty[(String, Int), (Long, Long)]
    var kept = Array.newBuilder[SegmentRead]
    var held = 0L
    rows.foreach { r =>
      val b = rowBytes(r)
      val key = (r.term, r.gen)
      meta(key) = (r.df, meta.get(key).fold(0L)(_._2) + b)
      if (kept != null) {
        held += b
        if (held <= share) kept += r else kept = null
      }
    }
    (meta.toArray, if (kept == null) null else kept.result())
  }

  /** One task of a bounded collect: its rows while their running `bytes`
    * stay within `share`, else null (it stops at the first row over). */
  private def keepTask[T: scala.reflect.ClassTag](rows: Iterator[T],
      share: Long)(bytes: T => Long): Array[T] = {
    val kept = Array.newBuilder[T]
    var held = 0L
    while (rows.hasNext) {
      val r = rows.next()
      held += bytes(r)
      if (held > share) return null
      kept += r
    }
    kept.result()
  }

  private def utf8Bytes(s: String): Long =
    org.apache.spark.unsafe.types.UTF8String.fromString(s).numBytes

  /** A doc value's bytes: 8 for the docId plus the value's payload (its
    * UTF-8 bytes for a string, 8 otherwise, 0 for null). */
  private def docValueBytes(row: (Long, Any)): Long = 8L + (row._2 match {
    case null => 0L
    case s: String => utf8Bytes(s)
    case _ => 8L
  })

  /** A term-vector row's bytes: the term's UTF-8 bytes plus 8 each for its
    * tf and df (a slice row's (term, tf, dl) counts the same). */
  private def vectorRowBytes(row: (String, Long, Long)): Long = utf8Bytes(row._1) + 16L

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

  /** Query-time Block-Max bound of the routed and distributed reads: BM25
    * is monotone ↑ in tf and ↓ in dl, so scoring the block's (maxTf, minDl)
    * corner with the current stats dominates every member score. */
  def boundedBlock(r: SegmentRead, idf: Double, avgdl: Double): SegBlock =
    SegBlock(r.firstDocId, r.lastDocId, r.n,
      Bm25.score(idf, r.maxTf.toDouble, r.minDl.toDouble, avgdl),
      r.gaps, r.tfs, r.dls, r.pos)

  /** Relative margin on the serving cache's exact block bounds. A sum of
    * m non-negative doubles folded in any order is within about m·2^-53 of
    * the real sum, so a bound raised by 1e-12 still dominates the
    * ascending-term fold of the members' scores for any query under
    * thousands of terms, while it stays within 1e-12 of the exact max. */
  val BoundMargin: Double = 1.0 + 1e-12

  /** Load-time Block-Max bounds of the serving cache ([[IndexReader.loadCache]]):
    * each block of `rows` (in the order given) bounded by the largest
    * `Bm25.score(idf, tf, dl, avgdl)` over its postings times
    * [[BoundMargin]]. Decodes each block's tfs and dls once, into two
    * buffers reused across the term's blocks; the blocks keep only their
    * compressed payloads. */
  private[query] def exactBlocks(rows: Array[SegmentRead], idf: Double,
      avgdl: Double): Array[SegBlock] = {
    val cap = rows.foldLeft(0)((m, r) => math.max(m, r.n))
    val (tfs, dls) = (new Array[Long](cap), new Array[Long](cap))
    rows.map { r =>
      PForDelta.decodeInto(r.tfs, r.n, tfs)
      PForDelta.decodeInto(r.dls, r.n, dls)
      var max = 0.0
      var j = 0
      while (j < r.n) {
        val s = Bm25.score(idf, tfs(j).toDouble, dls(j).toDouble, avgdl)
        if (s > max) max = s
        j += 1
      }
      SegBlock(r.firstDocId, r.lastDocId, r.n, max * BoundMargin,
        r.gaps, r.tfs, r.dls, r.pos)
    }
  }

  /** One term's [[TermCursor]] over its rows within one shard: blocks in
    * docId order, Block-Max bounds from `idf` and the current avgdl. */
  private[query] def termCursor(t: String, rs: Array[SegmentRead], idf: Double,
      avgdl: Double): TermCursor =
    new TermCursor(t, idf, rs.sortBy(_.firstDocId)
      .map(r => boundedBlock(r, idf, avgdl)), avgdl)

  /** Executor-side per-shard WAND — a top-level function so the Spark
    * closure captures only (n, avgdl, k, dfByTerm), never the reader
    * instance. `dfByTerm` carries the GLOBAL df of every term in `rows`
    * ([[IndexReader.readPostings]]; a shard only sees its own generations'
    * rows). */
  def shardTopK(n: Long, avgdl: Double, k: Int, dfByTerm: Map[String, Long],
      deleted: Array[Long] = null)(
      shard: Long, rows: Iterator[SegmentRead]): Iterator[Scored] = {
    val cursors = rows.toArray.groupBy(_.term).map { case (t, rs) =>
      termCursor(t, rs, Bm25.idf(n, dfByTerm(t)), avgdl)
    }.toArray
    Wand.topK(cursors, k, deleted).iterator
  }
}
