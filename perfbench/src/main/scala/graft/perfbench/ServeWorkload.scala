package graft.perfbench

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

import graft.corpus.SyntheticCorpus
import graft.index.IndexParams
import graft.query.{IndexReader, IndexSearch, Scored, ServingCache}
import graft.util.SplitMix64

/** One Spark-served query shape with its brute-force oracle answer. */
final case class Shape(name: String, served: () => Seq[Any], oracle: Seq[Any])

/** Query serving over one positional index built in setup (untimed by the
  * loop). Two closed loops: (a) driver-resident Block-Max WAND over the
  * seeded query set, `cores` clients then one client; (b) the
  * Spark-served shapes round-robin on one client. Query does all the
  * work in the loop; the build runs only in setup, so `setup_s` is the
  * build's time and the loop's numbers are the query layer's.
  *
  * End to end: `work_per_cpu_s` is WAND queries per normalised
  * CPU-second over the query mix, from the median of many whole passes;
  * `op_cpu_ms` the mean over the served shapes of each shape's median
  * normalised CPU cost (calling thread plus Spark tasks). Wall-clock
  * percentiles and the `cores`-client rate are reported beside them.
  *
  * Size: at 3,000 docs the head terms' posting lists span 24 blocks of
  * 128, so block-max skipping has blocks to skip, and every tail term of
  * the query sets matches documents. */
final class ServeWorkload(val docs: Int) extends Workload {
  val name = "serve"
  /** Few buckets and partitions: a build's fixed cost is its per-file
    * commits and per-task overhead, and setup runs it three times per
    * run. shardSize gives the served shapes several shards to fan out
    * over. */
  val params = IndexParams(buckets = 4, shardSize = 1024, blockSize = 128,
    buildPartitions = 4, positions = true)
  val K = 10
  /** Query sets per seed: four `querySet`s (200 queries) average out the
    * draw of head, tail and stopword terms, so the mix costs about the
    * same for every seed (with two, the median pass moved 20% between
    * seeds). */
  val QuerySets = 4
  /** Fewest single-client passes over the query mix. */
  val MinPasses = 20
  /** WAND passes after each served call, so the passes are spread over
    * the whole loop. */
  val PassesPerShape = 4
  val WarmPasses = 100

  var indexDir: String = _
  private var reader: IndexReader = _
  private var cache: ServingCache = _
  private var queries: IndexedSeq[(String, Seq[String])] = _
  /** Each query's oracle answer, by its position in `queries`. */
  private var wandOracle: IndexedSeq[IndexedSeq[(Long, Double)]] = _
  private var shapes: Seq[Shape] = _


  /** The last setup's build, stage by stage (seconds, Spark work). */
  private var setupStages: Seq[(String, Double, SparkWindow)] = Nil

  def setup(ctx: Ctx, round: Int): Unit = {
    val dir = ctx.dir(s"serve-setup-$round")
    ctx.rm(dir)
    setupStages = BuildWorkload.stages(ctx, dir, params,
      SyntheticCorpus.generate(ctx.spark, docs.toLong, ctx.seed, partitions = 8),
      s"synthetic(seed=${ctx.seed},n=$docs)", round)
    if (indexDir != null) ctx.rm(indexDir)
    indexDir = dir
  }

  /** querySet's fixed layout: 10 head, 10 tail, 20 two-term, 10
    * stopword-heavy queries. */
  private def queryClass(i: Int): String =
    if (i < 10) "head" else if (i < 20) "tail" else if (i < 40) "two_term" else "stopword"

  def prepare(ctx: Ctx, res: Result): Unit = {
    val spark = ctx.spark
    reader = new IndexReader(spark, indexDir)
    val search = new IndexSearch(spark, reader)
    queries = (0 until QuerySets).flatMap { j =>
      SyntheticCorpus.querySet(ctx.seed * QuerySets + j).zipWithIndex
        .map { case (q, i) => (queryClass(i), q) }
    }
    cache = reader.loadCache(queries.flatMap(_._2).distinct)
    // oracle (a): driver-side exhaustive BM25 for every query, and the
    // distributed top-k on the same reader for one query per class
    val docsDf = spark.read.parquet(s"$indexDir/docs").select("docId", "text", "lang")
    val brute = new LocalBrute(docsDf)
    val byQuery = Oracle.parallel(queries.map(_._2).distinct, ctx.cores)(q => q -> brute.topK(q, K)).toMap
    wandOracle = queries.map(q => byQuery(q._2).toIndexedSeq)
    val perClass = queries.groupBy(_._1).values.map(_.head._2).toSeq
    // oracle (b): each served shape's brute-force form
    val rng = SplitMix64.stream(ctx.seed, -7L)
    def t(lo: Int, span: Int) = SyntheticCorpus.term(lo + rng.nextInt(span))
    def sw(n: Int) = SyntheticCorpus.Stopwords(rng.nextInt(n))
    val (must, should, not) = (Seq(sw(10)), Seq(t(0, 50)), Seq(t(50, 150)))
    val dis = Seq(t(0, 20), t(20, 200), t(220, 2000))
    val phrase = Seq(sw(5), sw(5))
    val mltDoc = rng.nextInt(docs).toLong
    val facetTerms = Seq(t(0, 30))
    val qsClauses = Seq(("+", sw(10), 1.0), ("", t(0, 100), 2.0), ("", t(100, 300), 1.0),
      ("-", t(300, 600), 1.0))
    val qs = qsClauses.map { case (o, w, b) => if (b == 1.0) s"$o$w" else s"$o$w^$b" }.mkString(" ")
    val dist = Seq(t(0, 200), t(200, 5000))
    def facetRows(df: DataFrame): Seq[Any] =
      df.collect().map(r => s"${r.get(0)}:${r.getLong(1)}").toSeq.sorted
    val defs: Seq[(String, () => Seq[Any], () => Seq[Any])] = Seq(
      ("bool", () => Oracle.rows(search.boolTopK(must, should, not, K)),
        () => brute.boolTopK(must, should, not, K)),
      ("dis_max", () => Oracle.rows(search.disMaxTopK(dis, 0.3, K)),
        () => brute.disMaxTopK(dis, 0.3, K)),
      ("phrase", () => Oracle.rows(reader.phraseTopK(phrase, K)),
        () => brute.phraseTopK(phrase, K)),
      ("mlt", () => Oracle.rows(search.moreLikeThisTopK(mltDoc, 8, K)),
        () => brute.moreLikeThisTopK(mltDoc, 8, K)),
      ("facets", () => facetRows(search.facets(facetTerms, "lang")),
        () => brute.facets(facetTerms)),
      ("query_string", () => Oracle.rows(search.queryStringTopK(qs, K)),
        () => brute.queryStringTopK(qsClauses, K)),
      ("dist_topk", () => Oracle.rows(reader.topK(dist, K)),
        () => brute.topK(dist, K)))
    shapes = Oracle.parallel(defs, ctx.cores) { case (n, served, brute) => Shape(n, served, brute()) }
    shapes.filter(_.oracle.isEmpty).foreach(s => res.fail(s"serve ${s.name}: the oracle answer is empty"))
    // warm-up: codegen for every served plan, then JIT for the WAND
    // kernel. The shapes and the distributed top-k checks run
    // concurrently: the first call of each is compile-bound. They go
    // first because the classes they load can undo the JIT's compiled
    // WAND code. WAND passes keep getting cheaper until the JIT's last
    // tier has compiled the kernel, some 20,000 queries in; the passes
    // run on every core to get there sooner.
    val warm: Seq[(String, () => Seq[Any], Seq[Any])] =
      shapes.map(s => (s"serve ${s.name} warm-up", s.served, s.oracle)) ++
        perClass.map(q => (s"serve distributed top-k $q", () => Oracle.rows(reader.topK(q, K)), byQuery(q)))
    Oracle.parallel(warm, ctx.cores) { case (what, served, oracle) =>
      res.attempt(what)(served()).foreach(r => res.check(what)(r == oracle))
    }
    Oracle.parallel(0 until WarmPasses, ctx.cores)(_ =>
      queries.foreach(q => reader.topKLocal(cache, q._2, K)))
    res.info("serve_docs") = docs.toString
    res.info("serve_text_bytes") = docsDf.selectExpr("sum(octet_length(text))").head().getLong(0).toString
    res.info("serve_resident_bytes") = cache.residentBytes.toString
    res.info("serve_max_bytes_per_term") = cache.maxBytesPerTerm.toString
    res.info("serve_queries") = queries.size.toString
    res.info("serve_empty_answers") = wandOracle.count(_.isEmpty).toString
    res.info("serve_longest_list_blocks") = cache.resident.valuesIterator.map(_._2.length).max.toString
  }

  /** One WAND query; the exception, if it threw. */
  private def wand(q: Seq[String]): Either[Exception, Array[Scored]] =
    try Right(reader.topKLocal(cache, q, K)) catch { case e: Exception => Left(e) }

  /** Oracle check of query `i`'s answer, outside any timed region. */
  private def wandOk(i: Int, r: Either[Exception, Array[Scored]]): Either[String, Unit] =
    r match {
      case Left(e) => Left(s"wand ${queries(i)._2}: ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(xs) if !Oracle.sameScored(xs, wandOracle(i)) =>
        Left(s"wand ${queries(i)._2}: result differs from the oracle")
      case _ => Right(())
    }

  def measure(ctx: Ctx, seconds: Double, res: Result): Unit = {
    val tr = ctx.tracer
    val start = System.nanoTime()
    // cold load: reader open + driver cache load, one sample per run
    val colds = res.attempt("cold load") {
      val t0 = System.nanoTime()
      val r = tr.span("serve.reader_open", "query")(new IndexReader(ctx.spark, indexDir))
      val (c, w) = tr.span("serve.load_cache", "query")(
        Stats.time(r.loadCache(queries.flatMap(_._2).distinct)))
      res.check("cold load residency")(c.residentBytes == cache.residentBytes)
      (Stats.secondsSince(t0), w)
    }.toSeq
    val budget = math.max(0.0, seconds - Stats.secondsSince(start))
    // (a1) one client, whole passes over the query mix. Only the WAND
    // calls are timed; the answers are checked after the pass. Each
    // pass's CPU time is normalised by a calibration pass right after it
    // (Host.normalised). More passes run between the served shapes
    // below, so the passes sample the whole loop rather than one stretch
    // of it. They run after (a2), which finishes the kernel's JIT
    // warm-up.
    val n = queries.size
    val lat = ArrayBuffer.empty[(String, Double)]
    val passCost = ArrayBuffer.empty[Double]
    var pass = 0
    def wandPass(): Unit = {
      val out = new Array[Either[Exception, Array[Scored]]](n)
      val ns = new Array[Long](n)
      val c0 = Host.threadCpuNs
      var i = 0
      while (i < n) {
        val q0 = System.nanoTime()
        out(i) = tr.span(s"wand.${queries(i)._1}", "query", pass.toLong * n + i)(wand(queries(i)._2))
        ns(i) = System.nanoTime() - q0
        i += 1
      }
      val cpuS = (Host.threadCpuNs - c0) / 1e9
      val cost = Host.normalised(cpuS, tr.span("calibration", "harness")(Host.calibrationNs()).toDouble)
      val ok = tr.span("check", "harness", pass) {
        res.attempted += n
        val bad = (0 until n).flatMap(i => wandOk(i, out(i)).left.toOption)
        bad.foreach(res.fail)
        bad.isEmpty
      }
      if (ok) {
        passCost += cost
        // latency samples from the first MinPasses passes only, so the
        // retained heap does not depend on how many passes fit
        if (pass < MinPasses) (0 until n).foreach(i => lat += ((queries(i)._1, ns(i) / 1e6)))
      }
      pass += 1
    }
    // (a2) `cores` clients, closed loop; per-thread counts, folded in after
    val stop = new AtomicBoolean(false)
    val mtSeconds = math.max(0.5, 0.05 * budget)
    val counts = Array.fill(ctx.cores)(new Array[Long](2))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val (_, mtWall) = tr.span("wand.clients", "query") {
      Stats.time {
        val threads = (0 until ctx.cores).map { c =>
          val th = new Thread(() => {
            val cnt = counts(c)
            var j = c * 7
            while (!stop.get()) {
              val i = j % n
              cnt(0) += 1
              wandOk(i, wand(queries(i)._2)) match {
                case Left(e) => cnt(1) += 1; if (errors.size < 20) errors.add(e)
                case _ =>
              }
              j += 1
            }
          })
          th.start(); th
        }
        Thread.sleep((mtSeconds * 1e3).toLong)
        stop.set(true)
        threads.foreach(_.join())
      }
    }
    val mtDone = counts.map(c => c(0) - c(1)).sum
    res.attempted += counts.map(_(0)).sum
    errors.forEach(e => res.fail(e))
    res.failed += counts.map(_(1)).sum - errors.size
    val t1 = System.nanoTime()
    while (pass < MinPasses || Stats.secondsSince(t1) < 0.05 * budget) wandPass()
    // (b) Spark-served shapes, one client, round-robin
    val search = ArrayBuffer.empty[(String, Double, SparkWindow)]
    val searchCpu = ArrayBuffer.empty[(String, Double)]
    var j = 0
    while (j < shapes.size || Stats.secondsSince(start) < seconds) {
      val s = shapes(j % shapes.size)
      // the latency is the served call alone, without ctx.cpu's
      // calibration passes and listener drains
      val ((r, ms), cpuS, w) = ctx.cpu {
        val q0 = System.nanoTime()
        val r = tr.span(s"search.${s.name}", "query", j)(res.attempt(s"serve ${s.name}")(s.served()))
        (r, (System.nanoTime() - q0) / 1e6)
      }
      r.foreach(rows => if (res.check(s"serve ${s.name}")(rows == s.oracle)) {
        search += ((s.name, ms, w))
        searchCpu += ((s.name, cpuS * 1e3))
      })
      (0 until PassesPerShape).foreach(_ => wandPass())
      j += 1
    }
    if (lat.isEmpty || colds.isEmpty || search.isEmpty || passCost.isEmpty) return
    val ls = lat.map(_._2).toSeq
    val qps = mtDone / mtWall
    // the whole query mix on one core, from the median pass
    res.e2e("work_per_cpu_s") = (n / Stats.median(passCost.toSeq), "1/s")
    // a served call's mean cost over the shape mix, each shape at its
    // median round
    val perShape = searchCpu.groupBy(_._1).values.map(xs => Stats.median(xs.map(_._2).toSeq)).toSeq
    res.e2e("op_cpu_ms") = (perShape.sum / perShape.size, "ms")
    res.named("query_p50_ms") = Named(Stats.median(ls), "ms", ls.size)
    Stats.tail(ls).foreach { case (p, v) =>
      res.named("query_p99_ms") = Named(v, "ms", ls.size, if (p == "p99") "" else s"reported at $p")
    }
    res.named("query_qps") = Named(qps, "1/s", mtDone.toInt, s"${ctx.cores} clients")
    val ss = search.map(_._2).toSeq
    if (ss.nonEmpty) {
      res.named("search_p50_ms") = Named(Stats.median(ss), "ms", ss.size)
      val p90note = if (ss.size >= 100) "" else "fewer than 10 samples beyond p90"
      res.named("search_p90_ms") = Named(Stats.quantile(ss, 0.9), "ms", ss.size, p90note)
    }
    res.named("cold_load_s") = Named(Stats.median(colds.map(_._1)), "s", colds.size)
    // per-layer numbers (kept in every run; reported from the traced one)
    BuildWorkload.stageMetrics(ctx, res, Seq(setupStages))
    res.layerMetric("serve.load_cache_s", Stats.median(colds.map(_._2)), "s")
    res.layerMetric("serve.resident_bytes", cache.residentBytes.toDouble, "bytes")
    res.layerMetric("serve.over_budget_terms", cache.overBudget.size.toDouble, "count")
    Seq("head", "tail", "two_term", "stopword").foreach { c =>
      val xs = lat.collect { case (`c`, v) => v }.toSeq
      if (xs.nonEmpty) res.layerMetric(s"wand.${c}_ms", Stats.median(xs), "ms")
    }
    shapes.foreach { s =>
      val rows = search.filter(_._1 == s.name).toSeq
      if (rows.nonEmpty) {
        res.layerMetric(s"search.${s.name}.ms", Stats.median(rows.map(_._2)), "ms")
        def med(f: SparkWindow => Double) = Stats.median(rows.map(r => f(r._3)))
        res.layerMetric(s"search.${s.name}.jobs", med(_.jobs.toDouble), "count")
        res.layerMetric(s"search.${s.name}.tasks", med(_.tasks.toDouble), "count")
        res.layerMetric(s"search.${s.name}.input_bytes", med(_.inputBytes.toDouble), "bytes")
        res.layerMetric(s"search.${s.name}.sched_s", med(_.driverS), "s")
      }
    }
  }
}
