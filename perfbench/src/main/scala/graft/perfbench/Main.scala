package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.analyze.Analyzer
import graft.corpus.SyntheticCorpus
import graft.extract.HtmlText
import graft.index.PForDelta

/** Benchmark entry point: one workload, one seed, one process.
  *
  * {{{
  * Main --workload build|serve|ingest|pipeline --seed N --seconds S
  *      --trace 0|1 --work DIR --record FILE [--trace-out FILE]
  * }}}
  *
  * Untraced, it sets up `setupRounds` times (reporting the median CPU
  * cost), computes the oracles, warms up and runs the workload's closed
  * loop for S seconds.
  * Traced, it runs the loop for S/2 seconds untraced and S/2 seconds with
  * spans and Spark listener counters, reports the difference as tracing
  * overhead, then runs small instances of the other workloads and the
  * kernel probes so every per-layer metric is present. The run's record
  * (metrics, sample counts, failures, host readings) goes to FILE as one
  * JSON object. */
object Main {

  /** Full-size workloads (see perfbench/README.md for the sizing). */
  def workload(name: String): Workload = name match {
    case "build" => new BuildWorkload(docs = 1000)
    case "serve" => new ServeWorkload(docs = 3000)
    case "ingest" => new IngestWorkload(baseDocs = 600, batchDocs = 300, maxGenerations = 3)
    case "pipeline" => new PipelineWorkload(lines = 50000L)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Small instances for the traced run's sweep over the other layers. */
  def small(name: String): Workload = name match {
    case "serve" => new ServeWorkload(docs = 300)
    case "ingest" => new IngestWorkload(baseDocs = 300, batchDocs = 200, maxGenerations = 1,
      warm = false)
    case "pipeline" => new PipelineWorkload(lines = 20000L)
  }

  /** Workloads the sweep covers; the build stages are measured by the
    * serve workload's setup. */
  val SweepNames = Seq("serve", "ingest", "pipeline")

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    Files.createDirectories(Paths.get(work))

    val load0 = Host.loadAverage
    val probe0 = Host.cpuProbeMops()
    val cores = Runtime.getRuntime.availableProcessors
    Host.warmCalibration()
    val cal0 = Host.calibrationMs()
    val spark = session(cores, work)
    val tracer = new Tracer(false)
    val counters = new SparkCounters(spark)
    spark.sparkContext.addSparkListener(counters)
    val ctx = new Ctx(spark, seed, cores, work, tracer, counters)
    val wl = workload(name)
    val res = new Result
    val rec = new StringBuilder

    val t00 = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] ${Stats.secondsSince(t00)}%8.2f s  $what")
    phase("session up")
    // set-up cost as normalised CPU seconds (calling thread plus Spark
    // tasks, see Ctx.cpu), which the host's other tenants move far less
    // than wall time
    val setupRuns = (1 to (if (traced) 1 else wl.setupRounds)).map { r =>
      val ((_, cpuS, _), wall) = Stats.time(ctx.cpu(wl.setup(ctx, r)))
      (cpuS, wall)
    }
    res.e2e("setup_s") = (Stats.median(setupRuns.map(_._1)), "s")
    res.named("setup_wall_s") = Named(Stats.median(setupRuns.map(_._2)), "s", setupRuns.size)
    Host.sampleLiveHeap()
    phase("setup done")
    guarded(res, "prepare")(wl.prepare(ctx, res))
    phase("prepare done")
    Host.sampleLiveHeap()

    var self = Map.empty[String, Double]
    var traceWall = 0.0
    var overhead = Double.NaN
    if (!traced) guarded(res, "measure")(wl.measure(ctx, seconds, res))
    else {
      val base = new Result
      guarded(base, "measure")(wl.measure(ctx, seconds / 2, base))
      res.absorb(base)
      tracer.enabled = true
      val gc0 = Host.gcSeconds
      // the root span's own layer: its self time is the traced wall that
      // no layer or harness span covers
      tracer.span("workload", "unattributed")(guarded(res, "measure")(wl.measure(ctx, seconds / 2, res)))
      val root = tracer.all.find(_.name == "workload").get
      traceWall = root.seconds
      self = tracer.selfByLayer(root.id)
      res.layerMetric("jvm.gc_s", Host.gcSeconds - gc0, "s")
      overhead = (base.e2e.get("work_per_cpu_s"), res.e2e.get("work_per_cpu_s")) match {
        case (Some((b, _)), Some((t, _))) => b / t - 1.0
        case _ => Double.NaN
      }
      res.layerMetric("trace.wall_s", traceWall, "s")
      res.layerMetric("trace.unattributed_frac", self.getOrElse("unattributed", 0.0) / traceWall, "ratio")
      res.layerMetric("trace.overhead_frac", overhead, "ratio")
      // keep this workload's own untraced end-to-end numbers
      Seq("work_per_cpu_s", "op_cpu_ms").foreach(k => base.e2e.get(k).foreach(v => res.e2e(k) = v))
      base.named.foreach { case (k, v) => res.named(k) = v }
      phase("traced measure done")
      sweep(ctx, res, name, wl)
    }
    phase("measure done")
    Host.sampleLiveHeap()
    res.e2e("peak_heap_mb") = (Host.peakHeapMb, "MB")
    val probe1 = Host.cpuProbeMops()
    val cal1 = Host.calibrationMs()
    val load1 = Host.loadAverage
    if (traced) opt.get("trace-out").foreach(f => Files.writeString(Paths.get(f), tracer.toJson))
    spark.stop()

    import Stats.{num, str}
    def metricObj(m: Iterable[(String, (Double, String))]) = m.map { case (k, (v, u)) =>
      s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }.mkString("{", ",", "}")
    rec.append("{")
    rec.append(s"\"workload\":${str(name)},\"seed\":$seed,\"seconds\":${num(seconds)},\"trace\":${if (traced) 1 else 0},")
    rec.append(s"\"correct\":${res.failed == 0 && res.attempted > 0},\"attempted\":${res.attempted},\"failed\":${res.failed},")
    rec.append(s"\"failures\":${res.failures.map(str).mkString("[", ",", "]")},")
    rec.append(s"\"end_to_end\":${metricObj(res.e2e)},")
    rec.append(s"\"per_layer\":${metricObj(res.layer)},")
    rec.append("\"named\":" + res.named.map { case (k, n) =>
      s"${str(k)}:{\"value\":${num(n.value)},\"unit\":${str(n.unit)},\"samples\":${n.samples},\"note\":${str(n.note)}}"
    }.mkString("{", ",", "}") + ",")
    rec.append(s"\"self_time_s\":${self.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")},")
    rec.append(s"\"trace_wall_s\":${num(traceWall)},\"tracing_overhead_frac\":${num(overhead)},")
    rec.append(s"\"setup_runs_cpu_s\":${setupRuns.map(r => num(r._1)).mkString("[", ",", "]")},")
    rec.append(s"\"setup_runs_wall_s\":${setupRuns.map(r => num(r._2)).mkString("[", ",", "]")},")
    rec.append(s"\"host\":{\"cores\":$cores,\"probe_before_mops\":${num(probe0)},\"probe_after_mops\":${num(probe1)}," +
      s"\"load_before\":${num(load0)},\"load_after\":${num(load1)}," +
      s"\"calibration_before_ms\":${num(cal0)},\"calibration_after_ms\":${num(cal1)}},")
    rec.append(s"\"info\":${res.info.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")}")
    rec.append("}")
    Files.writeString(Paths.get(opt("record")), rec.toString)
  }

  /** An exception escaping a workload phase is one failed operation; the
    * run still reports what it measured. */
  private def guarded(res: Result, what: String)(body: => Unit): Unit =
    try body catch {
      case e: Exception =>
        res.attempted += 1
        res.fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** Traced runs only: small instances of the other workloads and the
    * kernel probes, so each traced run reports every per-layer metric. */
  private def sweep(ctx: Ctx, res: Result, name: String, wl: Workload): Unit = {
    val sctx = new Ctx(ctx.spark, ctx.seed, ctx.cores, s"${ctx.work}/sweep", ctx.tracer, ctx.counters)
    var serveIndex = wl match { case s: ServeWorkload => s.indexDir case _ => null }
    SweepNames.filter(_ != name).foreach { n =>
      val w = small(n)
      val r = new Result
      System.err.println(s"[perfbench] sweep $n")
      guarded(r, s"$n setup")(w.setup(sctx, 1))
      guarded(r, s"$n prepare")(w.prepare(sctx, r))
      ctx.tracer.span(s"sweep.$n", "harness")(guarded(r, s"$n measure")(w.measure(sctx, 1.0, r)))
      r.layer.foreach { case (k, v) => if (!res.layer.contains(k)) res.layer(k) = v }
      res.absorb(r, "sweep ")
      w match { case s: ServeWorkload => serveIndex = s.indexDir case _ => }
    }
    kernels(ctx, res, serveIndex)
  }

  /** Repeat `body` (one pass over the probe input) until `minS` seconds
    * have passed; returns passes per second. */
  private def rate(minS: Double)(body: => Unit): Double = {
    body // warm
    val t0 = System.nanoTime()
    var n = 0
    while (n < 3 || Stats.secondsSince(t0) < minS) { body; n += 1 }
    n / Stats.secondsSince(t0)
  }

  /** Single-thread kernel probes: extraction, analysis, posting codec. */
  private def kernels(ctx: Ctx, res: Result, indexDir: String): Unit = {
    val pages = (0 until 400).map(i => SyntheticCorpus.page(ctx.seed, i.toLong))
    val htmlBytes = pages.map(_.html.length.toLong).sum
    val extracted = ctx.tracer.span("kernel.extract", "extract") {
      val r = rate(0.5)(pages.foreach(p => HtmlText.extract(p.html)))
      res.attempt("extract kernel")(
        res.check("extract kernel")(pages.forall(p => HtmlText.extract(p.html) == p.text)))
      r
    }
    res.layerMetric("extract.mb_per_s", extracted * htmlBytes / 1e6, "MB/s")
    val tokens = pages.map(p => Analyzer.termFreqsLocal(p.text)._2).sum
    val analyzed = ctx.tracer.span("kernel.analyze", "analyze")(
      rate(0.5)(pages.foreach(p => Analyzer.termFreqsLocal(p.text))))
    res.layerMetric("analyze.mtokens_per_s", analyzed * tokens / 1e6, "Mtokens/s")

    val blocks = ctx.spark.read.parquet(s"$indexDir/postings")
      .select("firstDocId", "n", "gaps", "tfs", "dls").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]](2), r.getAs[Array[Byte]](3),
        r.getAs[Array[Byte]](4)))
    val postings = blocks.map(_._2.toLong).sum
    val decoded = blocks.map { case (f, n, g, t, d) =>
      (f, PForDelta.decodeGaps(g, n, f), PForDelta.decode(t, n), PForDelta.decode(d, n)) }
    val dec = ctx.tracer.span("kernel.decode", "index")(rate(0.5)(blocks.foreach { case (f, n, g, t, d) =>
      PForDelta.decodeGaps(g, n, f); PForDelta.decode(t, n); PForDelta.decode(d, n)
    }))
    val enc = ctx.tracer.span("kernel.encode", "index")(rate(0.5)(decoded.foreach { case (f, ids, t, d) =>
      PForDelta.encodeGaps(ids, f); PForDelta.encode(t); PForDelta.encode(d)
    }))
    res.attempt("codec round trip")(res.check("codec round trip")(decoded.zip(blocks).forall { case ((f, ids, t, d), (_, _, g, tb, db)) =>
      java.util.Arrays.equals(PForDelta.encodeGaps(ids, f), g) &&
        java.util.Arrays.equals(PForDelta.encode(t), tb) && java.util.Arrays.equals(PForDelta.encode(d), db)
    }))
    val bytes = blocks.map { case (_, _, g, t, d) => g.length + t.length + d.length.toLong }.sum
    res.layerMetric("codec.decode_mpostings_per_s", dec * postings / 1e6, "Mpostings/s")
    res.layerMetric("codec.encode_mpostings_per_s", enc * postings / 1e6, "Mpostings/s")
    res.layerMetric("codec.bits_per_posting", bytes * 8.0 / postings, "bits")
  }
}
