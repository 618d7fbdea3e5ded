package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.PipelineYaml
import graft.sources.Sources

/** The reference's published performance chain as a `pipelines.yaml`, fed
  * through an `in_memory` source with seeded Apache access-log lines and
  * written by the `opensearch` sink (parquet). Each operation compiles and
  * runs the whole pipeline over the cached input. Only the pipeline layer
  * works; index and query stay idle. */
final class PipelineWorkload(val lines: Long) extends Workload {
  val name = "pipeline"
  val FailureTag = "_grokparsefailure"
  /** Fewest runs per loop; the end-to-end numbers are the median run's. */
  val MinRuns = 5
  override val setupRounds = 5
  val WarmRuns = 2

  val yaml: String =
    s"""perf-pipeline:
       |  source:
       |    in_memory:
       |      testing_key: perf-pipeline
       |  processor:
       |    - grok:
       |        match:
       |          message: [ "%{COMMONAPACHELOG}" ]
       |        tags_on_match_failure: [ "$FailureTag" ]
       |    - date:
       |        match:
       |          - key: timestamp
       |            patterns: [ "dd/MMM/yyyy:HH:mm:ss Z" ]
       |        destination: "@timestamp"
       |    - substitute_string:
       |        entries:
       |          - source: message
       |            from: ":"
       |            to: "-"
       |    - uppercase_string:
       |        with_keys: [ verb ]
       |    - trim_string:
       |        with_keys: [ request ]
       |    - split_string:
       |        entries:
       |          - source: request
       |            delimiter: "/"
       |    - key_value:
       |        source: httpversion
       |        destination: protocol
       |        value_split_characters: "/"
       |    - add_entries:
       |        entries:
       |          - key: service
       |            value: web
       |          - key: route
       |            format: "$${verb} $${response}"
       |    - rename_keys:
       |        entries:
       |          - from_key: clientip
       |            to_key: client_ip
       |    - copy_values:
       |        entries:
       |          - from_key: response
       |            to_key: status_code
       |    - delete_entries:
       |        with_keys: [ ident, auth ]
       |  sink:
       |    - opensearch:
       |        index: perf
       |""".stripMargin

  private var input: DataFrame = _
  private var refDigest: Long = _

  def setup(ctx: Ctx, round: Int): Unit = {
    val dir = ctx.dir(s"pipeline-setup-$round")
    ctx.rm(dir)
    Sources.logGenerator(ctx.spark, lines, ctx.seed).toDF("message")
      .write.parquet(s"$dir/lines")
    val df = ctx.spark.read.parquet(s"$dir/lines").cache()
    df.count()
    if (input != null) input.unpersist(true)
    input = df
  }

  /** Compile and run the pipeline into `out`; returns (compile s, run s). */
  private def runOnce(ctx: Ctx, out: String, op: Long): (Double, Double) = {
    val tr = ctx.tracer
    val (outs, compileS) = tr.span("pipeline.compile", "pipeline", op)(Stats.time(
      PipelineYaml.compile(ctx.spark, yaml, Map("perf-pipeline" -> input))))
    val (_, runS) = tr.span("pipeline.run", "pipeline", op)(Stats.time(
      PipelineYaml.runSinks(outs, Some(out))))
    (compileS, runS)
  }

  /** (rows, rows tagged with a grok failure, order-free row digest; rows
    * hash through their JSON form because map columns are unhashable). */
  private def inspect(ctx: Ctx, out: String): (Long, Long, Long) = {
    val df = ctx.spark.read.parquet(s"$out/perf")
    val failed =
      if (df.columns.contains("tags")) sum(when(array_contains(col("tags"), FailureTag), 1L).otherwise(0L))
      else lit(0L)
    val r = df.select(count(lit(1)), coalesce(failed, lit(0L)),
      sum(xxhash64(to_json(struct(df.columns.sorted.toSeq.map(c => col(s"`$c`")): _*))))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def verify(ctx: Ctx, res: Result, out: String, what: String): Boolean = {
    val (n, bad, d) = inspect(ctx, out)
    res.check(s"$what rows $n of $lines")(n == lines) &&
      res.check(s"$what grok failures $bad")(bad == 0L) &&
      res.check(s"$what digest")(refDigest == 0L || d == refDigest)
  }

  def prepare(ctx: Ctx, res: Result): Unit = {
    val out = ctx.dir("pipeline-warm")
    res.attempt("pipeline warm-up")(runOnce(ctx, out, -1L)).foreach { _ =>
      refDigest = 0L
      if (verify(ctx, res, out, "pipeline warm-up")) refDigest = inspect(ctx, out)._3
    }
    ctx.rm(out)
    // more warm-up runs: the JIT keeps cutting a run's CPU cost for the
    // first few runs, and the loop should time the settled cost
    (1 until WarmRuns).foreach { i =>
      res.attempt(s"pipeline warm-up $i")(runOnce(ctx, out, -1L - i))
        .foreach(_ => verify(ctx, res, out, s"pipeline warm-up $i"))
      ctx.rm(out)
    }
    res.info("pipeline_lines") = lines.toString
    res.info("pipeline_processors") = processors.size.toString
  }

  private def processors: Seq[PipelineYaml.PluginDef] = PipelineYaml.parse(yaml).head.processors

  def measure(ctx: Ctx, seconds: Double, res: Result): Unit = {
    val runs = ArrayBuffer.empty[(Double, Double)]
    val cpu = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    while (i < MinRuns || Stats.secondsSince(t0) < seconds) {
      val out = ctx.dir(s"pipeline-$i")
      val (r, cpuS, _) = ctx.cpu(res.attempt(s"pipeline $i")(runOnce(ctx, out, i)))
      r.foreach { r =>
        if (ctx.tracer.span("check", "harness", i)(verify(ctx, res, out, s"pipeline $i"))) {
          runs += r
          cpu += cpuS
        }
      }
      ctx.tracer.span("cleanup", "harness", i)(ctx.rm(out))
      i += 1
    }
    if (runs.isEmpty) return
    val walls = runs.map { case (c, r) => c + r }.toSeq
    val runCpu = Stats.median(cpu.toSeq)
    res.e2e("work_per_cpu_s") = (lines / runCpu, "1/s")
    res.e2e("op_cpu_ms") = (runCpu * 1e3, "ms")
    res.named("pipeline_events_per_s") = Named(lines / Stats.median(walls), "events/s", runs.size,
      "median run")
    res.named("pipeline_run_p50_ms") = Named(Stats.median(walls) * 1e3, "ms", runs.size)
    res.layerMetric("pipeline.compile_ms", Stats.median(runs.map(_._1).toSeq) * 1e3, "ms")
    if (ctx.tracer.enabled) processorBreakdown(ctx, res)
  }

  /** Each processor's stage applied alone to a cached copy of its input,
    * then a noop write; finally the sink's parquet write of the cached
    * chain output. */
  private def processorBreakdown(ctx: Ctx, res: Result): Unit = {
    var cur: DataFrame = input
    processors.zipWithIndex.foreach { case (p, i) =>
      val stage = PipelineYaml.compileProcessor(p)
      val (_, s) = ctx.tracer.span(s"pipeline.${p.name}", "pipeline", i)(Stats.time(
        stage(cur).write.format("noop").mode("overwrite").save()))
      res.layerMetric(s"pipeline.${p.name}.s", s, "s")
      // the next processor's cached input is the harness's work
      val next = ctx.tracer.span("pipeline.cache_input", "harness", i) {
        val df = stage(cur).cache()
        df.write.format("noop").mode("overwrite").save()
        if (cur ne input) cur.unpersist(true)
        df
      }
      cur = next
    }
    val out = ctx.dir("pipeline-sink")
    val outs = Seq(PipelineYaml.SinkOutput("perf-pipeline",
      PipelineYaml.PluginDef("opensearch", Map("index" -> "perf")), Nil, cur))
    val (_, s) = ctx.tracer.span("pipeline.sink", "pipeline")(Stats.time(
      PipelineYaml.runSinks(outs, Some(out))))
    res.layerMetric("pipeline.sink_s", s, "s")
    if (cur ne input) cur.unpersist(true)
    ctx.rm(out)
  }
}
