package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

import graft.corpus.{Page, SyntheticCorpus}
import graft.index.{IndexBuilder, IndexParams}
import graft.query.IndexReader

/** Full four-stage index build of a seeded synthetic crawl. The corpus is
  * written to parquet in setup; each operation builds a fresh index from
  * it, timing `stageDocs` → `stageTf` → `stageStats` → `stagePostings`
  * one by one. Extract, analyze and index do all the work; query none. */
final class BuildWorkload(val docs: Int) extends Workload {
  val name = "build"
  val params = IndexParams(buckets = 16, shardSize = 512, blockSize = 128,
    buildPartitions = 8)
  private var corpus: String = _
  private var refDigest: (Long, Long) = _
  private var textBytes = 0L
  private var warmIndex: String = _

  def setup(ctx: Ctx, round: Int): Unit = {
    val dir = ctx.dir(s"build-setup-$round")
    ctx.rm(dir)
    SyntheticCorpus.generate(ctx.spark, docs.toLong, ctx.seed, partitions = 8)
      .write.parquet(s"$dir/corpus")
    if (corpus != null) ctx.rm(corpus.stripSuffix("/corpus"))
    corpus = s"$dir/corpus"
  }

  private def buildOnce(ctx: Ctx, out: String, op: Long)
      : Seq[(String, Double, SparkWindow)] = {
    import ctx.spark.implicits._
    BuildWorkload.stages(ctx, out, params, ctx.spark.read.parquet(corpus).as[Page],
      s"synthetic(seed=${ctx.seed},n=$docs)", op)
  }

  /** Order-free digest of the postings artifact: (rows, sum of row hashes). */
  private def digest(ctx: Ctx, dir: String): (Long, Long) = {
    val p = ctx.spark.read.parquet(s"$dir/postings")
    val r = p.select(count(lit(1)), sum(xxhash64(p.columns.sorted.toSeq.map(col): _*))).head()
    (r.getLong(0), r.getLong(1))
  }

  def prepare(ctx: Ctx, res: Result): Unit = {
    warmIndex = ctx.dir("build-warm")
    ctx.rm(warmIndex)
    buildOnce(ctx, warmIndex, -1L)
    refDigest = digest(ctx, warmIndex)
    val docsDf = ctx.spark.read.parquet(s"$warmIndex/docs")
    textBytes = docsDf.select(sum(octet_length(col("text")))).head().getLong(0)
    // fixture top-k over the reference build equals the brute-force scorer
    val reader = new IndexReader(ctx.spark, warmIndex)
    val brute = new LocalBrute(docsDf)
    val qs = SyntheticCorpus.querySet(ctx.seed)
    Oracle.parallel(Seq(qs(0), qs(10), qs(20), qs(40)), ctx.cores) { q =>
      res.attempt(s"build fixture top-k $q") {
        val served = Oracle.rows(reader.topK(q, 10))
        res.check(s"build fixture top-k $q")(served == brute.topK(q, 10) && served.nonEmpty)
      }
    }
    res.info("build_docs") = docs.toString
    res.info("build_text_bytes") = textBytes.toString
  }

  def measure(ctx: Ctx, seconds: Double, res: Result): Unit = {
    val walls = ArrayBuffer.empty[Double]
    val indexBytes = ArrayBuffer.empty[Double]
    val cpu = ArrayBuffer.empty[Double]
    val perStage = ArrayBuffer.empty[Seq[(String, Double, SparkWindow)]]
    val t0 = System.nanoTime()
    var i = 0
    while (i < 2 || Stats.secondsSince(t0) < seconds) {
      val out = ctx.dir(s"build-$i")
      val (built, cpuS, _) = ctx.cpu(res.attempt(s"build $i")(buildOnce(ctx, out, i)))
      built.foreach { st =>
        ctx.tracer.span("check", "harness", i) {
          if (res.check(s"build $i postings digest")(digest(ctx, out) == refDigest)) {
            cpu += cpuS
            walls += st.map(_._2).sum
            perStage += st
            indexBytes += ctx.dirBytes(out).toDouble
          }
        }
      }
      ctx.rm(out)
      i += 1
    }
    if (walls.isEmpty) return
    val wall = Stats.median(walls.toSeq)
    res.e2e("work_per_cpu_s") = (docs / Stats.median(cpu.toSeq), "1/s")
    res.e2e("op_cpu_ms") = (Stats.median(cpu.toSeq) * 1e3, "ms")
    res.named("build_docs_per_s") = Named(docs / wall, "docs/s", walls.size)
    res.named("index_bytes_per_text_byte") =
      Named(Stats.median(indexBytes.toSeq) / textBytes, "ratio", indexBytes.size)
    BuildWorkload.stageMetrics(ctx, res, perStage.toSeq)
  }
}

object BuildWorkload {
  val stageNames = Seq("docs", "tf", "stats", "postings")

  /** One build, `stageDocs` → `stageTf` → `stageStats` → `stagePostings`,
    * each timed and measured against the Spark listener. */
  def stages(ctx: Ctx, out: String, params: IndexParams, pages: Dataset[Page],
      desc: String, op: Long): Seq[(String, Double, SparkWindow)] = {
    val b = new IndexBuilder(ctx.spark, out, params)
    val calls: Seq[(String, () => Unit)] = Seq(
      "docs" -> (() => b.stageDocs(pages, desc)),
      "tf" -> (() => b.stageTf()),
      "stats" -> (() => b.stageStats()),
      "postings" -> (() => b.stagePostings()))
    calls.map { case (s, f) =>
      ctx.tracer.span(s"index.$s", "index", op) {
        val t0 = System.nanoTime()
        val (_, w) = ctx.counters.measure(f())
        (s, Stats.secondsSince(t0), w)
      }
    }
  }

  /** Per-stage medians over builds: wall, then the listener's counters. */
  def stageMetrics(ctx: Ctx, res: Result,
      builds: Seq[Seq[(String, Double, SparkWindow)]]): Unit =
    stageNames.foreach { s =>
      val rows = builds.flatMap(_.filter(_._1 == s))
      if (rows.nonEmpty) {
        val ws = rows.map(_._3)
        res.layerMetric(s"index.$s.s", Stats.median(rows.map(_._2)), "s")
        def med(f: SparkWindow => Double) = Stats.median(ws.map(f))
        res.layerMetric(s"index.$s.busy_frac", med(_.busyFrac(ctx.cores)), "ratio")
        res.layerMetric(s"index.$s.driver_s", med(_.driverS), "s")
        res.layerMetric(s"index.$s.jobs", med(_.jobs.toDouble), "count")
        res.layerMetric(s"index.$s.shuffle_bytes", med(_.shuffleBytes.toDouble), "bytes")
        res.layerMetric(s"index.$s.spill_bytes", med(_.spillBytes.toDouble), "bytes")
        res.layerMetric(s"index.$s.output_bytes", med(_.outputBytes.toDouble), "bytes")
        res.layerMetric(s"index.$s.task_skew", med(_.taskSkew), "ratio")
      }
    }
}
