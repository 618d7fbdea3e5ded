package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset

import graft.corpus.{Page, SyntheticCorpus}
import graft.index.{IncrementalIndex, IndexParams}
import graft.query.{IndexReader, IndexSearch}
import graft.util.SplitMix64

/** One ingest batch: its write, visibility and query timings. */
final case class Batch(appendS: Double, compactS: Option[Double], visibleS: Double,
    openS: Double, loadS: Double, gens: Int, gensBefore: Int, queryMs: Seq[Double])

/** Appends beside reads. A seeded stream of page batches goes through
  * `IncrementalIndex.append`; `maybeCompact` folds the generations once
  * more than `maxGenerations` are visible (every `maxGenerations`-th
  * batch), and one `deleteByQuery` runs per compaction cycle. After every
  * batch the reader is reopened, the driver cache cold-loaded and the
  * query set run. The loop stops on a compaction boundary, so every run
  * amortizes whole cycles. */
final class IngestWorkload(val baseDocs: Int, val batchDocs: Int,
    val maxGenerations: Int, val warm: Boolean = true) extends Workload {
  val name = "ingest"
  val params = IndexParams(buckets = 16, shardSize = 512, blockSize = 128,
    buildPartitions = 8)
  val K = 10

  private var indexDir: String = _
  private var nextRow = 0L
  private var queries: Seq[Seq[String]] = _

  private def pages(ctx: Ctx, from: Long, n: Int): Dataset[Page] = {
    import ctx.spark.implicits._
    val seed = ctx.seed
    ctx.spark.range(from, from + n, 1, 8).map(id => SyntheticCorpus.page(seed, id))
  }

  def setup(ctx: Ctx, round: Int): Unit = {
    val dir = ctx.dir(s"ingest-setup-$round")
    ctx.rm(dir)
    IncrementalIndex.append(ctx.spark, dir, pages(ctx, 0L, baseDocs), params,
      s"synthetic(seed=${ctx.seed},rows=0..$baseDocs)")
    if (indexDir != null) ctx.rm(indexDir)
    indexDir = dir
    nextRow = baseDocs
  }

  /** One query from each class of the query set: head, tail, two-term,
    * stopword-heavy. These are checked against the distributed top-k
    * after every batch. */
  private def oracleQueries: Seq[Seq[String]] = Seq(queries(0), queries(10), queries(20), queries(40))

  /** Append one batch, compact if due, reopen, cold-load, run the queries. */
  private def batch(ctx: Ctx, res: Result, op: Long): Option[Batch] = {
    val tr = ctx.tracer
    res.attempt(s"ingest batch $op") {
      val t0 = System.nanoTime()
      val (_, appendS) = tr.span("ingest.append", "index", op)(Stats.time(
        IncrementalIndex.append(ctx.spark, indexDir, pages(ctx, nextRow, batchDocs), params,
          s"synthetic(seed=${ctx.seed},rows=$nextRow..${nextRow + batchDocs})")))
      nextRow += batchDocs
      val gensBefore = IncrementalIndex.genDirs(ctx.spark, indexDir).size
      val (compacted, compactS) = tr.span("ingest.compact", "index", op)(Stats.time(
        IncrementalIndex.maybeCompact(ctx.spark, indexDir, params, maxGenerations)))
      val gens = IncrementalIndex.genDirs(ctx.spark, indexDir).size
      val (reader, openS) = tr.span("ingest.reader_open", "query", op)(
        Stats.time(new IndexReader(ctx.spark, indexDir)))
      val (cache, loadS) = tr.span("ingest.load_cache", "query", op)(
        Stats.time(reader.loadCache(queries.flatten.distinct)))
      var visible = 0.0
      val ms = queries.map { q =>
        val q0 = System.nanoTime()
        tr.span("ingest.query", "query", op)(reader.topKLocal(cache, q, K))
        if (visible == 0.0) visible = Stats.secondsSince(t0)
        (System.nanoTime() - q0) / 1e6
      }
      tr.span("check", "harness", op) {
        Oracle.parallel(oracleQueries, ctx.cores) { q =>
          res.check(s"ingest batch $op $q")(
            Oracle.scored(reader.topKLocal(cache, q, K)) == Oracle.rows(reader.topK(q, K)))
        }
      }
      Batch(appendS, compacted.map(_ => compactS), visible, openS, loadS, gens,
        gensBefore, ms)
    }
  }

  private var deleteTerm: String = _

  def prepare(ctx: Ctx, res: Result): Unit = {
    queries = SyntheticCorpus.querySet(ctx.seed)
    deleteTerm = SyntheticCorpus.term(500 + SplitMix64.stream(ctx.seed, -11L).nextInt(500))
    if (warm) {
      // warm-up: one append, one compaction, the query set
      batch(ctx, res, -1L)
      IncrementalIndex.compactGenerations(ctx.spark, indexDir, params)
    }
    res.info("ingest_base_docs") = baseDocs.toString
    res.info("ingest_batch_docs") = batchDocs.toString
    res.info("ingest_max_generations") = maxGenerations.toString
  }

  def measure(ctx: Ctx, seconds: Double, res: Result): Unit = {
    val batches = ArrayBuffer.empty[Batch]
    val deletes = ArrayBuffer.empty[Double]
    val cpu = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var op = 0L
    var cycleDone = false
    while (!cycleDone || Stats.secondsSince(t0) < seconds) {
      val (done, cpuS, _) = ctx.cpu(batch(ctx, res, op))
      done match {
        case Some(b) =>
          batches += b
          cpu += cpuS
          cycleDone = b.compactS.isDefined
          if (op % maxGenerations == 0) {
            // one delete-by-query per cycle, on a fresh reader
            res.attempt(s"ingest delete $op") {
              val (_, s) = ctx.tracer.span("ingest.delete", "index", op)(Stats.time(
                new IndexSearch(ctx.spark, indexDir).deleteByQuery(Seq(deleteTerm))))
              deletes += s
            }
          }
        case None => cycleDone = true // a failed batch ends the loop
      }
      op += 1
    }
    if (batches.isEmpty) return
    val writeS = batches.map(b => b.appendS + b.compactS.getOrElse(0.0)).sum
    val docsPerS = batches.size * batchDocs / writeS
    val vis = batches.map(_.visibleS).toSeq
    val qms = batches.flatMap(_.queryMs).toSeq
    res.e2e("work_per_cpu_s") = (batches.size * batchDocs / cpu.sum, "1/s")
    res.e2e("op_cpu_ms") = (Stats.median(cpu.toSeq) * 1e3, "ms")
    res.named("append_docs_per_s") = Named(docsPerS, "docs/s", batches.size,
      s"${batches.count(_.compactS.isDefined)} compactions amortized")
    res.named("visible_p50_s") = Named(Stats.median(vis), "s", vis.size)
    res.named("ingest_query_p50_ms") = Named(Stats.median(qms), "ms", qms.size)
    res.layerMetric("ingest.append_s", Stats.median(batches.map(_.appendS).toSeq), "s")
    val cs = batches.flatMap(_.compactS).toSeq
    if (cs.nonEmpty) res.layerMetric("ingest.compact_s", Stats.median(cs), "s")
    res.layerMetric("ingest.compactions", cs.size.toDouble, "count")
    res.layerMetric("ingest.generations_max", batches.map(_.gensBefore).max.toDouble, "count")
    if (deletes.nonEmpty) res.layerMetric("ingest.delete_s", Stats.median(deletes.toSeq), "s")
    res.layerMetric("ingest.reader_open_s", Stats.median(batches.map(_.openS).toSeq), "s")
    res.layerMetric("ingest.load_cache_s", Stats.median(batches.map(_.loadS).toSeq), "s")
  }
}
