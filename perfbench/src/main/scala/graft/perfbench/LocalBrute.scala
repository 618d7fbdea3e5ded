package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.analyze.Analyzer
import graft.query.Bm25

/** Exhaustive BM25 scoring over a small corpus held on the driver: the
  * benchmark's oracle. It scans every document's tokens and never touches
  * the index, so it checks the index-served answers the same way the
  * engine's Spark brute forms do (same tokenizer, same BM25 arithmetic,
  * ascending-term fold, HALF_UP rounding to four places where the served
  * form rounds), at a cost the benchmark can pay in every run. */
final class LocalBrute(docs: DataFrame) {

  final case class Doc(id: Long, lang: String, toks: IndexedSeq[String],
      tf: Map[String, Long]) {
    def dl: Double = toks.size.toDouble
  }

  val corpus: IndexedSeq[Doc] = {
    val rows = docs.select("docId", "text", "lang").collect().toIndexedSeq
    val cores = Runtime.getRuntime.availableProcessors
    Oracle.parallel(rows.grouped(math.max(1, rows.size / cores + 1)).toSeq, cores)(_.map { r =>
      val toks = Analyzer.tokenizeLocal(r.getString(1)).asScala.toIndexedSeq
      Doc(r.getLong(0), r.getString(2), toks, toks.groupMapReduce(identity)(_ => 1L)(_ + _))
    }).flatten.toIndexedSeq
  }
  val n: Long = corpus.size.toLong
  val avgdl: Double = corpus.map(_.toks.size.toLong).sum.toDouble / n.toDouble
  private val df: Map[String, Long] =
    corpus.flatMap(_.tf.keys).groupMapReduce(identity)(_ => 1L)(_ + _)

  def idf(t: String): Double = Bm25.idf(n, df.getOrElse(t, 0L))

  private def termScore(d: Doc, t: String): Option[Double] =
    d.tf.get(t).map(tf => Bm25.score(idf(t), tf.toDouble, d.dl, avgdl))

  /** Sum of the present terms' scores in ascending term order. */
  private def sumScore(d: Doc, sorted: Seq[String]): Option[Double] = {
    val parts = sorted.flatMap(termScore(d, _))
    if (parts.isEmpty) None else Some(parts.foldLeft(0.0)(_ + _))
  }

  private def rank(xs: Seq[(Long, Double)], k: Int): Seq[(Long, Double)] =
    xs.sortBy { case (id, s) => (-s, id) }.take(k)

  private def norm(ts: Seq[String]): Seq[String] =
    ts.map(Analyzer.lowerLikeCatalyst).distinct.sorted

  /** OR query, raw scores ranked, then rounded for comparison. */
  def topK(query: Seq[String], k: Int): Seq[(Long, Double)] = {
    val terms = norm(query)
    rank(corpus.flatMap(d => sumScore(d, terms).map(d.id -> _)), k)
      .map { case (id, s) => (id, Stats.round4(s)) }
  }

  def boolTopK(must: Seq[String], should: Seq[String], not: Seq[String], k: Int,
      exclude: Long = -1L): Seq[(Long, Double)] = {
    val (m, sh, nt) = (norm(must), norm(should), norm(not))
    val terms = (m ++ sh).distinct.sorted
    rank(corpus.filter(d => d.id != exclude && m.forall(d.tf.contains) && !nt.exists(d.tf.contains))
      .flatMap(d => sumScore(d, terms).map(s => d.id -> Stats.round4(s))), k)
  }

  def disMaxTopK(query: Seq[String], tie: Double, k: Int): Seq[(Long, Double)] = {
    val terms = norm(query)
    rank(corpus.flatMap { d =>
      val parts = terms.flatMap(termScore(d, _))
      if (parts.isEmpty) None
      else {
        val sum = parts.foldLeft(0.0)(_ + _)
        val mx = parts.max
        Some(d.id -> Stats.round4(mx + tie * (sum - mx)))
      }
    }, k)
  }

  /** Exact phrase: phrase_tf = consecutive matches; idf summed per slot. */
  def phraseTopK(phrase: Seq[String], k: Int): Seq[(Long, Double)] = {
    val idfSum = phrase.map(idf).sum
    val m = phrase.size
    rank(corpus.flatMap { d =>
      val ptf = (0 to d.toks.size - m).count(i => (0 until m).forall(j => d.toks(i + j) == phrase(j)))
      if (ptf == 0) None
      else Some(d.id -> idfSum * ((ptf * 2.2) / (ptf + 1.2 * (0.25 + 0.75 * (d.dl / avgdl)))))
    }, k).map { case (id, s) => (id, Stats.round4(s)) }
  }

  /** more_like_this: the source doc's top-m terms by (tf desc, df asc,
    * term asc), scored as a should-bool without the source doc. */
  def moreLikeThisTopK(docId: Long, m: Int, k: Int): Seq[(Long, Double)] = {
    val src = corpus.find(_.id == docId).getOrElse(sys.error(s"no doc $docId"))
    val terms = src.tf.toSeq.sortBy { case (t, tf) => (-tf, df(t), t) }.take(m).map(_._1)
    boolTopK(Nil, terms, Nil, k, exclude = docId)
  }

  /** Term-only query_string: clauses `(occur, term, boost)` with occur
    * one of "+", "-", "". A doc needs every "+" term, no "-" term and at
    * least one scoring term; its score sums the scoring clauses' boosted
    * BM25 in query order, rounded to four places. */
  def queryStringTopK(clauses: Seq[(String, String, Double)], k: Int): Seq[(Long, Double)] = {
    val cs = clauses.map { case (o, t, b) => (o, Analyzer.lowerLikeCatalyst(t), b) }
    val scoring = cs.filter(_._1 != "-")
    rank(corpus.filter { d =>
      cs.forall { case (o, t, _) => o match {
        case "+" => d.tf.contains(t)
        case "-" => !d.tf.contains(t)
        case _ => true
      } } && scoring.exists(c => d.tf.contains(c._2))
    }.map { d =>
      val parts = scoring.map { case (_, t, b) =>
        val raw = termScore(d, t).getOrElse(0.0)
        if (b == 1.0) raw else b * raw
      }
      d.id -> Stats.round4(parts.reduceLeft(_ + _))
    }, k)
  }

  /** (facet value, matching docs) for docs holding any query term. */
  def facets(query: Seq[String]): Seq[String] = {
    val terms = norm(query)
    corpus.filter(d => terms.exists(d.tf.contains)).groupBy(_.lang)
      .map { case (l, ds) => s"$l:${ds.size}" }.toSeq.sorted
  }
}

/** Canonical result rows for oracle comparison. */
object Oracle {
  /** (docId, round4(score)) in result order. */
  def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.select(col("docId").cast("long"), col("score").cast("double")).collect()
      .map(r => (r.getLong(0), Stats.round4(r.getDouble(1)))).toSeq

  def scored(xs: Array[graft.query.Scored]): Seq[(Long, Double)] =
    xs.map(s => (s.docId, Stats.round4(s.score))).toSeq

  /** `xs` equals `oracle` in rank and `round4` score, the same test as
    * `scored(xs) == oracle`. A score nearer to its oracle value than the
    * rounding half-step must round to it and one farther cannot, so only
    * scores at the edge pay for the decimal rounding. */
  def sameScored(xs: Array[graft.query.Scored], oracle: IndexedSeq[(Long, Double)]): Boolean =
    xs.length == oracle.length && xs.indices.forall { i =>
      val (id, o) = oracle(i)
      val d = math.abs(xs(i).score - o)
      xs(i).docId == id && (d < 4.9e-5 || (d <= 5.1e-5 && Stats.round4(xs(i).score) == o))
    }

  /** Run `f` over `xs` on `threads` threads (concurrent Spark jobs). */
  def parallel[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(xs.map(x => Future(f(x)))), scala.concurrent.duration.Duration.Inf)
    finally { pool.shutdown(); pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES) }
  }
}
