package graft.query

import org.scalatest.funsuite.AnyFunSuite

import graft.index.PForDelta
import graft.util.SplitMix64

/** Property-style differential test of the Block-Max WAND executor against
  * a naive full scorer, over randomized posting tables — pure Scala (no
  * Spark), so hundreds of cases run in milliseconds. Checks rank identity,
  * bit-identical scores, and tie-breaks, across block sizes and shards. */
class WandSpec extends AnyFunSuite {

  private def buildCursor(term: String, postings: Seq[(Long, Long, Long)],
      idf: Double, avgdl: Double, blockSize: Int): TermCursor = {
    val blocks = postings.grouped(blockSize).map { blk =>
      val ids = blk.map(_._1).toArray
      val tfs = blk.map(_._2).toArray
      val dls = blk.map(_._3).toArray
      val maxScore = blk.map(p => Bm25.score(idf, p._2.toDouble, p._3.toDouble, avgdl)).max
      SegBlock(ids.head, ids.last, ids.length, maxScore,
        PForDelta.encodeGaps(ids, ids.head), PForDelta.encode(tfs), PForDelta.encode(dls))
    }.toArray
    new TermCursor(term, idf, blocks, avgdl)
  }

  private def runCase(seed: Long, nDocs: Int, nTerms: Int, qLen: Int,
      k: Int, blockSize: Int): Unit = {
    val rng = new SplitMix64(seed)
    // random corpus: doc lengths and per-(term,doc) tfs
    val dl = Array.tabulate(nDocs)(_ => 20L + rng.nextInt(200))
    val n = nDocs.toLong
    val avgdl = dl.sum.toDouble / n.toDouble
    val terms = (0 until nTerms).map(i => f"t$i%03d")
    val postings: Map[String, Seq[(Long, Long, Long)]] = terms.map { t =>
      val density = 0.05 + rng.nextDouble() * 0.6
      val ps = (0 until nDocs).flatMap { d =>
        if (rng.nextDouble() < density) Some((d.toLong, 1L + rng.nextInt(9), dl(d)))
        else None
      }
      t -> ps
    }.toMap.filter(_._2.nonEmpty)

    val q = rng.shuffleTake(terms, qLen)
    val qSorted = q.distinct.sorted.filter(postings.contains)
    if (qSorted.isEmpty) return
    val df = qSorted.map(t => t -> postings(t).size.toLong).toMap

    // naive: per-doc sum in ascending term order (same accumulation
    // contract as the WAND executor)
    val naive = (0 until nDocs).flatMap { d =>
      var s = 0.0
      var any = false
      qSorted.foreach { t =>
        postings(t).find(_._1 == d.toLong).foreach { case (_, tf, dlv) =>
          s += Bm25.score(Bm25.idf(n, df(t)), tf.toDouble, dlv.toDouble, avgdl)
          any = true
        }
      }
      if (any) Some(Scored(d.toLong, s)) else None
    }.sortBy(x => (-x.score, x.docId)).take(k)

    val cursors = qSorted.map { t =>
      buildCursor(t, postings(t), Bm25.idf(n, df(t)), avgdl, blockSize)
    }.toArray
    val wand = Wand.topK(cursors, k)

    assert(wand.map(_.docId).toSeq == naive.map(_.docId),
      s"rank mismatch seed=$seed q=$qSorted k=$k block=$blockSize:\n" +
        s" naive=${naive.mkString(",")}\n wand=${wand.mkString(",")}")
    wand.zip(naive).foreach { case (w, o) =>
      assert(w.score == o.score, s"score mismatch seed=$seed doc=${w.docId}")
    }
  }

  test("WAND ≡ naive scorer over 300 random posting tables") {
    var seed = 1L
    for (_ <- 0 until 300) {
      val rng = new SplitMix64(seed * 7919)
      runCase(seed, nDocs = 30 + rng.nextInt(200), nTerms = 3 + rng.nextInt(10),
        qLen = 1 + rng.nextInt(5), k = 1 + rng.nextInt(20),
        blockSize = 1 + rng.nextInt(16))
      seed += 1
    }
  }

  test("WAND with tombstones ≡ naive scorer filtered, stats unchanged") {
    var seed = 900L
    for (_ <- 0 until 100) {
      val rng = new SplitMix64(seed * 104729)
      val nDocs = 40 + rng.nextInt(150)
      val dl = Array.tabulate(nDocs)(_ => 20L + rng.nextInt(200))
      val n = nDocs.toLong
      val avgdl = dl.sum.toDouble / n.toDouble
      val terms = (0 until 4).map(i => f"t$i%03d")
      val postings = terms.map { t =>
        t -> (0 until nDocs).flatMap { d =>
          if (rng.nextDouble() < 0.4)
            Some((d.toLong, 1L + rng.nextInt(9), dl(d)))
          else None
        }
      }.toMap.filter(_._2.nonEmpty)
      val qSorted = postings.keys.toSeq.sorted
      val df = qSorted.map(t => t -> postings(t).size.toLong).toMap
      val deleted = (0 until nDocs)
        .filter(_ => rng.nextDouble() < 0.3).map(_.toLong).toArray
      val delSet = deleted.toSet
      // naive: idf/avgdl still computed over ALL docs (Lucene
      // visibility), deleted docs just never emitted
      val naive = (0 until nDocs).flatMap { d =>
        var s = 0.0
        var any = false
        qSorted.foreach { t =>
          postings(t).find(_._1 == d.toLong).foreach { case (_, tf, dlv) =>
            s += Bm25.score(Bm25.idf(n, df(t)), tf.toDouble, dlv.toDouble, avgdl)
            any = true
          }
        }
        if (any && !delSet(d.toLong)) Some(Scored(d.toLong, s)) else None
      }.sortBy(x => (-x.score, x.docId)).take(10)
      val cursors = qSorted.map { t =>
        buildCursor(t, postings(t), Bm25.idf(n, df(t)), avgdl,
          1 + rng.nextInt(12))
      }.toArray
      val wand = Wand.topK(cursors, 10, deleted)
      assert(wand.map(_.docId).toSeq == naive.map(_.docId),
        s"tombstone rank mismatch seed=$seed")
      wand.zip(naive).foreach { case (w, o) => assert(w.score == o.score) }
      seed += 1
    }
  }

  test("ties broken by ascending docId") {
    // identical docs → identical scores; top-k must prefer smaller docIds
    val n = 50L
    val dl = 100L
    val avgdl = 100.0
    val postings = (0 until 50).map(d => (d.toLong, 3L, dl))
    val idf = Bm25.idf(n, 50)
    val c = buildCursor("t", postings, idf, avgdl, 7)
    val top = Wand.topK(Array(c), 10)
    assert(top.map(_.docId).toSeq == (0L until 10L))
    assert(top.map(_.score).distinct.length == 1)
    // one cursor runs the one-term block loop: the serving cache's bounds
    // and a k past the list keep the same order
    val all = Wand.topK(Array(cacheCursor("t", postings, idf, avgdl, 7)), 60)
    assert(all.map(_.docId).toSeq == (0L until 50L))
    assert(all.map(_.score).toSeq == Seq.fill(50)(top.head.score))
  }

  /** A term's segment rows as the build writes them, `blockSize` postings
    * a block (one shard, one generation, no positions). */
  private def segRows(term: String, postings: Seq[(Long, Long, Long)],
      blockSize: Int): Array[SegmentRead] =
    postings.grouped(blockSize).zipWithIndex.map { case (blk, bi) =>
      val ids = blk.map(_._1).toArray
      SegmentRead(term, postings.size.toLong, 0L, bi, ids.head, ids.last, ids.length,
        blk.map(_._2).max, blk.map(_._3).min, PForDelta.encodeGaps(ids, ids.head),
        PForDelta.encode(blk.map(_._2).toArray), PForDelta.encode(blk.map(_._3).toArray),
        null, 0, 0)
    }.toArray

  /** A cursor over the serving cache's blocks: bounds built the way
    * `IndexReader.loadCache` builds them. */
  private def cacheCursor(term: String, postings: Seq[(Long, Long, Long)],
      idf: Double, avgdl: Double, blockSize: Int): TermCursor =
    new TermCursor(term, idf, IndexReader.exactBlocks(segRows(term, postings, blockSize),
      idf, avgdl), avgdl)

  /** The naive answer: each doc's scores folded from 0.0 in ascending term
    * order over every term holding it, tombstones never emitted. */
  private def naiveTopK(postings: Map[String, Seq[(Long, Long, Long)]],
      idf: Map[String, Double], avgdl: Double, k: Int,
      deleted: Set[Long]): Seq[Scored] = {
    val terms = postings.keys.toSeq.sorted
    val docs = postings.values.flatten.map(_._1).toSeq.distinct.filterNot(deleted)
    docs.map { d =>
      Scored(d, terms.foldLeft(0.0) { (s, t) =>
        postings(t).find(_._1 == d).fold(s) { case (_, tf, dl) =>
          s + Bm25.score(idf(t), tf.toDouble, dl.toDouble, avgdl)
        }
      })
    }.sortBy(x => (-x.score, x.docId)).take(k)
  }

  test("serving-cache bounds dominate every member score") {
    (1L to 200L).foreach { seed =>
      val rng = new SplitMix64(seed * 31337)
      val nDocs = 20 + rng.nextInt(300)
      val ps = (0 until nDocs).filter(_ => rng.nextDouble() < 0.5)
        .map(d => (d.toLong, 1L + rng.nextInt(40), 1L + rng.nextInt(400)))
      if (ps.nonEmpty) {
        val (idf, avgdl) = (0.01 + rng.nextDouble() * 8, 1.0 + rng.nextDouble() * 300)
        val blockSize = 1 + rng.nextInt(130)
        val blocks = IndexReader.exactBlocks(segRows("t", ps, blockSize), idf, avgdl)
        assert(blocks.length == ps.grouped(blockSize).size)
        blocks.zip(ps.grouped(blockSize).toSeq).foreach { case (b, blk) =>
          val scores = blk.map(p => Bm25.score(idf, p._2.toDouble, p._3.toDouble, avgdl))
          assert(scores.forall(_ < b.maxScore), s"seed=$seed: a member above its bound")
          assert(b.maxScore <= scores.max * (1 + 2e-12), s"seed=$seed: bound not tight")
          assert((b.firstDocId, b.lastDocId, b.n) == (blk.head._1, blk.last._1, blk.size))
        }
      }
    }
  }

  test("WAND over serving-cache bounds ≡ naive scorer bit for bit, " +
      "1–5 terms, tombstones, k past the list") {
    (1L to 300L).foreach { seed =>
      val rng = new SplitMix64(seed * 7727)
      val nDocs = 20 + rng.nextInt(250)
      val dl = Array.tabulate(nDocs)(_ => 1L + rng.nextInt(300))
      val avgdl = dl.sum.toDouble / nDocs
      val qLen = 1 + rng.nextInt(5)
      val postings = (0 until qLen).map(i => f"t$i%02d").map { t =>
        val density = 0.02 + rng.nextDouble() * 0.7
        t -> (0 until nDocs).filter(_ => rng.nextDouble() < density)
          .map(d => (d.toLong, 1L + rng.nextInt(12), dl(d)))
      }.toMap.filter(_._2.nonEmpty)
      val idf = postings.map { case (t, ps) => t -> Bm25.idf(nDocs.toLong, ps.size.toLong) }
      val deleted = (0 until nDocs).filter(_ => rng.nextDouble() < 0.2).map(_.toLong).toArray
      val k = if (rng.nextInt(4) == 0) nDocs + 1 + rng.nextInt(10) else 1 + rng.nextInt(20)
      val blockSize = 1 + rng.nextInt(16)
      val cursors = postings.map { case (t, ps) =>
        cacheCursor(t, ps, idf(t), avgdl, blockSize) }.toArray
      val wand = Wand.topK(cursors, k, if (deleted.isEmpty) null else deleted).toSeq
      val naive = naiveTopK(postings, idf, avgdl, k, deleted.toSet)
      assert(wand.map(_.docId) == naive.map(_.docId), s"seed=$seed: ranks differ")
      assert(wand.map(_.score) == naive.map(_.score), s"seed=$seed: scores differ")
    }
  }

  test("blocks bounded below θ are never decoded") {
    // every term's first block is strong; its later blocks are weak, and
    // their payloads throw if decoded (the multi-term case keeps docIds,
    // which aligning cursors may read)
    val avgdl = 100.0
    def postings(shift: Long) =
      (0L until 8L).map(d => (d, 9L, 20L)) ++ (8L until 80L).map(d => (d + shift, 1L, 900L))
    def poisoned(term: String, ps: Seq[(Long, Long, Long)], idf: Double,
        keepIds: Boolean): TermCursor = {
      val blocks = IndexReader.exactBlocks(segRows(term, ps, 8), idf, avgdl)
      new TermCursor(term, idf, blocks.head +: blocks.tail.map(b =>
        b.copy(gaps = if (keepIds) b.gaps else Array.emptyByteArray,
          tfs = Array.emptyByteArray, dls = Array.emptyByteArray)), avgdl)
    }
    val idf = Bm25.idf(1000L, 80L)
    val one = Wand.topK(Array(poisoned("a", postings(0), idf, keepIds = false)), 5)
    assert(one.toSeq == naiveTopK(Map("a" -> postings(0)), Map("a" -> idf), avgdl, 5, Set.empty))
    val two = Map("a" -> postings(0), "b" -> postings(3))
    val wand = Wand.topK(two.map { case (t, ps) => poisoned(t, ps, idf, keepIds = true) }.toArray, 5)
    assert(wand.toSeq == naiveTopK(two, Map("a" -> idf, "b" -> idf), avgdl, 5, Set.empty))
  }

  private implicit class RngOps(rng: SplitMix64) {
    def shuffleTake(xs: Seq[String], k: Int): Seq[String] = {
      val arr = xs.toArray
      var i = arr.length - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1)
        val tmp = arr(i); arr(i) = arr(j); arr(j) = tmp
        i -= 1
      }
      arr.take(k).toSeq
    }
  }
}
