package graft.query

import org.scalatest.funsuite.AnyFunSuite

import graft.index.PForDelta
import graft.util.SplitMix64

/** Property test of [[TermCursor]] against a naive walk over the same
  * postings held in plain arrays: random `advance`/`advanceTo` sequences
  * over random block layouts (1–16 postings a block, targets on, before
  * and past block edges) agree on `curDoc`, `score`, `dl` and
  * `positions()` — pure Scala, no Spark. */
class TermCursorSpec extends AnyFunSuite {

  /** One posting: doc, tf, dl, ascending positions (tf of them). */
  private final case class P(doc: Long, tf: Long, dl: Long, pos: Array[Long])

  private val (idf, avgdl) = (1.7, 40.0)

  private def postings(rng: SplitMix64): IndexedSeq[P] = {
    var doc = rng.nextInt(5).toLong
    (0 until 1 + rng.nextInt(120)).map { _ =>
      val dl = 4L + rng.nextInt(60)
      val tf = 1 + rng.nextInt(4)
      val pos = new scala.util.Random(rng.nextLong())
        .shuffle((0L until dl).toList).take(tf).sorted.toArray
      val p = P(doc, tf.toLong, dl, pos)
      doc += 1 + rng.nextInt(4)
      p
    }
  }

  /** Blocks as the build writes them, each of 1–16 postings. */
  private def blocks(rng: SplitMix64, ps: IndexedSeq[P]): Array[SegBlock] = {
    val out = Array.newBuilder[SegBlock]
    var at = 0
    while (at < ps.size) {
      val blk = ps.slice(at, at + 1 + rng.nextInt(16))
      val ids = blk.map(_.doc).toArray
      out += SegBlock(ids.head, ids.last, ids.length, Double.MaxValue,
        PForDelta.encodeGaps(ids, ids.head), PForDelta.encode(blk.map(_.tf).toArray),
        PForDelta.encode(blk.map(_.dl).toArray),
        PForDelta.encode(blk.flatMap(p =>
          p.pos.head +: p.pos.sliding(2).collect { case Array(a, b) => b - a }.toSeq).toArray))
      at += blk.size
    }
    out.result()
  }

  private def same(c: TermCursor, p: P, what: String): Unit = {
    assert(c.curDoc == p.doc, what)
    assert(c.score == Bm25.score(idf, p.tf.toDouble, p.dl.toDouble, avgdl), what)
    assert(c.dl == p.dl, what)
    val (arr, from, until) = c.positions()
    assert(arr.slice(from, until).toSeq == p.pos.toSeq, what)
  }

  test("random advance/advanceTo sequences ≡ a naive array walk") {
    (1L to 400L).foreach { seed =>
      val rng = new SplitMix64(seed * 6271)
      val ps = postings(rng)
      val bs = blocks(rng, ps)
      val c = new TermCursor("t", idf, bs, avgdl)
      var at = 0 // the naive walk's posting
      var step = 0
      while (at < ps.size) {
        assert(!c.exhausted && c.blockLast >= ps(at).doc)
        // check only some steps: an unread posting must not change the walk
        if (rng.nextInt(3) > 0) same(c, ps(at), s"seed=$seed step=$step")
        else assert(c.curDoc == ps(at).doc)
        if (rng.nextInt(3) == 0) { c.advance(); at += 1 }
        else {
          // a target around an edge of a block at or after the current one
          val b = bs(bs.indexWhere(_.lastDocId >= ps(at).doc) + rng.nextInt(3) min (bs.length - 1))
          val target = (if (rng.nextInt(2) == 0) b.firstDocId else b.lastDocId) +
            rng.nextInt(5) - 2
          c.advanceTo(target)
          while (at < ps.size && ps(at).doc < target) at += 1
        }
        step += 1
      }
      assert(c.exhausted && c.curDoc == Long.MaxValue, s"seed=$seed")
    }
  }

  test("positions() and score right after a block entered from its metadata alone") {
    (1L to 100L).foreach { seed =>
      val rng = new SplitMix64(seed * 3571)
      val ps = postings(rng)
      val bs = blocks(rng, ps)
      var first = 0 // index in ps of block b's first posting
      bs.indices.foreach { b =>
        // the entered block's docIds throw if decoded: entering it at its
        // first posting must read only firstDocId
        val poisoned = bs.updated(b, bs(b).copy(gaps = Array.emptyByteArray))
        val c = new TermCursor("t", idf, poisoned, avgdl)
        val gapBefore = if (b == 0) 0L else bs(b - 1).lastDocId + 1
        c.advanceTo(gapBefore + rng.nextInt((bs(b).firstDocId - gapBefore + 1).toInt))
        val (arr, from, until) = c.positions()
        assert(arr.slice(from, until).toSeq == ps(first).pos.toSeq, s"seed=$seed block=$b")
        same(c, ps(first), s"seed=$seed block=$b")
        first += bs(b).n
      }
    }
  }
}
