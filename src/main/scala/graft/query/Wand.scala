package graft.query

import graft.index.PForDelta

/** One posting block as read from the segment store (term/shard implied by
  * the owning cursor). `pos` is the block's position payload, null when
  * the read pruned it (the serving cache and every non-phrase kernel).
  * `maxScore` bounds every member's BM25 score under the reader's stats:
  * the serving cache stores the exact member max raised by
  * [[IndexReader.BoundMargin]] ([[IndexReader.exactBlocks]]); routed and
  * distributed reads store the `(maxTf, minDl)` corner
  * ([[IndexReader.boundedBlock]]). */
final case class SegBlock(
    firstDocId: Long, lastDocId: Long, n: Int, maxScore: Double,
    gaps: Array[Byte], tfs: Array[Byte], dls: Array[Byte],
    pos: Array[Byte] = null)

final case class Scored(docId: Long, score: Double)

/** Min-heap of size k ordered by score; equal scores keep the earlier
  * (smaller) docId, which is the incumbent. Shared by the WAND and
  * phrase executors so tie-break semantics can never diverge. */
private[query] final class TopKHeap(k: Int) {
  val heap = new java.util.PriorityQueue[Scored](math.max(k, 1),
    (a: Scored, b: Scored) =>
      if (a.score < b.score) -1
      else if (a.score > b.score) 1
      else java.lang.Long.compare(b.docId, a.docId)) // larger docId = worse
  def threshold: Double =
    if (heap.size() < k) Double.NegativeInfinity else heap.peek().score
  def offer(d: Long, s: Double): Unit = {
    if (k <= 0) return
    if (heap.size() < k) heap.add(Scored(d, s))
    else if (s > heap.peek().score) { heap.poll(); heap.add(Scored(d, s)) }
    // s == threshold: incumbent has smaller docId → keep incumbent
  }
  def result(): Array[Scored] = {
    val arr = new Array[Scored](heap.size())
    var i = arr.length - 1
    while (!heap.isEmpty) { arr(i) = heap.poll(); i -= 1 }
    arr
  }
}

/** Forward-only cursor over one term's blocks within one shard — the one
  * block cursor every shard kernel reads postings through (WAND, the
  * dense clause kernel, the phrase leapfrogs). Payloads decode lazily and
  * only as far as a read needs them: a cursor enters a block at its first
  * posting from `firstDocId` alone, decodes the block's docIds only when
  * it moves inside the block, its tfs and dls only on the first [[score]],
  * [[dl]] or [[positions]] there, and its positions only on the first
  * [[positions]] call, so only phrase-aligned documents pay them. Block-Max
  * WAND skips a block on its (firstDocId, lastDocId, maxScore) metadata
  * and never decodes it. Ids, tfs and dls decode into per-cursor buffers
  * reused across blocks ([[PForDelta.decodeInto]]).
  */
final class TermCursor(val term: String, val idf: Double,
    blocks: Array[SegBlock], avgdl: Double) {

  /** Term-level upper bound: max block score across the shard. */
  val termUB: Double = {
    var m = 0.0
    var i = 0
    while (i < blocks.length) { if (blocks(i).maxScore > m) m = blocks(i).maxScore; i += 1 }
    m
  }

  private var bi = 0
  private var i = 0
  /** The current posting's docId; Long.MaxValue once exhausted. */
  private var cur = if (blocks.isEmpty) Long.MaxValue else blocks(0).firstDocId
  private val ids, tfs, dls = new Array[Long](blocks.foldLeft(0)((m, b) => math.max(m, b.n)))
  private var idsBlock = -1 // the block `ids` holds
  private var tfsBlock = -1 // the block `tfs` and `dls` hold
  private var posBlock = -1 // the block posOff/posAll were decoded from
  private var posOff: Array[Int] = null
  private var posAll: Array[Long] = null

  private def decodeIds(): Unit = if (idsBlock != bi) {
    val b = blocks(bi)
    PForDelta.decodeGapsInto(b.gaps, b.n, b.firstDocId, ids)
    idsBlock = bi
  }

  private def decodeTfs(): Unit = if (tfsBlock != bi) {
    val b = blocks(bi)
    PForDelta.decodeInto(b.tfs, b.n, tfs)
    PForDelta.decodeInto(b.dls, b.n, dls)
    tfsBlock = bi
  }

  /** Enter block `to` (possibly past the end) at its first posting. */
  private def enterBlock(to: Int): Unit = {
    bi = to
    i = 0
    cur = if (bi < blocks.length) blocks(bi).firstDocId else Long.MaxValue
  }

  def exhausted: Boolean = bi >= blocks.length
  def curDoc: Long = cur
  def blockUB: Double = if (exhausted) 0.0 else blocks(bi).maxScore
  def blockLast: Long = if (exhausted) Long.MaxValue else blocks(bi).lastDocId

  def score: Double = {
    decodeTfs()
    Bm25.score(idf, tfs(i).toDouble, dls(i).toDouble, avgdl)
  }

  /** Length of the current posting's document. */
  def dl: Long = { decodeTfs(); dls(i) }

  /** Absolute ascending positions of the current posting, as
    * (array, from, until) into the block's decoded payload. */
  def positions(): (Array[Long], Int, Int) = {
    if (posBlock != bi) {
      val b = blocks(bi)
      require(b.pos != null,
        "no positional payload in segment — index built with positions=false")
      decodeTfs()
      posOff = new Array[Int](b.n + 1)
      var t = 0
      var j = 0
      while (j < b.n) { t += tfs(j).toInt; posOff(j + 1) = t; j += 1 }
      posAll = PForDelta.decode(b.pos, t)
      // un-delta within each posting (first value is absolute)
      j = 0
      while (j < b.n) {
        var p = posOff(j) + 1
        while (p < posOff(j + 1)) { posAll(p) += posAll(p - 1); p += 1 }
        j += 1
      }
      posBlock = bi
    }
    (posAll, posOff(i), posOff(i + 1))
  }

  def advance(): Unit = {
    i += 1
    if (i >= blocks(bi).n) enterBlock(bi + 1)
    else { decodeIds(); cur = ids(i) }
  }

  /** Advance to the first posting with docId >= target; skips whole blocks
    * via lastDocId metadata (never decodes skipped blocks), and enters a
    * block whose firstDocId reaches the target without decoding it. */
  def advanceTo(target: Long): Unit = {
    if (cur >= target) return
    var to = bi
    while (to < blocks.length && blocks(to).lastDocId < target) to += 1
    if (to != bi) enterBlock(to)
    if (cur >= target) return
    decodeIds()
    // binary search within the block
    var lo = i
    var hi = blocks(bi).n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ids(mid) < target) lo = mid + 1 else hi = mid
    }
    i = lo
    cur = ids(i)
  }

  /** Offer the current block's postings from the current one on to `heap`
    * in docId order, each scored `0.0 + score` (the one-term WAND fold)
    * unless tombstoned, then enter the next block. */
  private[query] def scoreBlock(heap: TopKHeap, deleted: Array[Long]): Unit = {
    val n = blocks(bi).n
    decodeIds()
    decodeTfs()
    var j = i
    while (j < n) {
      val d = ids(j)
      if (!IndexReader.isDeleted(deleted, d))
        heap.offer(d, 0.0 + Bm25.score(idf, tfs(j).toDouble, dls(j).toDouble, avgdl))
      j += 1
    }
    enterBlock(bi + 1)
  }
}

/** Block-Max WAND top-k (Ding & Suel, WSDM'11) over one document shard.
  *
  * Rank-identity contract with [[BruteForce]]: scores for a doc are
  * accumulated over query terms in ascending term order with the exact
  * double arithmetic of [[Bm25.score]]; ties are broken by ascending docId
  * (docs are scored in strictly increasing docId order, so an
  * equal-scoring later doc never evicts an earlier one); skipping uses
  * `ub <= θ` which can only drop docs that would lose that tie-break.
  */
object Wand {

  /** Top-k for one shard given its cursors (any order; re-sorted inside).
    * `deleted` is the sorted tombstone array ([[graft.index
    * .IncrementalIndex.deleteDocs]]): tombstoned docs are skipped at
    * emission — they still shape idf/avgdl (Lucene visibility semantics)
    * and block-max skipping stays sound because skipping can only ever
    * DROP candidates. */
  def topK(cursors0: Array[TermCursor], k: Int,
      deleted: Array[Long] = null): Array[Scored] = {
    val cursors = cursors0.filter(!_.exhausted).sortBy(_.term)
    if (cursors.isEmpty || k <= 0) return Array.empty
    val topk = new TopKHeap(k)
    if (cursors.length == 1) return oneTerm(cursors(0), topk, deleted)
    val m = cursors.length
    val order = cursors.indices.toArray // indices sorted by curDoc

    // insertion sort of the (≤ query-length) index array by curDoc
    def sortOrder(): Unit = {
      var i = 1
      while (i < m) {
        val v = order(i)
        val key = cursors(v).curDoc
        var j = i - 1
        while (j >= 0 && cursors(order(j)).curDoc > key) { order(j + 1) = order(j); j -= 1 }
        order(j + 1) = v
        i += 1
      }
    }

    while ({
      sortOrder()
      cursors(order(0)).curDoc != Long.MaxValue
    }) {
      val theta = topk.threshold
      // pivot: first prefix whose summed term upper bounds exceed θ
      var ub = 0.0
      var p = 0
      var found = false
      while (p < m && !found) {
        ub += cursors(order(p)).termUB
        if (ub > theta && cursors(order(p)).curDoc != Long.MaxValue) found = true
        else p += 1
      }
      if (!found) return topk.result() // no remaining doc can enter top-k
      val pivot = cursors(order(p)).curDoc
      // extend the aligned prefix over every cursor sitting on the pivot
      // doc — their block maxes belong in the doc's upper bound too
      while (p + 1 < m && cursors(order(p + 1)).curDoc == pivot) p += 1

      if (cursors(order(0)).curDoc == pivot) {
        // all lead cursors aligned on pivot: block-max refinement
        var i = 0
        var blockUb = 0.0
        var minBlockLast = Long.MaxValue
        while (i <= p) {
          val c = cursors(order(i))
          c.advanceTo(pivot) // aligns current block to pivot
          blockUb += c.blockUB
          if (c.blockLast < minBlockLast) minBlockLast = c.blockLast
          i += 1
        }
        if (blockUb <= theta) {
          // no doc in [pivot, next) can beat θ within these blocks
          var next = minBlockLast + 1
          if (p + 1 < m && cursors(order(p + 1)).curDoc < next)
            next = cursors(order(p + 1)).curDoc
          if (next <= pivot) next = pivot + 1
          i = 0
          while (i <= p) {
            val c = cursors(order(i))
            if (c.curDoc < next) c.advanceTo(next)
            i += 1
          }
        } else {
          // fully score pivot: contributions in ascending term order
          // (cursors array is term-sorted → iterate it, not `order`)
          if (!IndexReader.isDeleted(deleted, pivot)) {
            var s = 0.0
            var j = 0
            while (j < m) {
              val c = cursors(j)
              if (c.curDoc == pivot) s += c.score
              j += 1
            }
            topk.offer(pivot, s)
          }
          var j = 0
          while (j < m) {
            val c = cursors(j)
            if (c.curDoc == pivot) c.advance()
            j += 1
          }
        }
      } else {
        // move lagging cursors up to the pivot doc
        var i = 0
        while (i < p) {
          val c = cursors(order(i))
          if (c.curDoc < pivot) c.advanceTo(pivot)
          i += 1
        }
      }
    }
    topk.result()
  }

  /** One-term WAND as a block loop: a block whose bound is ≤ θ is skipped
    * undecoded; any other block's postings are scored in docId order into
    * `topk` — the multi-term loop's fold, tie rule and tombstone check. */
  private def oneTerm(c: TermCursor, topk: TopKHeap,
      deleted: Array[Long]): Array[Scored] = {
    while (!c.exhausted) {
      if (c.blockUB <= topk.threshold) c.advanceTo(c.blockLast + 1)
      else c.scoreBlock(topk, deleted)
    }
    topk.result()
  }
}
