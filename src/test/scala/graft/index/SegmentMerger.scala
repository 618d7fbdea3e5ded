package graft.index

import scala.collection.mutable

/** Multi-way merge of partition-local posting segments into globally
  * docId-sorted posting lists.
  *
  * Because the build salts by shard = docId range, a term's segments are
  * docId-disjoint and shard order == docId order, so the common case is a
  * positional concatenation (O(1) per segment). The general k-way
  * heap-merge below also handles arbitrary overlapping runs. It is the
  * test-side reference for the "merge of random segment splits ≡
  * single-pass build" property tests (FIXTURES.md §3); the engine itself
  * never merges this way.
  */
object SegmentMerger {

  final case class Posting(docId: Long, tf: Long, dl: Long)

  /** K-way merge of docId-sorted posting runs (runs must be internally
    * sorted and globally duplicate-free). Streams lazily: O(k) memory. */
  def merge(runs: Seq[Iterator[Posting]]): Iterator[Posting] = {
    final case class Head(p: Posting, src: Int)
    val heap = mutable.PriorityQueue.empty[Head](Ordering.by[Head, Long](-_.p.docId))
    val its = runs.toArray
    its.zipWithIndex.foreach { case (it, i) => if (it.hasNext) heap.enqueue(Head(it.next(), i)) }
    new Iterator[Posting] {
      override def hasNext: Boolean = heap.nonEmpty
      override def next(): Posting = {
        val Head(p, src) = heap.dequeue()
        if (its(src).hasNext) heap.enqueue(Head(its(src).next(), src))
        p
      }
    }
  }

  /** Decode one term's blocks (sorted by (shard, firstDocId)) into its
    * global posting list — the materialized view of the merge. */
  def decodeGlobal(blocks: Seq[SegmentRow]): Iterator[Posting] =
    blocks.sortBy(b => (b.shard, b.firstDocId)).iterator.flatMap { b =>
      val ids = PForDelta.decodeGaps(b.gaps, b.n, b.firstDocId)
      val tfs = PForDelta.decode(b.tfs, b.n)
      val dls = PForDelta.decode(b.dls, b.n)
      ids.indices.iterator.map(i => Posting(ids(i), tfs(i), dls(i)))
    }
}
