package graft.query

/** Exact phrase top-k over a POSITIONAL index (built with
  * `IndexParams(positions = true)`).
  *
  * Semantics (documented, and mirrored by [[BruteForce.phraseScoreAll]] and
  * the q_phrase_topk DuckDB oracle): a document matches when the phrase's
  * tokens occur at strictly consecutive positions; `phrase_tf` = number of
  * match start positions; score = BM25 with tf = phrase_tf and
  * idf = Σ over phrase SLOTS of the member term's idf (a duplicated term
  * contributes once per slot — the multi-term weighting Lucene's
  * PhraseQuery uses). Replaces the reference's delegation of `match_phrase`
  * to OpenSearch/Lucene.
  *
  * Execution per shard: one leapfrog document-at-a-time intersection over
  * one [[TermCursor]] per phrase slot (the same block cursor WAND and the
  * clause kernel read) — `advanceTo` skips whole blocks via
  * (firstDocId, lastDocId) metadata without decoding, and a block's
  * position payload is decoded only when a document actually aligns on all
  * slots. The exact phrase and match_phrase_prefix kernels share that loop
  * and differ only in their last slot's positions. Cost is driven by the
  * rarest term, like every conjunctive executor; the shard fan-out is the
  * same structural skew story as WAND (a hot term's postings are spread
  * over all docId shards).
  */
object Phrase {

  /** Match-start count for one aligned document over raw (positions, from,
    * until) slot views — `slop = 0` runs [[phraseTfArrs]], `slop > 0`
    * [[phraseTfSlopArrs]]. Shared with [[BruteForce]], whose per-slot
    * lists come from a token stream instead of positional postings. */
  private[query] def slotTf(arrs: Array[(Array[Long], Int, Int)],
      slop: Int): Long =
    if (slop == 0) phraseTfArrs(arrs) else phraseTfSlopArrs(arrs, slop)

  /** Exact match-start count: for each occurrence p of slot 0, every later
    * slot j must contain p + j. Positions ascend and starts ascend, so
    * each slot keeps a monotone pointer — O(Σ tf). The match_phrase_prefix
    * path passes a MERGED union of expansion terms' positions as its last
    * slot. */
  private[query] def phraseTfArrs(arrs: Array[(Array[Long], Int, Int)])
      : Long = {
    val m = arrs.length
    val (p0, f0, u0) = arrs(0)
    val ptr = Array.tabulate(m)(j => arrs(j)._2)
    var count = 0L
    var a = f0
    while (a < u0) {
      val want0 = p0(a)
      var ok = true
      var j = 1
      while (ok && j < m) {
        val (pj, _, uj) = arrs(j)
        val want = want0 + j
        var q = ptr(j)
        while (q < uj && pj(q) < want) q += 1
        ptr(j) = q
        ok = q < uj && pj(q) == want
        j += 1
      }
      if (ok) count += 1
      a += 1
    }
    count
  }

  /** Ordered-proximity match-start count (the `slop` path — semantics on
    * [[BruteForce.phraseSlopScoreAll]]): for each occurrence p₀ of slot 0
    * the GREEDY chain picks the smallest position pⱼ > pⱼ₋₁ of each later
    * slot; the start matches when the chain exists with stretch
    * `p_{m-1} − p₀ − (m−1)` ≤ slop. Greedy picks are monotone in p₀, so
    * each slot keeps a monotone pointer — O(Σ tf), same complexity as the
    * exact counter. `slop = 0` counts exactly [[phraseTfArrs]]'s starts
    * (greedy minimizes the stretch; PhraseSpec pins the equivalence). */
  private[query] def phraseTfSlopArrs(arrs: Array[(Array[Long], Int, Int)],
      slop: Int): Long = {
    val m = arrs.length
    val (p0, f0, u0) = arrs(0)
    val ptr = Array.tabulate(m)(j => arrs(j)._2)
    var count = 0L
    var a = f0
    while (a < u0) {
      var prev = p0(a)
      var ok = true
      var j = 1
      while (ok && j < m) {
        val (pj, _, uj) = arrs(j)
        var q = ptr(j)
        while (q < uj && pj(q) <= prev) q += 1
        ptr(j) = q
        if (q < uj) prev = pj(q) else ok = false
        j += 1
      }
      if (ok && prev - p0(a) - (m - 1) <= slop) count += 1
      a += 1
    }
    count
  }

  /** The one leapfrog: document-at-a-time intersection of `slots`. On
    * every visible document where all slots align, `ptfOf` counts the
    * phrase matches and a positive count is scored BM25(idfSum, ptf, dl);
    * then every slot steps past it. Tombstoned docs are skipped at
    * emission only — they still shape idf/avgdl (Lucene visibility). */
  private def leapfrogScores(slots: Array[TermCursor], deleted: Array[Long],
      idfSum: Double, avgdl: Double)(ptfOf: Long => Long): Iterator[Scored] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Scored]
    var live = true
    while (live && !slots.exists(_.exhausted)) {
      var target = 0L
      var j = 0
      while (j < slots.length) {
        if (slots(j).curDoc > target) target = slots(j).curDoc
        j += 1
      }
      var aligned = true
      j = 0
      while (j < slots.length) {
        slots(j).advanceTo(target)
        if (slots(j).exhausted) { aligned = false; live = false }
        else if (slots(j).curDoc != target) aligned = false
        j += 1
      }
      if (aligned) {
        if (!IndexReader.isDeleted(deleted, target)) {
          val ptf = ptfOf(target)
          if (ptf > 0) out += Scored(target,
            Bm25.score(idfSum, ptf.toDouble, slots(0).dl.toDouble, avgdl))
        }
        j = 0
        while (j < slots.length) { slots(j).advance(); j += 1 }
      }
    }
    out.iterator
  }

  /** One position cursor per slot (a repeated term gets one per slot:
    * slots advance independently). Positions and dl are all a phrase
    * reads, so the cursors carry no idf. */
  private def slotCursors(byTerm: Map[String, Array[SegmentRead]],
      terms: Seq[String], avgdl: Double): Array[TermCursor] =
    terms.map(t => IndexReader.termCursor(t, byTerm(t), 0.0, avgdl)).toArray

  /** Executor-side per-shard phrase scorer emitting EVERY matching doc —
    * the composition primitive behind phrase top-k (through [[shardHead]];
    * `idfSum` comes from the GLOBAL merged dfs, as a shard only sees its
    * own generations), rescoring and the clause kernel's phrase groups
    * (which need full per-doc phrase scores to sum with term clauses, not
    * a pre-truncated page). `slop = 0` runs the
    * exact consecutive-position counter; `slop > 0` the greedy
    * ordered-proximity counter (a document still must contain every slot
    * term). Matches per shard are bounded by the shard's doc range, so
    * the buffer is shard-sized at worst. */
  def shardScores(avgdl: Double, phrase: Seq[String], idfSum: Double,
      deleted: Array[Long] = null, slop: Int = 0)(
      shard: Long, rows: Iterator[SegmentRead]): Iterator[Scored] = {
    val byTerm = rows.toArray.groupBy(_.term)
    // a shard missing ANY slot term cannot match the phrase
    if (phrase.distinct.exists(t => !byTerm.contains(t))) return Iterator.empty
    val cursors = slotCursors(byTerm, phrase, avgdl)
    leapfrogScores(cursors, deleted, idfSum, avgdl)(_ =>
      slotTf(cursors.map(_.positions()), slop))
  }

  /** One shard's top-k of a leapfrog's scores through a bounded heap: the
    * leapfrog emits docs in ascending docId order, so on a score tie the
    * heap's incumbent is the smaller docId. */
  private[query] def shardHead(k: Int, scores: Iterator[Scored]): Iterator[Scored] = {
    val topk = new TopKHeap(k)
    scores.foreach(s => topk.offer(s.docId, s.score))
    topk.result().iterator
  }

  /** Executor-side per-shard match_phrase_prefix scorer: slots
    * `exact` match their terms, the LAST slot matches ANY `expansion`
    * term — its position list per document is the MERGED union of the
    * expansion cursors' positions. The leapfrog drives on the exact slots
    * (every doc must contain them all); expansion cursors advance to each
    * aligned target and only contributors' payloads decode. Emits every
    * matching doc (selection is the caller's heap/TakeOrdered). */
  def shardPrefixScores(avgdl: Double, exact: Seq[String],
      expansion: Seq[String], idfSum: Double, deleted: Array[Long] = null,
      slop: Int = 0)(
      shard: Long, rows: Iterator[SegmentRead]): Iterator[Scored] = {
    require(exact.nonEmpty,
      "match_phrase_prefix needs >= 1 exact slot (use a prefix query for 1-term)")
    val byTerm = rows.toArray.groupBy(_.term)
    if (exact.distinct.exists(t => !byTerm.contains(t))) return Iterator.empty
    val expTerms = expansion.distinct.sorted.filter(byTerm.contains)
    if (expTerms.isEmpty) return Iterator.empty
    val cursors = slotCursors(byTerm, exact, avgdl)
    val expCursors = slotCursors(byTerm, expTerms, avgdl)
    leapfrogScores(cursors, deleted, idfSum, avgdl) { target =>
      // merged ascending union of the expansion terms' positions
      val slices = expCursors.flatMap { c =>
        c.advanceTo(target)
        if (!c.exhausted && c.curDoc == target) Some(c.positions()) else None
      }
      val total = slices.map(s => s._3 - s._2).sum
      if (total == 0) 0L
      else {
        val merged = new Array[Long](total)
        var w = 0
        slices.foreach { case (p, from, until) =>
          System.arraycopy(p, from, merged, w, until - from)
          w += until - from
        }
        java.util.Arrays.sort(merged)
        slotTf(cursors.map(_.positions()) :+ ((merged, 0, total)), slop)
      }
    }
  }
}
