package graft.query

import org.scalatest.funsuite.AnyFunSuite

import graft.index.PForDelta
import graft.util.SplitMix64

/** Differential test of the one dense clause kernel — its untruncated
  * scores ([[IndexSearch.shardClauseScores]]) and its rounded top-k
  * ([[IndexSearch.shardClauseTopK]]) — and of [[TermCursor]]'s lazy
  * positions, over randomized posting tables — pure Scala (no Spark), in
  * the style of [[WandSpec]]. Postings span one or two generations (each
  * owning a disjoint docId range and baking its own df into its rows),
  * several shards and random block sizes, with tombstones. */
class ClauseKernelSpec extends AnyFunSuite {

  /** One posting: doc, tf, dl, ascending positions (tf of them). */
  private final case class P(doc: Long, tf: Long, dl: Long, pos: Array[Long])

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Position payload as the build writes it: per posting, the first
    * position absolute and the rest as deltas, all in one PForDelta run. */
  private def encodePos(ps: Seq[P]): Array[Byte] =
    PForDelta.encode(ps.flatMap(p =>
      p.pos.head +: p.pos.sliding(2).collect { case Array(a, b) => b - a }.toSeq
    ).toArray)

  private def segRows(term: String, ps: Seq[P], df: Long, shard: Long,
      gen: Int, blockSize: Int): Seq[SegmentRead] =
    ps.grouped(blockSize).zipWithIndex.map { case (blk, bi) =>
      val ids = blk.map(_.doc).toArray
      SegmentRead(term, df, shard, bi, ids.head, ids.last, ids.length,
        blk.map(_.tf).max, blk.map(_.dl).min,
        PForDelta.encodeGaps(ids, ids.head), PForDelta.encode(blk.map(_.tf).toArray),
        PForDelta.encode(blk.map(_.dl).toArray), encodePos(blk), 0, gen)
    }.toSeq

  /** A random corpus: per-doc lengths, per-term postings with positions. */
  private def corpus(rng: SplitMix64, nDocs: Int, nTerms: Int)
      : (Array[Long], Map[String, Seq[P]]) = {
    val dl = Array.tabulate(nDocs)(_ => 8L + rng.nextInt(60))
    val postings = (0 until nTerms).map(i => f"t$i%02d").map { t =>
      val density = 0.05 + rng.nextDouble() * 0.6
      t -> (0 until nDocs).flatMap { d =>
        if (rng.nextDouble() >= density) None
        else {
          val tf = 1 + rng.nextInt(math.min(5, dl(d).toInt))
          val pos = new scala.util.Random(rng.nextLong())
            .shuffle((0L until dl(d)).toList).take(tf).sorted.toArray
          Some(P(d.toLong, tf.toLong, dl(d), pos))
        }
      }
    }.toMap.filter(_._2.nonEmpty)
    (dl, postings)
  }

  /** The flat bool shape the first case draws: ascending score terms with
    * boosts, must/should/must_not sets and the rest of the clause value. */
  private final case class Flat(
      terms: Seq[(String, Double)],
      must: Set[String] = Set.empty, should: Set[String] = Set.empty,
      mustNot: Set[String] = Set.empty, minShouldMatch: Int = 0,
      excludeDocId: Long = -1L,
      afterScore: Double = Double.NaN, afterDocId: Long = -1L,
      disMaxTie: Option[Double] = None) {
    def clauses: Clauses =
      Clauses.flat(terms, must, should, mustNot, minShouldMatch).copy(
        excludeDocId = excludeDocId, afterScore = afterScore,
        afterDocId = afterDocId, disMaxTie = disMaxTie)
  }

  private def pick(rng: SplitMix64, xs: Seq[String], p: Double): Seq[String] =
    xs.filter(_ => rng.nextDouble() < p)

  /** A random index: the corpus, its posting table over one or two
    * generations, several shards and a random block size, and the GLOBAL
    * dfs. */
  private final case class Index(nDocs: Int, dl: Array[Long],
      postings: Map[String, Seq[P]], rows: Seq[SegmentRead],
      df: Map[String, Long]) {
    val n: Long = nDocs.toLong
    val avgdl: Double = dl.sum.toDouble / n
    def posting(t: String, d: Long): Option[P] =
      postings.getOrElse(t, Nil).find(_.doc == d)
  }

  private def randomIndex(rng: SplitMix64): Index = {
    val nDocs = 20 + rng.nextInt(180)
    val (dl, postings) = corpus(rng, nDocs, 3 + rng.nextInt(6))
    val shardSize = 16 + rng.nextInt(64)
    val split = if (rng.nextInt(2) == 0) nDocs.toLong else rng.nextInt(nDocs).toLong
    def genOf(d: Long): Int = if (d < split) 0 else 1
    val blockSize = 1 + rng.nextInt(12)
    val rows = postings.toSeq.flatMap { case (t, ps) =>
      ps.groupBy(p => genOf(p.doc)).toSeq.flatMap { case (g, gps) =>
        gps.groupBy(_.doc / shardSize).toSeq.flatMap { case (sh, sps) =>
          segRows(t, sps.sortBy(_.doc), gps.size.toLong, sh, g, blockSize)
        }
      }
    }
    Index(nDocs, dl, postings, rows,
      postings.map { case (t, ps) => t -> ps.size.toLong })
  }

  /** The clause kernel over every shard of `ix`, then the global head. */
  private def kernelHead(ix: Index, k: Int, q: Clauses,
      deleted: Array[Long]): Seq[Scored] =
    IndexReader.head(ix.rows.groupBy(_.shard).iterator.flatMap { case (sh, rs) =>
      IndexSearch.shardClauseTopK(ix.n, ix.avgdl, k, ix.df, q, deleted)(sh, rs.iterator)
    }, k).toSeq

  /** [[IndexSearch.shardClauseScores]] over every shard of `ix`, in shard
    * order: every passing doc with its unrounded score. */
  private def kernelScores(ix: Index, q: Clauses,
      deleted: Array[Long]): Seq[Scored] =
    ix.rows.groupBy(_.shard).toSeq.sortBy(_._1).flatMap { case (sh, rs) =>
      IndexSearch.shardClauseScores(ix.n, ix.avgdl, ix.df, q, deleted)(sh, rs.iterator)
    }

  /** The kernel's unrounded scores equal the naive ones bit for bit, in
    * ascending docId order. */
  private def assertScores(got: Seq[Scored], want: Seq[Scored], ctx: => String): Unit = {
    assert(got.map(_.docId) == want.map(_.docId),
      s"match set mismatch $ctx:\n naive=$want\n kernel=$got")
    got.zip(want).foreach { case (g, w) =>
      assert(java.lang.Double.doubleToRawLongBits(g.score) ==
        java.lang.Double.doubleToRawLongBits(w.score),
        s"unrounded score mismatch $ctx doc=${g.docId}: ${g.score} vs ${w.score}")
    }
  }

  private def runCase(seed: Long): Unit = {
    val rng = new SplitMix64(seed)
    val ix = randomIndex(rng)
    import ix.{avgdl, df, n, nDocs, postings}

    // random clause value
    val terms = postings.keys.toSeq.sorted :+ "absent"
    val disMax = rng.nextInt(3) == 0
    val (must, should, mustNot) =
      if (disMax) (Seq.empty, pick(rng, terms, 0.6), Seq.empty)
      else {
        val m = pick(rng, terms, 0.25)
        (m, pick(rng, terms, 0.5), pick(rng, terms.diff(m), 0.2))
      }
    val scoreTerms = (must ++ should).distinct.sorted
    if (scoreTerms.isEmpty) return
    val boosted = rng.nextInt(2) == 0
    val q0 = Flat(
      scoreTerms.map(t => t -> (if (boosted) 0.25 + rng.nextDouble() * 3 else 1.0)),
      must.toSet, if (disMax) Set.empty else should.toSet, mustNot.toSet,
      minShouldMatch = if (disMax) 0 else rng.nextInt(3),
      excludeDocId = if (rng.nextInt(3) == 0) rng.nextInt(nDocs).toLong else -1L,
      disMaxTie = if (disMax) Some(rng.nextDouble()) else None)
    val deleted =
      if (rng.nextInt(2) == 0) null
      else (0 until nDocs).filter(_ => rng.nextDouble() < 0.2).map(_.toLong).toArray
    val k = 1 + rng.nextInt(15)

    // naive per-doc scorer: same ascending-term fold from 0.0; every doc
    // past the gates with its unrounded score, ascending docId
    def naiveScores(q: Flat): Seq[Scored] = (0 until nDocs).map(_.toLong).flatMap { d =>
      var sum = 0.0
      var best = 0.0
      var seen = false
      var mustHits = 0
      var shouldHits = 0
      q.terms.foreach { case (t, boost) =>
        postings.getOrElse(t, Nil).find(_.doc == d).foreach { p =>
          val s = Bm25.score(Bm25.idf(n, df(t)), p.tf.toDouble, p.dl.toDouble,
            avgdl) * boost
          sum += s
          if (s > best) best = s
          seen = true
          if (q.must(t)) mustHits += 1
          if (q.should(t)) shouldHits += 1
        }
      }
      val banned = q.mustNot.exists(t => postings.getOrElse(t, Nil).exists(_.doc == d))
      val msm = if (q.should.isEmpty) 0 else q.minShouldMatch
      if (seen && !banned && mustHits == q.must.size && shouldHits >= msm &&
          d != q.excludeDocId && (deleted == null || !deleted.contains(d)))
        Some(Scored(d, q.disMaxTie.fold(sum)(tie => best + tie * (sum - best))))
      else None
    }

    // then round4, the search_after cursor, and the head
    def naive(q: Flat): Seq[Scored] = naiveScores(q)
      .map(s => Scored(s.docId, round4(s.score)))
      .filter(s => q.afterScore.isNaN || s.score < q.afterScore ||
        (s.score == q.afterScore && s.docId > q.afterDocId))
      .sortBy(s => (-s.score, s.docId)).take(k)

    def kernel(q: Flat): Seq[Scored] = kernelHead(ix, k, q.clauses, deleted)

    val first = naive(q0)
    // a search_after cursor taken from the first page's middle row
    val cases = q0 +: first.drop(first.size / 2).headOption.toSeq.map(c =>
      q0.copy(afterScore = c.score, afterDocId = c.docId))
    cases.foreach { q =>
      val want = naive(q)
      val got = kernel(q)
      assert(got.map(_.docId) == want.map(_.docId),
        s"rank mismatch seed=$seed q=$q:\n naive=$want\n kernel=$got")
      got.zip(want).foreach { case (g, w) =>
        assert(g.score == w.score, s"score mismatch seed=$seed doc=${g.docId}")
      }
      assertScores(kernelScores(ix, q.clauses, deleted), naiveScores(q),
        s"seed=$seed q=$q")
    }
  }

  /** Match starts of a phrase in one doc, from its slots' positions: exact
    * (`slop = 0`: slot j holds p + j) or the greedy ordered chain (each
    * slot's first position after the previous slot's, stretch ≤ slop). */
  private def naivePhraseTf(slots: Seq[Array[Long]], slop: Int): Long =
    slots.head.count { p0 =>
      if (slop == 0) slots.indices.forall(j => slots(j).contains(p0 + j))
      else {
        var prev = p0
        val chained = slots.tail.forall { ps =>
          ps.find(_ > prev).exists { p => prev = p; true }
        }
        chained && prev - p0 - (slots.size - 1) <= slop
      }
    }.toLong

  /** One random clause-group case; returns the group kinds that matched a
    * doc ("Must phrase", "Should terms", …). */
  private def runGroups(seed: Long): Set[String] = {
    import QueryString.{Must, MustNot, Resolved, Should}
    val rng = new SplitMix64(seed)
    val ix = randomIndex(rng)
    import ix.{avgdl, df, n, nDocs}
    val vocab = ix.postings.keys.toSeq.sorted
    val terms = vocab :+ "absent"
    // boosts span twelve orders of magnitude, so a sum folded in another
    // order differs in its rounded 4th decimal, not just its last bits
    def boost(): Double = rng.nextInt(4) match {
      case 0 => 1.0
      case 1 => 0.25 + rng.nextDouble() * 3
      case _ => math.pow(10, rng.nextInt(13)) * (0.5 + rng.nextDouble())
    }
    val groups = (0 until 1 + rng.nextInt(5)).map { _ =>
      val occur = rng.nextInt(5) match {
        case 0 => Must
        case 1 => MustNot
        case _ => Should
      }
      if (rng.nextInt(3) == 0) {
        val slots = Seq.fill(2 + rng.nextInt(2))(vocab(rng.nextInt(vocab.size)))
        Resolved(occur, boost(), Nil, Some((slots, rng.nextInt(3))))
      } else {
        val ts = Seq.fill(1 + rng.nextInt(3))(terms(rng.nextInt(terms.size)))
        Resolved(occur, boost(), ts.distinct.sorted, None)
      }
    }
    if (!groups.exists(_.occur != MustNot)) return Set.empty
    val matched = Set.newBuilder[String]
    val q = Clauses(groups,
      minShouldMatch = if (rng.nextInt(4) == 0) rng.nextInt(3) else 0)
    val deleted =
      if (rng.nextInt(2) == 0) null
      else (0 until nDocs).filter(_ => rng.nextDouble() < 0.2).map(_.toLong).toArray
    val k = 1 + rng.nextInt(15)

    // naive per-doc scorer: groups in clause order, each group's terms
    // summed from 0.0 ascending, boost × group sum added to the score
    def contribution(g: Resolved, d: Long): Option[Double] = g.phrase match {
      case Some((slots, slop)) =>
        val ps = slots.map(t => ix.posting(t, d))
        if (ps.exists(_.isEmpty)) None
        else {
          val ptf = naivePhraseTf(ps.map(_.get.pos), slop)
          if (ptf == 0) None
          else Some(Bm25.score(slots.map(t => Bm25.idf(n, df(t))).sum,
            ptf.toDouble, ix.dl(d.toInt).toDouble, avgdl))
        }
      case None =>
        val hits = g.terms.flatMap(t => ix.posting(t, d).map(t -> _))
        if (hits.isEmpty) None
        else Some(hits.foldLeft(0.0) { case (acc, (t, p)) =>
          acc + Bm25.score(Bm25.idf(n, df(t)), p.tf.toDouble, p.dl.toDouble, avgdl)
        })
    }
    val wantScores = (0 until nDocs).map(_.toLong).flatMap { d =>
      var score = 0.0
      var seen = false
      var banned = false
      var mustHits = 0
      var shouldHits = 0
      groups.foreach { g =>
        contribution(g, d).foreach { c =>
          matched += s"${g.occur} ${if (g.phrase.isDefined) "phrase" else "terms"}"
          if (g.occur == MustNot) banned = true
          else {
            score += g.boost * c
            seen = true
            if (g.occur == Must) mustHits += 1 else shouldHits += 1
          }
        }
      }
      if (seen && !banned && mustHits == groups.count(_.occur == Must) &&
          (q.minShouldMatch <= 0 || shouldHits >= q.minShouldMatch) &&
          (deleted == null || !deleted.contains(d)))
        Some(Scored(d, score))
      else None
    }
    assertScores(kernelScores(ix, q, deleted), wantScores, s"seed=$seed q=$q")
    val want = wantScores.map(s => Scored(s.docId, round4(s.score)))
      .sortBy(s => (-s.score, s.docId)).take(k)
    val got = kernelHead(ix, k, q, deleted)
    assert(got == want, s"seed=$seed q=$q:\n naive=$want\n kernel=$got")
    matched.result()
  }

  test("clause groups ≡ naive clause-order fold: multi-term groups, boosts, " +
      "must/should/must_not, phrases with slop, must_not phrases") {
    val matched = (1L to 400L).flatMap(i => runGroups(i * 6151)).toSet
    // every group kind matched some doc somewhere in the run
    for (o <- Seq("Must", "Should", "MustNot"); kind <- Seq("terms", "phrase"))
      assert(matched(s"$o $kind"), s"no $o $kind group matched: $matched")
  }

  test("clause kernel ≡ naive scorer: bool, msm, boosts, exclude, " +
      "search_after, dis_max, tombstones, two generations") {
    (1L to 300L).foreach(i => runCase(i * 7919))
  }

  test("TermCursor positions after advanceTo/advance ≡ directly decoded") {
    (1L to 100L).foreach { seed =>
      val rng = new SplitMix64(seed * 104729)
      val (_, postings) = corpus(rng, 30 + rng.nextInt(150), 1)
      postings.values.foreach { ps =>
        val blockSize = 1 + rng.nextInt(10)
        val blocks = segRows("t", ps, ps.size.toLong, 0L, 0, blockSize)
          .map(r => IndexReader.boundedBlock(r, 1.0, 30.0)).toArray
        val c = new TermCursor("t", 1.0, blocks, 30.0)
        var at = 0 // index into ps of the posting the cursor must sit on
        while (!c.exhausted) {
          if (rng.nextInt(3) == 0) { c.advance(); at += 1 }
          else {
            val target = ps(at).doc + rng.nextInt(3 * blockSize)
            c.advanceTo(target)
            while (at < ps.size && ps(at).doc < target) at += 1
          }
          assert(c.exhausted == (at == ps.size))
          if (!c.exhausted) {
            val p = ps(at)
            assert(c.curDoc == p.doc)
            val (arr, from, until) = c.positions()
            assert(arr.slice(from, until).toSeq == p.pos.toSeq,
              s"positions mismatch seed=$seed doc=${p.doc}")
            assert(c.dl == p.dl)
            assert(c.positions()._1 eq arr) // one decode per block
          }
        }
      }
    }
  }
}
