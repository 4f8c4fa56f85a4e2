package lucy.query

import scala.collection.mutable
import lucy.LucySpec
import lucy.index.{DecodedBlock, PostingBlock}

/** Query-side plan: tiny, broadcast to executors (SURVEY.md §3.2).
  * terms are distinct + ascending — the normative summation order.
  */
case class QueryPlan(terms: Array[String], dfs: Array[Long], n: Long,
                     avgdl: Double, conjunctive: Boolean, k: Int,
                     phraseSlots: Array[Int] = Array.empty,
                     masks: Array[Array[Long]] = Array.empty) {
  // masks: per srcPart, the sorted docIds dead in that part (empty when
  // the view masks nothing); n/avgdl/dfs already count live docs only,
  // the kernel only needs to keep cursors off the dead pairs.
  // phraseSlots: for phrase queries, the index into `terms` of each
  // query-token slot in original order (empty = not a phrase). Phrase
  // implies conjunctive; matching docs additionally need the slots'
  // positions contiguous (LucySpec §8.6 r2).
  def termIndex(t: String): Int = java.util.Arrays.binarySearch(terms.asInstanceOf[Array[AnyRef]], t)
}

case class ScoredDoc(docId: Long, score: Double, nTerms: Int)

/** A cursor over one (term, salt) stream's blocks within a docId range,
  * sorted by firstDocId. Lazily decodes; advances block-at-a-time using
  * (firstDocId, lastDocId) skip metadata without decoding skipped blocks
  * (SURVEY.md §4.4).
  *
  * The range is END-INCLUSIVE: a document with docId == Long.MaxValue
  * (possible — docIds are xxhash64 & Long.MaxValue) is scoreable in the
  * last bucket. `exhausted` is the only authoritative end-of-stream
  * signal; the docId == Long.MaxValue sentinel is paired with it but a
  * LIVE cursor may also legitimately sit at Long.MaxValue.
  */
private[query] class Cursor(val termIdx: Int, blocks: Array[PostingBlock],
                            endInclusive: Long, avgdl: Double) {
  private var bi = 0
  private var decoded: DecodedBlock = null
  private var decodedPos: Array[Array[Int]] = null // lazy, phrase mode only
  private var pos = 0
  var docId: Long = -1L
  var exhausted: Boolean = false

  protected def exhaust(): Unit = {
    exhausted = true; docId = Long.MaxValue; decoded = null; decodedPos = null
  }

  /** Term positions of the current document (phrase verification).
    * Decoded lazily per block; only phrase queries pay it.
    */
  def positions: Array[Int] = {
    if (decodedPos == null) decodedPos = PostingBlock.decodePositions(blocks(bi), decoded.tfs)
    decodedPos(pos)
  }

  /** Upper bound of the remaining stream's impact (suffix max over
    * remaining blocks of impact(maxTf, minDocLen) — monotone bounds,
    * safe under any current avgdl; see PostingBlock doc).
    */
  private val suffixImpactUb: Array[Double] = {
    val a = new Array[Double](blocks.length + 1)
    var i = blocks.length - 1
    while (i >= 0) {
      val b = blocks(i)
      val ub = LucySpec.impactUpperBound(b.maxTf, b.minDocLen, avgdl)
      a(i) = math.max(ub, a(i + 1))
      i -= 1
    }
    a
  }

  def remainingImpactUb: Double = if (exhausted) 0.0 else suffixImpactUb(bi)

  def tf: Int = decoded.tfs(pos)
  def docLen: Int = decoded.docLens(pos)

  /** Skip whole blocks with lastDocId < target WITHOUT decoding. After
    * the call either `exhausted`, or the current block has
    * lastDocId ≥ target and blockFirst/blockLast/blockImpactUb describe
    * it. Never decodes; never moves an already-positioned cursor
    * backwards.
    */
  def shallowTo(target: Long): Unit = {
    if (exhausted) return
    if (decoded != null && docId >= target) return // already positioned past target
    while (bi < blocks.length && blocks(bi).lastDocId < target) {
      bi += 1; decoded = null; decodedPos = null; pos = 0
    }
    if (bi >= blocks.length) { exhaust(); return }
    if (blocks(bi).firstDocId > endInclusive) exhaust() // rest of stream out of range
  }

  /** True when the cursor is exactly positioned at a docId ≥ target —
    * the shallow phase can then use the exact docId instead of the
    * block-metadata lower bound.
    */
  def decodedAt(target: Long): Boolean = decoded != null && docId >= target

  /** Current block metadata (valid when !exhausted after shallowTo). */
  def blockFirst: Long = blocks(bi).firstDocId
  def blockLast: Long = blocks(bi).lastDocId
  def blockImpactUb: Double =
    LucySpec.impactUpperBound(blocks(bi).maxTf, blocks(bi).minDocLen, avgdl)

  /** Position at the first docId ≥ target (and ≤ endInclusive). */
  def advanceTo(target: Long): Unit = {
    if (exhausted) return
    if (decoded != null && docId >= target) return
    // skip whole blocks by metadata
    while (bi < blocks.length && blocks(bi).lastDocId < target) {
      bi += 1; decoded = null; decodedPos = null; pos = 0
    }
    if (bi >= blocks.length) { exhaust(); return }
    if (decoded == null) { decoded = PostingBlock.decode(blocks(bi)); pos = 0 }
    while (pos < decoded.docIds.length && decoded.docIds(pos) < target) pos += 1
    if (pos >= decoded.docIds.length) {
      bi += 1; decoded = null; decodedPos = null; pos = 0
      advanceTo(target) // next block (first docId may still be < target across gaps)
      return
    }
    docId = decoded.docIds(pos)
    if (docId > endInclusive) exhaust()
  }

  /** Advance past the current document (overflow-safe at Long.MaxValue). */
  def next(): Unit =
    if (docId == Long.MaxValue) exhaust() else advanceTo(docId + 1)
}

/** A cursor over a part with dead docs (`dead`, sorted): it lands only on
  * live postings, so every (term, doc) match the kernel sees is the live
  * version's. A subclass, so an unmasked cursor pays nothing per posting.
  * Block metadata still counts the dead postings, which keeps every
  * block and stream bound an upper bound.
  */
private[query] final class MaskedCursor(termIdx: Int, blocks: Array[PostingBlock],
                                        endInclusive: Long, avgdl: Double,
                                        dead: Array[Long])
    extends Cursor(termIdx, blocks, endInclusive, avgdl) {
  private var di = 0 // dead(di) is the first dead docId ≥ every docId landed on

  private def isDead(d: Long): Boolean = {
    while (di < dead.length && dead(di) < d) di += 1
    di < dead.length && dead(di) == d
  }

  override def advanceTo(target: Long): Unit = {
    super.advanceTo(target)
    while (!exhausted && isDead(docId)) {
      if (docId == Long.MaxValue) exhaust() else super.advanceTo(docId + 1)
    }
  }
}

/** Block-max WAND kernel (SURVEY.md §4.4; Broder et al. CIKM'01, Ding &
  * Suel SIGIR'11 [LIT]) — runs per docId range, either inside
  * mapPartitions (distributed buckets) or on the driver over gathered
  * blocks (Searcher's scatter-gather path). State is O(#cursors + k);
  * no spill possible.
  *
  * Exactness contract (WandEquivalenceSpec): identical top-k — docIds,
  * bit-equal scores, same (score DESC, docId ASC) order — as
  * NaiveSearch over any corpus. Scores are computed addend-by-addend in
  * ascending term order via LucySpec.bm25Addend, exactly the naive
  * engine's fold. Both modes prune with upper bounds that are
  * FP-monotone-safe: every addend ≤ its bound under IEEE754 weak
  * monotonicity of +,*,/ on positive operands, and bound sums use the
  * same ascending-term order as scoreDoc, so `boundSum < θ` implies
  * `score < θ` exactly, never "approximately".
  */
object Wand {

  /** Heap entry ordering: the WORST result first (min-heap on score,
    * tie: larger docId is worse) so the root is the eviction candidate.
    */
  val worstFirst: Ordering[ScoredDoc] = (a: ScoredDoc, b: ScoredDoc) => {
    val c = java.lang.Double.compare(a.score, b.score)
    if (c != 0) c else java.lang.Long.compare(b.docId, a.docId)
  }

  /** best-first total order (score DESC, docId ASC) — the result order. */
  val bestFirst: Ordering[ScoredDoc] = worstFirst.reverse

  /** Run the kernel over one docId range's blocks.
    *
    * @param blocksByCursor blocks grouped per (term, salt, srcPart), each
    *                       group sorted by firstDocId, with the term's
    *                       index into plan.terms and the srcPart
    * @param lo             first docId of the range (inclusive)
    * @param endInclusive   last docId of the range (inclusive; pass
    *                       Long.MaxValue for an unbounded range)
    */
  def topK(plan: QueryPlan, blocksByCursor: Iterable[(Int, Int, Array[PostingBlock])],
           lo: Long, endInclusive: Long): Iterator[ScoredDoc] = {
    val cursors = blocksByCursor.iterator.map { case (ti, srcPart, bs) =>
      val dead = if (srcPart < plan.masks.length) plan.masks(srcPart) else Array.emptyLongArray
      val c =
        if (dead.isEmpty) new Cursor(ti, bs, endInclusive, plan.avgdl)
        else new MaskedCursor(ti, bs, endInclusive, plan.avgdl, dead)
      c.advanceTo(lo)
      c
    }.filterNot(_.exhausted).toArray

    val nQ = plan.terms.length
    if (cursors.isEmpty) return Iterator.empty
    if (plan.conjunctive) {
      // every term must have ≥1 live cursor, else no doc can qualify
      val present = cursors.map(_.termIdx).toSet
      if (present.size < nQ) return Iterator.empty
    }

    val idfs = plan.dfs.map(df => LucySpec.idf(df, plan.n))
    val weights = idfs.map(_ * (LucySpec.k1 + 1.0)) // per-term score multiplier

    val heap = new mutable.PriorityQueue[ScoredDoc]()(bestFirst) // min-root
    def theta: Double = if (heap.size >= plan.k) heap.head.score else Double.NegativeInfinity

    // score doc d: addends in ascending term order (a doc is live in one
    // part only, so at most one cursor per term sits at d)
    val byTerm: Array[Array[Cursor]] = {
      val m = Array.fill(nQ)(mutable.ArrayBuffer.empty[Cursor])
      cursors.foreach(c => m(c.termIdx) += c)
      m.map(_.toArray)
    }

    // weights(t) * impact is bit-identical to LucySpec.bm25Addend's
    // (idf * (k1+1)) * impact — same left association, idf(df, n) is a
    // pure function recomputed to the same bits every call — but hoists
    // the log out of the per-posting hot loop.
    def scoreDoc(d: Long): Unit = {
      var score = 0.0
      var matched = 0
      var t = 0
      while (t < nQ) {
        val cs = byTerm(t)
        var i = 0
        while (i < cs.length) {
          val c = cs(i)
          if (!c.exhausted && c.docId == d) {
            score += weights(t) * LucySpec.impact(c.tf, c.docLen, plan.avgdl)
            matched += 1
            i = cs.length
          } else i += 1
        }
        t += 1
      }
      if (plan.conjunctive && matched < nQ) return
      offer(d, score, matched)
    }

    // allocation-free eviction check (worstFirst inlined)
    def offer(d: Long, score: Double, matched: Int): Unit = {
      if (heap.size < plan.k) heap.enqueue(ScoredDoc(d, score, matched))
      else {
        val worst = heap.head
        if (score > worst.score || (score == worst.score && d < worst.docId)) {
          heap.dequeue(); heap.enqueue(ScoredDoc(d, score, matched))
        }
      }
    }

    if (plan.conjunctive) conjunctive(plan, byTerm, weights, lo, heap, theta _, offer)
    else disjunctive(cursors, weights, heap, theta _, scoreDoc)

    heap.dequeueAll.reverseIterator // best-first (cosmetic; global sort follows)
  }

  /** AND mode: leapfrog intersection with two pruning layers —
    *  (a) shallow block alignment: candidate docIds are raised using
    *      only (firstDocId, lastDocId) metadata, no decode;
    *  (b) block-max θ skip (Ding & Suel): once the heap is full, if the
    *      sum over terms of weight × current-block impact bound can't
    *      reach θ, the whole overlap range up to the earliest block exit
    *      is skipped — no decode, no scoring.
    * The candidate target is max over TERMS of (min over the term's salt
    * cursors) — NOT max over all cursors, which would jump past docs
    * served by a term's other salt stream.
    */
  private def conjunctive(plan: QueryPlan, byTerm: Array[Array[Cursor]],
                          weights: Array[Double], lo: Long,
                          heap: mutable.PriorityQueue[ScoredDoc],
                          theta: () => Double,
                          offer: (Long, Double, Int) => Unit): Unit = {
    val nQ = byTerm.length
    val atCursor = new Array[Cursor](nQ) // term t's cursor sitting at the candidate
    var candidate = lo
    var done = false

    // ---- shallow settle: realign on block metadata + θ skip, no decode.
    // Called at the start and after every leapfrog JUMP (the dense
    // aligned fast path skips it: with near-uniform impacts θ can't
    // prune there, while on skewed/tail-driven queries every iteration
    // is a jump and the skip fires where it pays — Ding & Suel's
    // block-max regime).
    def shallowSettle(): Unit = {
      var settled = false
      while (!done && !settled) {
        var cand = candidate
        var minExit = Long.MaxValue
        var t = 0
        while (t < nQ && !done) {
          val cs = byTerm(t)
          var termCand = Long.MaxValue
          var termAny = false // MaxValue is a legal candidate, not a sentinel
          var i = 0
          while (i < cs.length) {
            val c = cs(i)
            if (!c.exhausted) {
              c.shallowTo(candidate)
              if (!c.exhausted) {
                termAny = true
                val f = if (c.decodedAt(candidate)) c.docId else math.max(candidate, c.blockFirst)
                if (f < termCand) termCand = f
                if (c.blockLast < minExit) minExit = c.blockLast
              }
            }
            i += 1
          }
          if (!termAny) done = true // term dead → no more AND matches
          else if (termCand > cand) cand = termCand
          t += 1
        }
        if (!done) {
          if (cand > candidate) candidate = cand // realign and re-run
          else if (heap.size >= plan.k) {
            // θ skip: bound the best possible score in [candidate, minExit].
            // Summed in ascending term order like the scorer, so FP weak
            // monotonicity makes `ub < θ` an exact implication.
            var ub = 0.0
            var u = 0
            while (u < nQ) {
              val cs = byTerm(u)
              var best = 0.0
              var i = 0
              while (i < cs.length) {
                val c = cs(i)
                if (!c.exhausted && c.blockImpactUb > best) best = c.blockImpactUb
                i += 1
              }
              ub += weights(u) * best
              u += 1
            }
            if (ub < theta()) {
              if (minExit == Long.MaxValue) done = true
              else candidate = minExit + 1 // skip the whole overlap range
            } else settled = true
          } else settled = true
        }
      }
    }

    shallowSettle()
    while (!done) {
      // ---- one full alignment pass: advance every term to candidate,
      // remember the matching cursor per term (no second scoring scan),
      // and collect the max overshoot for the jump.
      var t = 0
      var aligned = true
      var next = candidate
      while (t < nQ && !done) {
        val cs = byTerm(t)
        var best = Long.MaxValue
        var bestCur: Cursor = null
        var any = false
        var i = 0
        while (i < cs.length) {
          val c = cs(i)
          if (!c.exhausted) {
            c.advanceTo(candidate)
            if (!c.exhausted) {
              any = true
              // bestCur null-check: a LIVE cursor at docId Long.MaxValue
              // must still win over the `best` init sentinel
              if (bestCur == null || c.docId < best) { best = c.docId; bestCur = c }
            }
          }
          i += 1
        }
        if (!any) done = true // term exhausted → no more AND matches
        else {
          if (best > next) next = best
          if (best != candidate) aligned = false
          else atCursor(t) = bestCur
        }
        t += 1
      }
      if (!done) {
        if (aligned) {
          // phrase adjacency: positions decode only for aligned candidates
          if (plan.phraseSlots.isEmpty || phraseMatches(atCursor, plan.phraseSlots)) {
            // dense fast path: score addends in ascending term order (§8.4)
            var score = 0.0
            var u = 0
            while (u < nQ) {
              val c = atCursor(u)
              score += weights(u) * LucySpec.impact(c.tf, c.docLen, plan.avgdl)
              u += 1
            }
            offer(candidate, score, nQ)
          }
          if (candidate == Long.MaxValue) done = true
          else candidate += 1
        } else {
          candidate = next // leapfrog jump → block-max skip opportunity
          shallowSettle()
        }
      }
    }
  }

  /** True iff some start p has slot j's term at position p+j for every j
    * (positions are ascending per cursor). Anchored on the slot with the
    * fewest positions; the rest verified by binary search.
    */
  private def phraseMatches(atCursor: Array[Cursor], slots: Array[Int]): Boolean = {
    var anchor = 0
    var anchorLen = Int.MaxValue
    var j = 0
    while (j < slots.length) {
      val len = atCursor(slots(j)).positions.length
      if (len < anchorLen) { anchorLen = len; anchor = j }
      j += 1
    }
    val anchorPs = atCursor(slots(anchor)).positions
    var i = 0
    while (i < anchorPs.length) {
      val start = anchorPs(i) - anchor
      if (start >= 0) {
        var ok = true
        var s = 0
        while (ok && s < slots.length) {
          if (s != anchor &&
            java.util.Arrays.binarySearch(atCursor(slots(s)).positions, start + s) < 0)
            ok = false
          s += 1
        }
        if (ok) return true
      }
      i += 1
    }
    false
  }

  /** OR mode: classic WAND pivoting on cumulative remaining upper
    * bounds. Allocation-free steady state: the cursor array is kept
    * sorted by docId with an in-place insertion sort (cursors are
    * nearly sorted after each step — only a prefix advanced), and
    * exhausted cursors are compacted out of the live prefix.
    */
  private def disjunctive(cursors: Array[Cursor], weights: Array[Double],
                          heap: mutable.PriorityQueue[ScoredDoc],
                          theta: () => Double, scoreDoc: Long => Unit): Unit = {
    val arr = cursors.clone()
    var n = arr.length

    def restore(): Unit = {
      // insertion sort by docId over the live prefix (near-sorted input),
      // then drop exhausted cursors (they sit at docId MaxValue but are
      // distinguished by the flag — a LIVE MaxValue cursor stays)
      var i = 1
      while (i < n) {
        val c = arr(i)
        var j = i - 1
        while (j >= 0 && arr(j).docId > c.docId) { arr(j + 1) = arr(j); j -= 1 }
        arr(j + 1) = c
        i += 1
      }
      var w = 0
      var r = 0
      while (r < n) { if (!arr(r).exhausted) { arr(w) = arr(r); w += 1 }; r += 1 }
      n = w
    }
    restore()

    var continue = true
    while (continue && n > 0) {
      var acc = 0.0
      var pivot = -1
      var i = 0
      val th = theta()
      while (i < n && pivot == -1) {
        acc += weights(arr(i).termIdx) * arr(i).remainingImpactUb
        if (acc >= th) pivot = i
        i += 1
      }
      if (pivot == -1) continue = false // nothing can reach θ
      else {
        val pivotDoc = arr(pivot).docId
        if (arr(0).docId == pivotDoc) {
          scoreDoc(pivotDoc)
          // advance EVERY cursor sitting at pivotDoc (also those beyond
          // the pivot index) or the doc would be scored twice; next() is
          // overflow-safe at docId == Long.MaxValue
          var j = 0
          while (j < n && arr(j).docId <= pivotDoc) {
            if (arr(j).docId == pivotDoc) arr(j).next()
            else arr(j).advanceTo(pivotDoc)
            j += 1
          }
        } else {
          // advance the leading cursors up to the pivot document
          var j = 0
          while (j < pivot) { arr(j).advanceTo(pivotDoc); j += 1 }
        }
        restore()
      }
    }
  }
}
