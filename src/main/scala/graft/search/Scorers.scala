package graft.search

import graft.codec.SegmentPostings

/** Sorted doc-id iterator with scoring — the reference's `DocSet` + `Scorer`
  * contracts (`/root/reference/src/docset.rs:18-167`, `src/query/scorer.rs`)
  * as a partition-local kernel abstraction. These never cross the Dataset
  * boundary: they live inside the per-segment kernel tasks (SURVEY.md §1.1).
  */
trait Scorer {
  def doc: Int
  def advance(): Int
  def seek(target: Int): Int = {
    var d = doc
    while (d < target) d = advance()
    d
  }
  def score: Float
  /** Cost estimate — drives intersection leg ordering
    * (`src/query/intersection.rs:29`, the engine's join reorder).
    */
  def cost: Long
}

object Scorer {
  val Terminated: Int = Int.MaxValue
}

final class EmptyScorer extends Scorer {
  def doc: Int = Scorer.Terminated
  def advance(): Int = Scorer.Terminated
  def score: Float = 0.0f
  def cost: Long = 0L
}

/** AllQuery: every doc, constant score (`src/query/all_query.rs:12`). */
final class AllScorer(maxDoc: Int, constScore: Float = 1.0f) extends Scorer {
  private var d = if (maxDoc > 0) 0 else Scorer.Terminated
  def doc: Int = d
  def advance(): Int = { d = if (d + 1 >= maxDoc) Scorer.Terminated else d + 1; d }
  override def seek(target: Int): Int = { d = if (target >= maxDoc) Scorer.Terminated else target; d }
  def score: Float = constScore
  def cost: Long = maxDoc.toLong
}

/** BM25-scored single-term scorer over one segment's posting list
  * (`src/query/term_query/term_scorer.rs:9`). `weight == null` disables
  * scoring (count / filter paths — the column-pruning analog, SURVEY §4.1).
  */
final class TermScorer(
    val postings: SegmentPostings,
    norms: Array[Byte],
    val weight: Bm25.Weight,
    val boostedConst: Float = 0.0f,
    /** Query-order leg index: WAND sums pivot scores in this order so that
      * the pruned and exhaustive paths produce bit-identical f32 sums (the
      * reference's own WAND-vs-union proptest only asserts ~1e-4 relative
      * equality because its summation order varies; we canonicalize instead).
      */
    val ord: Int = 0) extends Scorer {

  def doc: Int = postings.doc
  def advance(): Int = postings.advance()
  override def seek(target: Int): Int = postings.seek(target)
  def cost: Long = postings.docFreq.toLong

  @inline def termFreq: Int = postings.termFreq

  def score: Float =
    if (weight == null) boostedConst
    else weight.score(norms(postings.doc), postings.termFreq)

  /** Shallow block seek + per-block max metadata for WAND
    * (`src/postings/block_segment_postings.rs:142-175`). Our skip stores an
    * entry for every block (incl. the tail), so the bound is always exact.
    */
  def seekBlock(target: Int): Unit = postings.seekBlock(target)
  def lastDocInBlock: Int = postings.lastDocInBlock

  def blockMaxScore: Float =
    if (postings.lastDocInBlock == Scorer.Terminated) 0.0f
    else weight.score(postings.blockMinNormId, postings.blockMaxTf)

  /** Max score over the whole posting list (TermScorer::max_score). */
  lazy val maxScore: Float = {
    var m = 0.0f
    var b = 0
    while (b < postings.blockCount) {
      val s = weight.score(postings.blockMinNormIdAt(b), postings.blockMaxTfAt(b))
      if (s > m) m = s
      b += 1
    }
    m
  }

  def isTerminated: Boolean = postings.isTerminated
}

/** Intersection with cost-ordered legs: cheapest leg drives, others verify
  * (`src/query/intersection.rs:18-86`).
  */
final class Intersection(legsIn: Array[Scorer]) extends Scorer {
  private val legs = legsIn.sortBy(_.cost)
  private var curDoc = align(legs(0).doc)

  private def align(candidate0: Int): Int = {
    var candidate = candidate0
    var i = 1
    while (candidate != Scorer.Terminated && i < legs.length) {
      val d = legs(i).seek(candidate)
      if (d != candidate) {
        candidate = legs(0).seek(d)
        i = 1
      } else i += 1
    }
    candidate
  }

  def doc: Int = curDoc
  def advance(): Int = { curDoc = align(legs(0).advance()); curDoc }
  override def seek(target: Int): Int = {
    if (curDoc < target) curDoc = align(legs(0).seek(target))
    curDoc
  }
  def score: Float = {
    var s = 0.0f
    var i = 0
    while (i < legs.length) { s += legs(i).score; i += 1 }
    s
  }
  def cost: Long = legs(0).cost
}

/** Score-combining mode for unions (`src/query/score_combiner.rs`). */
sealed trait Combiner extends Serializable
object Combiner {
  case object Sum extends Combiner
  final case class DisjMax(tieBreaker: Float) extends Combiner
  case object DoNothing extends Combiner
}

/** K-way union via linear min-scan (few legs per query). Semantics of
  * `BufferedUnionScorer` (`src/query/union/buffered_union.rs`) without the
  * 4096-doc window machinery; scores combined per `Combiner`.
  * `minShouldMatch` > 1 gives the reference's `Disjunction` behavior
  * (`src/query/disjunction.rs:12`).
  */
final class Union(legs: Array[Scorer], combiner: Combiner, minShouldMatch: Int = 1) extends Scorer {
  private var curDoc = -1
  private var curScore = 0.0f
  advanceToValid(0)

  private def advanceToValid(minTarget: Int): Unit = {
    var target = minTarget
    while (true) {
      var minD = Scorer.Terminated
      var i = 0
      while (i < legs.length) {
        val d = if (legs(i).doc < target) legs(i).seek(target) else legs(i).doc
        if (d < minD) minD = d
        i += 1
      }
      if (minD == Scorer.Terminated) { curDoc = Scorer.Terminated; curScore = 0.0f; return }
      // count + combine over legs positioned on minD
      var count = 0
      var sum = 0.0f
      var max = Float.NegativeInfinity
      i = 0
      while (i < legs.length) {
        if (legs(i).doc == minD) {
          count += 1
          combiner match {
            case Combiner.Sum => sum += legs(i).score
            case Combiner.DisjMax(_) =>
              val s = legs(i).score
              sum += s
              if (s > max) max = s
            case Combiner.DoNothing => ()
          }
        }
        i += 1
      }
      if (count >= minShouldMatch) {
        curDoc = minD
        curScore = combiner match {
          case Combiner.Sum => sum
          case Combiner.DisjMax(tie) => max + (sum - max) * tie
          case Combiner.DoNothing => 0.0f
        }
        return
      }
      target = minD + 1
    }
  }

  def doc: Int = curDoc
  def advance(): Int = {
    if (curDoc == Scorer.Terminated) return curDoc
    advanceToValid(curDoc + 1)
    curDoc
  }
  override def seek(target: Int): Int = {
    if (curDoc < target) advanceToValid(target)
    curDoc
  }
  def score: Float = curScore
  def cost: Long = legs.map(_.cost).sum
}

/** Wide-disjunction union with horizon windows — the reference's
  * `BufferedUnionScorer` (`src/query/union/buffered_union.rs:9-57`): each
  * leg drains its postings into a 2048-doc bitset window ONCE, with per-doc
  * score/count accumulators, so emitting a doc costs amortized O(total
  * postings / window) instead of the linear k-way scan's O(k) per doc.
  * Legs drain in array order and scores accumulate per doc in that same
  * order, so f32 sums are bit-identical to `Union`'s per-doc leg scan.
  */
final class BufferedUnion(legs: Array[Scorer], combiner: Combiner,
    minShouldMatch: Int = 1) extends Scorer {
  private val Horizon = 2048
  private val words = new Array[Long](Horizon / 64)
  private val scores: Array[Float] =
    if (combiner == Combiner.DoNothing) null else new Array[Float](Horizon)
  private val maxes: Array[Float] = combiner match {
    case Combiner.DisjMax(_) => new Array[Float](Horizon)
    case _ => null
  }
  private val counts: Array[Int] = if (minShouldMatch > 1) new Array[Int](Horizon) else null
  private var windowStart = 0
  private var cursor = -1 // offset of current doc within the window
  private var curDoc = -1
  private var curScore = 0.0f
  advanceToValid(0)

  /** Drain every leg's postings < windowStart+Horizon into the window. */
  private def refill(): Boolean = {
    var minD = Scorer.Terminated
    var i = 0
    while (i < legs.length) {
      val d = legs(i).doc
      if (d < minD) minD = d
      i += 1
    }
    if (minD == Scorer.Terminated) return false
    windowStart = minD
    val end =
      if (windowStart >= Scorer.Terminated - Horizon) Scorer.Terminated
      else windowStart + Horizon
    java.util.Arrays.fill(words, 0L)
    if (scores != null) java.util.Arrays.fill(scores, 0.0f)
    if (maxes != null) java.util.Arrays.fill(maxes, Float.NegativeInfinity)
    if (counts != null) java.util.Arrays.fill(counts, 0)
    i = 0
    while (i < legs.length) {
      val leg = legs(i)
      var d = leg.doc
      while (d < end) {
        val off = d - windowStart
        words(off >>> 6) |= 1L << (off & 63)
        if (scores != null) {
          val s = leg.score
          scores(off) += s
          if (maxes != null && s > maxes(off)) maxes(off) = s
        }
        if (counts != null) counts(off) += 1
        d = leg.advance()
      }
      i += 1
    }
    cursor = -1
    true
  }

  /** Next valid doc at offset > cursor within the window; false = exhausted. */
  private def nextInWindow(fromOff: Int): Boolean = {
    var off = fromOff
    while (off < Horizon) {
      val w = words(off >>> 6) >>> (off & 63)
      if (w != 0) {
        off += java.lang.Long.numberOfTrailingZeros(w)
        if (counts == null || counts(off) >= minShouldMatch) {
          cursor = off
          curDoc = windowStart + off
          curScore = combiner match {
            case Combiner.Sum => scores(off)
            case Combiner.DisjMax(tie) => maxes(off) + (scores(off) - maxes(off)) * tie
            case Combiner.DoNothing => 0.0f
          }
          return true
        }
        off += 1
      } else off = ((off >>> 6) + 1) << 6
    }
    false
  }

  private def advanceToValid(fromOff: Int): Unit = {
    var from = fromOff
    while (true) {
      if (cursor >= -1 && nextInWindow(from)) return
      if (!refill()) { curDoc = Scorer.Terminated; curScore = 0.0f; return }
      from = 0
    }
  }

  def doc: Int = curDoc
  def advance(): Int = {
    if (curDoc != Scorer.Terminated) advanceToValid(cursor + 1)
    curDoc
  }
  override def seek(target: Int): Int = {
    if (curDoc >= target || curDoc == Scorer.Terminated) return curDoc
    if (target < windowStart + Horizon) advanceToValid(math.max(cursor + 1, target - windowStart))
    else {
      // beyond the window: position remaining legs, then rebuild
      var i = 0
      while (i < legs.length) {
        if (legs(i).doc < target) legs(i).seek(target)
        i += 1
      }
      if (refill()) advanceToValid(0)
      else { curDoc = Scorer.Terminated; curScore = 0.0f }
    }
    curDoc
  }
  def score: Float = curScore
  def cost: Long = legs.map(_.cost).sum
}

/** Include minus exclude (`src/query/exclude.rs:13`). */
final class Exclude(include: Scorer, exclude: Scorer) extends Scorer {
  skipExcluded()
  private def skipExcluded(): Unit = {
    var d = include.doc
    while (d != Scorer.Terminated && exclude.seek(d) == d) d = include.advance()
  }
  def doc: Int = include.doc
  def advance(): Int = { include.advance(); skipExcluded(); include.doc }
  override def seek(target: Int): Int = { include.seek(target); skipExcluded(); include.doc }
  def score: Float = include.score
  def cost: Long = include.cost
}

/** Matches = required; score adds optional when aligned
  * (`src/query/reqopt_scorer.rs:15`).
  */
final class RequiredOptional(required: Scorer, optional: Scorer) extends Scorer {
  def doc: Int = required.doc
  def advance(): Int = required.advance()
  override def seek(target: Int): Int = required.seek(target)
  def score: Float = {
    val d = required.doc
    var s = required.score
    if (optional.doc < d) optional.seek(d)
    if (optional.doc == d) s += optional.score
    s
  }
  def cost: Long = required.cost
}

/** Constant score wrapper (`src/query/const_score_query.rs:12`). */
/** Constant-score iterator over a precomputed doc bitset — the reference's
  * `BitSetDocSet` (`src/query/bitset/mod.rs`) that backs range queries: the
  * matching terms' postings are unioned upfront, then iteration is
  * nextSetBit.
  */
final class BitSetScorer(bits: java.util.BitSet, constScore: Float) extends Scorer {
  private var d = { val f = bits.nextSetBit(0); if (f < 0) Scorer.Terminated else f }
  def doc: Int = d
  def advance(): Int = {
    if (d != Scorer.Terminated) {
      val n = bits.nextSetBit(d + 1)
      d = if (n < 0) Scorer.Terminated else n
    }
    d
  }
  override def seek(target: Int): Int = {
    if (d != Scorer.Terminated && d < target) {
      val n = bits.nextSetBit(target)
      d = if (n < 0) Scorer.Terminated else n
    }
    d
  }
  def score: Float = constScore
  def cost: Long = bits.cardinality().toLong
}

final class ConstScorer(inner: Scorer, constScore: Float) extends Scorer {
  def doc: Int = inner.doc
  def advance(): Int = inner.advance()
  override def seek(target: Int): Int = inner.seek(target)
  def score: Float = constScore
  def cost: Long = inner.cost
}

/** Boost: multiply inner score (`src/query/boost_query.rs:13`) — applied at
  * weight-construction time for terms; this wrapper covers composed scorers.
  */
final class BoostScorer(inner: Scorer, boost: Float) extends Scorer {
  def doc: Int = inner.doc
  def advance(): Int = inner.advance()
  override def seek(target: Int): Int = inner.seek(target)
  def score: Float = inner.score * boost
  def cost: Long = inner.cost
}

/** Exact-phrase scorer: docs = intersection of the term posting lists;
  * a doc matches when the terms appear at consecutive positions
  * (offset-shifted sorted-array intersection, the slop-0 case of
  * `src/query/phrase_query/phrase_scorer.rs:46-221`). Phrase term frequency
  * = number of occurrences, feeding BM25 with the summed-idf weight
  * (`src/query/bm25.rs:120-127`).
  */
final class PhraseScorer(
    termPostings: Array[graft.codec.PositionedPostings], // in phrase order
    norms: Array[Byte],
    weight: Bm25.Weight,
    slop: Int = 0) extends Scorer {

  private val legs: Array[Scorer] =
    termPostings.map(p => new PhraseScorer.LegScorer(p): Scorer)
  private val inter = new Intersection(legs)
  private var phraseFreq = 0
  // reused across docs: holds each leg's offset-adjusted positions
  // (initialized before the constructor's first advanceToMatch below)
  private val posBufs = new Array[Array[Int]](termPostings.length)
  advanceToMatch(first = true)

  private def countOccurrences(): Int = {
    // decode in phrase order; cursors require ascending doc which holds.
    // positions are offset-adjusted by the term's phrase index so a match is
    // equality (the reference reads positions with that offset built in);
    // the decode output is owned here, so the adjust is in place
    var t0 = 0
    while (t0 < termPostings.length) {
      val raw = termPostings(t0).positionsForCurrent()
      if (t0 > 0) {
        var i = 0
        while (i < raw.length) { raw(i) -= t0; i += 1 }
      }
      posBufs(t0) = raw
      t0 += 1
    }
    val positions = posBufs
    if (slop == 0) {
      // exact: repeated sorted-array intersection (phrase_scorer.rs:111-136)
      var left = positions(0)
      var leftLen = left.length
      var t = 1
      while (t < positions.length && leftLen > 0) {
        val right = positions(t)
        var li = 0; var ri = 0; var cnt = 0
        while (li < leftLen && ri < right.length) {
          val l = left(li); val r = right(ri)
          if (l < r) li += 1
          else if (l > r) ri += 1
          else { left(cnt) = l; cnt += 1; li += 1; ri += 1 }
        }
        leftLen = cnt
        t += 1
      }
      leftLen
    } else if (positions.length == 2) {
      // exact port of intersection_count_with_slop (phrase_scorer.rs:144-190):
      // abs distance <= slop, best-match advance, count of matches
      val left = positions(0)
      val right = positions(1)
      var li = 0; var ri = 0; var count = 0
      while (li < left.length && ri < right.length) {
        val l = left(li); val r = right(ri)
        val distance = math.abs(l - r)
        if (distance <= slop) {
          var cont = true
          while (cont && li + 1 < left.length) {
            if (left(li + 1) > r) cont = false else li += 1
          }
          count += 1; li += 1; ri += 1
        } else if (l < r) li += 1
        else ri += 1
      }
      count
    } else {
      // 3+-term slop: the reference's carrying-slop algorithm — slop is a
      // budget spent across ALL adjacent pairs; each fold keeps both sides
      // of a match with the slop consumed so far (phrase_scorer.rs:232-345,
      // compute_phrase_count:437-461)
      var left = positions(0)
      var slops = Array.emptyIntArray
      var t = 1
      while (t < positions.length - 1) {
        val (_, nl, ns) = PhraseScorer.carryingSlop(left, slops, positions(t), slop, updateLeft = true)
        left = nl
        slops = ns
        if (left.isEmpty) return 0
        t += 1
      }
      PhraseScorer.carryingSlop(left, slops, positions(positions.length - 1), slop, updateLeft = false)._1
    }
  }

  private def advanceToMatch(first: Boolean): Unit = {
    if (!first && inter.doc != Scorer.Terminated) inter.advance()
    phraseFreq = 0
    while (inter.doc != Scorer.Terminated && phraseFreq == 0) {
      phraseFreq = countOccurrences()
      if (phraseFreq == 0) inter.advance()
    }
  }

  def doc: Int = inter.doc
  def advance(): Int = { advanceToMatch(first = false); inter.doc }
  override def seek(target: Int): Int = {
    if (inter.doc < target) {
      inter.seek(target)
      phraseFreq = 0
      while (inter.doc != Scorer.Terminated && { phraseFreq = countOccurrences(); phraseFreq == 0 })
        inter.advance()
    }
    inter.doc
  }
  def score: Float =
    if (weight == null) 0.0f else weight.score(norms(inter.doc), phraseFreq)
  def cost: Long = inter.cost

  /** Test hook: current doc's phrase frequency. */
  def phraseFreqForTest: Int = phraseFreq
}

object PhraseScorer {

  /** Doc-iteration adapter over a position source (single-term or union). */
  private final class LegScorer(p: graft.codec.PositionedPostings) extends Scorer {
    def doc: Int = p.doc
    def advance(): Int = p.advance()
    override def seek(target: Int): Int = p.seek(target)
    def score: Float = 0.0f
    def cost: Long = p.docFreq.toLong
  }

  /** Faithful port of `intersection_count_with_carrying_slop`
    * (`/root/reference/src/query/phrase_query/phrase_scorer.rs:232-345`):
    * one fold of the multi-term sloppy-phrase intersection. `slops(i)` is
    * the slop budget already spent reaching `left(i)` (empty array = all
    * zero). A match keeps BOTH positions (with updated budgets) but counts
    * once; consecutive duplicate positions keep the smaller budget. Returns
    * (count, newLeft, newSlops); the latter two are empty unless
    * `updateLeft`.
    */
  def carryingSlop(left: Array[Int], slops: Array[Int], right: Array[Int], maxSlop: Int,
      updateLeft: Boolean): (Int, Array[Int], Array[Int]) = {
    if (left.isEmpty || right.isEmpty) return (0, Array.emptyIntArray, Array.emptyIntArray)
    val outPos = new scala.collection.mutable.ArrayBuffer[Int]()
    val outSlop = new scala.collection.mutable.ArrayBuffer[Int]()
    def addVal(s: Int, v: Int): Unit = if (updateLeft) {
      if (outPos.nonEmpty && outPos.last == v) {
        if (s < outSlop.last) outSlop(outSlop.length - 1) = s
      } else {
        outPos += v
        outSlop += s
      }
    }
    var li = 0
    var ri = 0
    var count = 0
    var done = false
    while (!done) {
      val leftVal = left(li)
      val slopSoFar = if (li < slops.length) slops(li) else 0
      val rightVal = right(ri)
      val distance = slopSoFar + math.abs(leftVal - rightVal)
      if (distance <= maxSlop) {
        val leftSmaller = leftVal < rightVal
        val smallerPositions = if (leftSmaller) left else right
        var smallerIdx = if (leftSmaller) li else ri
        val smallerVal = if (leftSmaller) leftVal else rightVal
        val largerVal = if (leftSmaller) rightVal else leftVal
        var newSlop = distance
        addVal(newSlop, smallerVal)
        while (smallerIdx + 1 < smallerPositions.length &&
            smallerPositions(smallerIdx + 1) <= largerVal) {
          // a later same-side position is a better (closer) match
          val nextVal = smallerPositions(smallerIdx + 1)
          smallerIdx += 1
          newSlop = slopSoFar + math.abs(nextVal - largerVal)
          addVal(newSlop, nextVal)
        }
        addVal(newSlop, largerVal)
        count += 1
        li += 1
        ri += 1
      } else if (leftVal < rightVal) li += 1
      else ri += 1
      if (li >= left.length || ri >= right.length) {
        // drain the unexhausted side against the other side's last value
        if (li >= left.length) {
          val lastLeft = left(left.length - 1)
          val lastSlop = if (slops.nonEmpty) slops(slops.length - 1) else 0
          var j = ri
          while (j < right.length) {
            val ns = math.abs(lastLeft - right(j)) + lastSlop
            if (ns <= maxSlop) addVal(ns, right(j))
            j += 1
          }
        } else {
          val lastRight = right(right.length - 1)
          var j = li
          while (j < left.length) {
            val sof = if (j < slops.length) slops(j) else 0
            val ns = math.abs(left(j) - lastRight) + sof
            if (ns <= maxSlop) addVal(ns, left(j))
            j += 1
          }
        }
        done = true
      }
    }
    (count, outPos.toArray, outSlop.toArray)
  }
}
