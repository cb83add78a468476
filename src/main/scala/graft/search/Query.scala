package graft.search

/** Occur (`/root/reference/src/query/mod.rs:35`). */
sealed trait Occur extends Serializable
object Occur {
  case object Must extends Occur
  case object Should extends Occur
  case object MustNot extends Occur
}

/** User-level query ADT — the reference's `Query` tree (§2.2 of SURVEY.md).
  * Term-expansion queries (fuzzy/regex/range/set/prefix) are resolved against
  * the term dictionary at plan time, mirroring the reference's automaton
  * walks (`src/query/automaton_weight.rs:16`), then compiled to a
  * serializable `CQuery` with stats-bound BM25 weights (the `Query -> Weight`
  * stage of `src/query/weight.rs:66`).
  */
sealed trait Query extends Serializable
object Query {
  final case class Term(field: String, term: String, boost: Float = 1.0f) extends Query
  final case class Phrase(field: String, terms: Seq[String], slop: Int = 0) extends Query
  final case class Bool(clauses: Seq[(Occur, Query)], minShouldMatch: Int = 0) extends Query
  final case class TermSet(field: String, terms: Seq[String]) extends Query
  /** `transpositionCostOne`: restricted-Damerau (OSA) distance instead of
    * plain Levenshtein — the reference's Levenshtein-automaton option
    * (`src/query/fuzzy_query.rs:80-97`).
    */
  final case class Fuzzy(field: String, term: String, distance: Int = 1, prefix: Boolean = false,
      transpositionCostOne: Boolean = false) extends Query
  final case class Regexp(field: String, pattern: String) extends Query
  final case class TermRange(field: String, lo: Option[String], hi: Option[String],
      loInclusive: Boolean = true, hiInclusive: Boolean = false) extends Query
  final case class Prefix(field: String, prefix: String, maxExpansions: Int = 1024) extends Query
  final case class PhrasePrefix(field: String, terms: Seq[String], maxExpansions: Int = 50) extends Query
  /** Phrase whose every slot is a regex over the term dictionary
    * (`src/query/phrase_query/regex_phrase_query.rs:22-27`); slop is the
    * shared budget of the carrying-slop algorithm. Scored with the BM25
    * weight of the literal pattern strings, as the reference does
    * (`regex_phrase_query.rs:145-149`).
    */
  final case class RegexPhrase(field: String, patterns: Seq[String], slop: Int = 0,
      maxExpansions: Int = 1 << 14) extends Query
  /** Internal: dictionary-expanded regex phrase — each slot carries its
    * matched terms; `patterns` retained for weight statistics.
    */
  final case class MultiPhrase(field: String, slots: Seq[Seq[String]], patterns: Seq[String],
      slop: Int) extends Query
  final case class Boost(inner: Query, boost: Float) extends Query
  final case class ConstScore(inner: Query, score: Float) extends Query
  final case class DisjunctionMax(disjuncts: Seq[Query], tieBreaker: Float = 0.0f) extends Query
  /** Range over a TYPED term field (numeric/date values indexed through
    * `TypedTerms` order-preserving encodings — `src/query/range_query/
    * range_query.rs:16-71`). Unlike `TermRange` (driver-side dictionary
    * expansion, capped), the bounds ship to the kernels, which walk their own
    * segment dictionary and union matching postings into a bitset — the
    * reference's `BitSetDocSet` fast-field-less range path. Constant score.
    */
  final case class TypedRange(field: String, lo: Option[String], hi: Option[String],
      loInclusive: Boolean = true, hiInclusive: Boolean = true) extends Query
  case object All extends Query
  case object Nothing extends Query

  def must(qs: Query*): Bool = Bool(qs.map(Occur.Must -> _))
  def should(qs: Query*): Bool = Bool(qs.map(Occur.Should -> _))

  import graft.index.TypedTerms
  /** Exact-value term over a typed long field. */
  def longTerm(field: String, v: Long, boost: Float = 1.0f): Term =
    Term(field, TypedTerms.encodeLong(v), boost)
  def longRange(field: String, lo: Option[Long], hi: Option[Long],
      loInclusive: Boolean = true, hiInclusive: Boolean = true): TypedRange =
    TypedRange(field, lo.map(TypedTerms.encodeLong), hi.map(TypedTerms.encodeLong),
      loInclusive, hiInclusive)
  def doubleRange(field: String, lo: Option[Double], hi: Option[Double],
      loInclusive: Boolean = true, hiInclusive: Boolean = true): TypedRange =
    TypedRange(field, lo.map(TypedTerms.encodeDouble), hi.map(TypedTerms.encodeDouble),
      loInclusive, hiInclusive)
  def dateRange(field: String, lo: Option[java.sql.Timestamp], hi: Option[java.sql.Timestamp],
      loInclusive: Boolean = true, hiInclusive: Boolean = true): TypedRange =
    TypedRange(field, lo.map(TypedTerms.encodeTimestamp), hi.map(TypedTerms.encodeTimestamp),
      loInclusive, hiInclusive)
  /** Exact-value / range queries over a typed IP field
    * (`IndexConfig.ipFields`; v4 literals compare inside v6 space like the
    * reference's MappedIpv4 ordering, `src/schema/ip_options.rs`).
    */
  def ipTerm(field: String, addr: String, boost: Float = 1.0f): Term =
    Term(field, TypedTerms.encodeIp(addr), boost)
  def ipRange(field: String, lo: Option[String], hi: Option[String],
      loInclusive: Boolean = true, hiInclusive: Boolean = true): TypedRange =
    TypedRange(field, lo.map(TypedTerms.encodeIp), hi.map(TypedTerms.encodeIp),
      loInclusive, hiInclusive)

  /** Exact-value / range queries over a typed bytes field
    * (`IndexConfig.bytesFields`; the reference indexes a Bytes field's byte
    * array as its term, `src/schema/bytes_options.rs` — ranges compare in
    * unsigned byte-array order, the same order `Term`'s byte serialization
    * gives the reference's dictionary).
    */
  def bytesTerm(field: String, v: Array[Byte], boost: Float = 1.0f): Term =
    Term(field, TypedTerms.encodeBytes(v), boost)
  def bytesRange(field: String, lo: Option[Array[Byte]], hi: Option[Array[Byte]],
      loInclusive: Boolean = true, hiInclusive: Boolean = true): TypedRange =
    TypedRange(field, lo.map(TypedTerms.encodeBytes), hi.map(TypedTerms.encodeBytes),
      loInclusive, hiInclusive)

  /** ExistsQuery on a regular indexed field (`src/query/exists_query.rs`,
    * parser syntax `field:*` — query_grammar.rs:319-362): matches docs
    * carrying ANY term in `field`, as an unbounded segment dictionary walk
    * unioned into a bitset. Constant score, like the reference.
    */
  def exists(field: String): TypedRange = TypedRange(field, None, None)

  /** ExistsQuery on a JSON subpath (`src/query/exists_query.rs` with json
    * paths): matches docs carrying ANY value at `path` — a term-range scan
    * over the path's whole tag+value space, clamped so neighboring paths
    * never leak in.
    */
  def jsonExists(field: String, path: String): TypedRange = {
    val p = path + graft.index.JsonTerms.Sep
    TypedRange(field, Some(p), Some(p + "\uffff"), loInclusive = true, hiInclusive = true)
  }
}

/** Stats-bound, segment-independent compiled query — what ships to the
  * per-segment kernels (the `Weight` stage: global idf/avgdl resolved once on
  * the driver, broadcast to executors; SURVEY.md §3.2).
  */
sealed trait CQuery extends Serializable
object CQuery {
  final case class CTerm(field: String, term: String, weight: Bm25.Weight) extends CQuery
  final case class CPhrase(field: String, terms: Seq[String], weight: Bm25.Weight, slop: Int) extends CQuery
  /** Regex phrase after expansion: each slot = union of matched terms
    * (`regex_phrase_weight.rs:58-99`).
    */
  final case class CMultiPhrase(field: String, slots: Seq[Seq[String]], weight: Bm25.Weight,
      slop: Int) extends CQuery
  final case class CBool(must: Seq[CQuery], should: Seq[CQuery], mustNot: Seq[CQuery],
      minShouldMatch: Int) extends CQuery
  final case class CDisjMax(disjuncts: Seq[CQuery], tieBreaker: Float) extends CQuery
  final case class CConst(inner: CQuery, score: Float) extends CQuery
  final case class CBoost(inner: CQuery, boost: Float) extends CQuery
  /** Typed range: bounds in the order-preserving term encoding; the kernel
    * walks its segment dictionary and unions postings into a bitset.
    */
  final case class CRange(field: String, lo: Option[String], hi: Option[String],
      loInclusive: Boolean, hiInclusive: Boolean, score: Float) extends CQuery
  case object CAll extends CQuery
  case object CEmpty extends CQuery

  /** All concrete (field, term) pairs the kernel will look up. */
  def termsOf(q: CQuery): Set[(String, String)] = q match {
    case CTerm(f, t, _) => Set(f -> t)
    case CPhrase(f, ts, _, _) => ts.map(f -> _).toSet
    case CMultiPhrase(f, slots, _, _) => slots.flatten.map(f -> _).toSet
    case CBool(m, s, n, _) => (m ++ s ++ n).flatMap(termsOf).toSet
    case CDisjMax(ds, _) => ds.flatMap(termsOf).toSet
    case CConst(i, _) => termsOf(i)
    case CBoost(i, _) => termsOf(i)
    case _: CRange => Set.empty
    case CAll | CEmpty => Set.empty
  }

  /** All range predicates the kernel will walk — these extend the pruned
    * Parquet scan with term-range conditions (still pushed down: the term
    * column is sorted within each segment's row groups).
    */
  def rangesOf(q: CQuery): Seq[CRange] = q match {
    case r: CRange => Seq(r)
    case CBool(m, s, n, _) => (m ++ s ++ n).flatMap(rangesOf)
    case CDisjMax(ds, _) => ds.flatMap(rangesOf)
    case CConst(i, _) => rangesOf(i)
    case CBoost(i, _) => rangesOf(i)
    case _ => Seq.empty
  }

  /** True when the whole query is a disjunction of scored terms — the shape
    * eligible for multi-scorer Block-WAND (`boolean_weight.rs:43-83`
    * SpecializedScorer selection).
    */
  def wandTerms(q: CQuery): Option[Seq[CTerm]] = q match {
    case t: CTerm if t.weight != null => Some(Seq(t))
    case CBool(m, s, n, msm) if m.isEmpty && n.isEmpty && msm <= 1 =>
      val legs = s.map {
        case t: CTerm if t.weight != null => t
        case _ => return None
      }
      if (legs.nonEmpty) Some(legs) else None
    case _ => None
  }
}

/** Per-segment compilation of a CQuery into a Scorer DAG, with the boolean
  * simplification rules of `boolean_weight.rs:234-305,402-418` (empty MUST
  * kills the clause tree; empty SHOULD legs drop; minShouldMatch promotion).
  */
object QueryKernel {

  /** One segment's lookup context. `postingsFor` returns a FRESH decoder per
    * call (scorer legs must not share cursors); null when the term is absent.
    * `deleted` is the segment's dead-doc set (sorted docIds — the alive
    * bitset complement, `src/fastfield/alive_bitset.rs` analog), assembled
    * from the tombstoned terms' own postings.
    */
  final class SegmentContext(
      val numDocs: Int,
      val norms: Array[Byte],
      postingsFor: (String, String) => graft.codec.SegmentPostings,
      val deleted: Array[Int] = Array.emptyIntArray,
      rangeFor: (String, Option[String], Option[String], Boolean, Boolean) =>
        Array[graft.codec.SegmentPostings] = null,
      normsByField: Map[String, Array[Byte]] = Map.empty) {
    /** Fieldnorms for `field`: its own norms row when the field is an
      * analyzed TEXT field, else the primary text field's norms (json-path
      * terms score with the document's text norms, the builder's encoding).
      */
    def normsOf(field: String): Array[Byte] = normsByField.getOrElse(field, norms)
    def fresh(field: String, term: String): graft.codec.SegmentPostings = postingsFor(field, term)
    /** Fresh cursors for every term of `field` inside the bound range — the
      * segment-local dictionary range walk backing `CRange`.
      */
    def freshRange(field: String, lo: Option[String], hi: Option[String],
        loInc: Boolean, hiInc: Boolean): Array[graft.codec.SegmentPostings] =
      if (rangeFor == null) Array.empty else rangeFor(field, lo, hi, loInc, hiInc)
    @inline def isDeleted(doc: Int): Boolean =
      deleted.length > 0 && java.util.Arrays.binarySearch(deleted, doc) >= 0
    def numAlive: Int = numDocs - deleted.length
  }

  import CQuery._

  def toScorer(q: CQuery, ctx: SegmentContext, scored: Boolean): Scorer = q match {
    case CTerm(f, t, w) =>
      val p = ctx.fresh(f, t)
      if (p == null) new EmptyScorer
      else new TermScorer(p, ctx.normsOf(f), if (scored) w else null)
    case CPhrase(f, ts, w, slop) =>
      val legs = ts.map(t => ctx.fresh(f, t): graft.codec.PositionedPostings)
      if (legs.exists(_ == null)) new EmptyScorer
      else new PhraseScorer(legs.toArray, ctx.normsOf(f), if (scored) w else null, slop)
    case CMultiPhrase(f, slots, w, slop) =>
      // each slot = union of its matched terms' cursors; a slot with no
      // term present in this segment kills the phrase (the intersection
      // can never align)
      val legs: Seq[graft.codec.PositionedPostings] = slots.map { ts =>
        val subs = ts.map(t => ctx.fresh(f, t)).filter(_ != null)
        if (subs.isEmpty) null
        else if (subs.size == 1) subs.head
        else new graft.codec.UnionPostings(subs.toArray)
      }
      if (legs.exists(_ == null)) new EmptyScorer
      else new PhraseScorer(legs.toArray, ctx.normsOf(f), if (scored) w else null, slop)
    case CConst(inner, s) =>
      val in = toScorer(inner, ctx, scored = false)
      in match {
        case _: EmptyScorer => in
        case _ => new ConstScorer(in, if (scored) s else 0.0f)
      }
    case CBoost(inner, b) =>
      new BoostScorer(toScorer(inner, ctx, scored), if (scored) b else 0.0f)
    case CRange(f, lo, hi, li, hie, sc) =>
      val cursors = ctx.freshRange(f, lo, hi, li, hie)
      if (cursors.isEmpty) new EmptyScorer
      else {
        // union all matching terms' postings into one bitset upfront
        // (range_query.rs builds a BitSetDocSet the same way)
        val bits = new java.util.BitSet(ctx.numDocs)
        cursors.foreach { p =>
          var d = p.doc
          while (d != Scorer.Terminated) { bits.set(d); d = p.advance() }
        }
        if (bits.isEmpty) new EmptyScorer
        else new BitSetScorer(bits, if (scored) sc else 0.0f)
      }
    case CAll => new AllScorer(ctx.numDocs)
    case CEmpty => new EmptyScorer
    case CDisjMax(ds, tie) =>
      val legs = ds.map(toScorer(_, ctx, scored)).filter(!_.isInstanceOf[EmptyScorer])
      val comb = if (scored) Combiner.DisjMax(tie) else Combiner.DoNothing
      if (legs.isEmpty) new EmptyScorer
      else if (legs.size == 1) legs.head
      else if (legs.size >= WideUnionThreshold) new BufferedUnion(legs.toArray, comb)
      else new Union(legs.toArray, comb)
    case CBool(mustQ, shouldQ, mustNotQ, msm0) =>
      val mustS = mustQ.map(toScorer(_, ctx, scored))
      if (mustS.exists(_.isInstanceOf[EmptyScorer])) return new EmptyScorer
      var shoulds = shouldQ.map(toScorer(_, ctx, scored)).filter(!_.isInstanceOf[EmptyScorer])
      var msm = math.max(msm0, if (mustQ.isEmpty && shouldQ.nonEmpty) 1 else 0)
      if (msm > shoulds.size) return new EmptyScorer
      var musts = mustS
      if (msm == shoulds.size && shoulds.nonEmpty) { // promote SHOULD -> MUST
        musts = musts ++ shoulds
        shoulds = Nil
        msm = 0
      }
      val positive: Scorer =
        if (musts.nonEmpty && shoulds.nonEmpty) {
          // the intersection seeks the union from its cheapest other leg, so
          // the union's window machinery only pays off when that driver
          // visits a dense fraction of the union's docs
          val driverCost = musts.map(_.cost).min
          if (msm >= 1) {
            // n-of-should is required alongside the musts
            intersect(musts :+ union(shoulds, msm, scored, drivenBy = driverCost))
          } else {
            val req = intersect(musts)
            val opt = union(shoulds, msm, scored, drivenBy = req.cost)
            if (scored) new RequiredOptional(req, opt) else req
          }
        } else if (musts.nonEmpty) intersect(musts)
        else if (shoulds.nonEmpty) union(shoulds, msm, scored)
        else if (mustNotQ.nonEmpty) new AllScorer(ctx.numDocs, if (scored) 1.0f else 0.0f)
        else new EmptyScorer
      if (mustNotQ.isEmpty) positive
      else {
        val notS = mustNotQ.map(toScorer(_, ctx, scored = false)).filter(!_.isInstanceOf[EmptyScorer])
        if (notS.isEmpty) positive
        else new Exclude(positive, union(notS, 1, scored = false, drivenBy = positive.cost))
      }
  }

  private def intersect(legs: Seq[Scorer]): Scorer =
    if (legs.size == 1) legs.head else new Intersection(legs.toArray)

  /** Wide disjunctions switch to the horizon-window union (buffered_union.rs
    * picks the buffered scorer whenever there are >1 legs; we keep the
    * zero-setup linear scan for narrow unions where the window refill
    * overhead dominates). Measured (1M docs, OR-8; BENCH.md "Union
    * seek-density gate"): the buffered kernel wins on DENSE self-driven
    * unions (~1.0-1.5x) and on
    * SPARSE rare-term self-driven unions too (~1.15x — empty windows skip
    * to the next live doc instead of refilling), so no density gate is
    * needed on the self-driven path; only seek-driven unions (below) want
    * the drive-ratio gate.
    */
  private val WideUnionThreshold = 4

  /** Seek-density gate: a union nested under an intersection (or feeding an
    * Exclude) is advanced by an outer driver; each far seek costs the
    * buffered union a full window refill (arrays memset + draining every
    * leg's postings inside the window, scores computed eagerly), so when the
    * driver visits only a sparse fraction of the union's docs the linear
    * k-way scan — which just skip-seeks each leg to the target — wins. Use
    * windows only when the driver covers >= 1/ratio of the union's summed
    * cost (self-driven unions pass drivenBy = Long.MaxValue and always
    * qualify). The reference always buffers (buffered_union.rs picks it for
    * >1 legs); this gate is measured, not inherited (BENCH.md "Union
    * seek-density gate": 3.4x on seek-driven shapes).
    */
  private val UnionDriveRatio = 4L

  private[search] def union(legs: Seq[Scorer], msm: Int, scored: Boolean,
      drivenBy: Long = Long.MaxValue): Scorer = {
    val comb = if (scored) Combiner.Sum else Combiner.DoNothing
    if (legs.size == 1 && msm <= 1) legs.head
    else if (legs.size >= WideUnionThreshold &&
        drivenBy >= legs.map(_.cost).sum / UnionDriveRatio)
      new BufferedUnion(legs.toArray, comb, math.max(msm, 1))
    else new Union(legs.toArray, comb, math.max(msm, 1))
  }

  /** Top-k on one segment: Block-WAND when the query shape allows
    * (single-term fast path x3, block_wand.rs:222; multi-term, :148),
    * exhaustive scorer walk otherwise. Exact same results either way.
    */
  def topK(q: CQuery, ctx: SegmentContext, k: Int, topN: TopNComputer, segBase: Long): Unit = {
    // dead docs never reach the collector; WAND pruning stays valid (the
    // threshold only ever rises from pushed alive docs)
    val cb: (Int, Float) => Float = { (doc, score) =>
      if (!ctx.isDeleted(doc)) topN.push(score, segBase | doc.toLong)
      topN.threshold
    }
    CQuery.wandTerms(q) match {
      case Some(legs) =>
        val scorers = legs.zipWithIndex.map { case (t, i) =>
          val p = ctx.fresh(t.field, t.term)
          if (p == null) null else new TermScorer(p, ctx.normsOf(t.field), t.weight, 0.0f, i)
        }.filter(_ != null)
        if (scorers.isEmpty) return
        if (scorers.size == 1) BlockWand.runSingle(scorers.head, topN.threshold, cb)
        else BlockWand.run(scorers, topN.threshold, cb)
      case None =>
        val s = toScorer(q, ctx, scored = true)
        var d = s.doc
        while (d != Scorer.Terminated) {
          if (!ctx.isDeleted(d)) topN.push(s.score, segBase | d.toLong)
          d = s.advance()
        }
    }
  }

  /** Score explanation of one doc (`Weight::explain`, weight.rs:75): None
    * when the doc does not match this query in this segment. Tree wording
    * follows the reference (Lucene-style).
    */
  def explain(q: CQuery, ctx: SegmentContext, doc: Int): Option[Explanation] =
    if (ctx.isDeleted(doc)) None else explainAlive(q, ctx, doc)

  private def explainAlive(q: CQuery, ctx: SegmentContext, doc: Int): Option[Explanation] = q match {
    case CTerm(f, t, w) =>
      val p = ctx.fresh(f, t)
      if (p == null || p.seek(doc) != doc) None
      else Some(w.explain(ctx.normsOf(f)(doc), p.termFreq)
        .addContext(s"""Term=(field="$f" term="$t")"""))
    case CPhrase(f, _, w, _) =>
      toScorer(q, ctx, scored = true) match {
        case ps: PhraseScorer if ps.seek(doc) == doc =>
          // phrase_weight.rs:85-99: "Phrase Scorer" wrapping the BM25 detail
          Some(Explanation("Phrase Scorer", ps.score)
            .addDetail(w.explain(ctx.normsOf(f)(doc), ps.phraseFreqForTest)))
        case _ => None
      }
    case CMultiPhrase(f, _, w, _) =>
      toScorer(q, ctx, scored = true) match {
        case ps: PhraseScorer if ps.seek(doc) == doc =>
          Some(Explanation("Phrase Scorer", ps.score)
            .addDetail(w.explain(ctx.normsOf(f)(doc), ps.phraseFreqForTest)))
        case _ => None
      }
    case CBool(must, should, _, _) =>
      val s = toScorer(q, ctx, scored = true)
      if (s.seek(doc) != doc) None
      else {
        // boolean_weight.rs:445-463: sum-of with each matching positive leg
        val children = (must ++ should).flatMap(c => explain(c, ctx, doc))
        Some(children.foldLeft(Explanation("BooleanClause. sum of ...", s.score))(_.addDetail(_)))
      }
    case CDisjMax(ds, tie) =>
      val s = toScorer(q, ctx, scored = true)
      if (s.seek(doc) != doc) None
      else {
        val children = ds.flatMap(c => explain(c, ctx, doc))
        Some(children.foldLeft(
          Explanation(s"DisjunctionMax with tie breaker $tie", s.score))(_.addDetail(_)))
      }
    case CConst(inner, score) =>
      val s = toScorer(q, ctx, scored = true)
      if (s.seek(doc) != doc) None
      else {
        // const_score_query.rs:71-82
        val e = Explanation("Const", score)
        Some(explain(inner, ctx, doc).fold(e)(e.addDetail))
      }
    case CBoost(inner, b) =>
      explain(inner, ctx, doc).map { underlying =>
        Explanation(s"Boost x$b of ...", underlying.value * b).addDetail(underlying)
      }
    case CRange(_, _, _, _, _, sc) =>
      val s = toScorer(q, ctx, scored = true)
      if (s.seek(doc) != doc) None
      else Some(Explanation("RangeQuery", sc))
    case CAll =>
      if (doc < ctx.numDocs) Some(Explanation("AllQuery", 1.0f)) else None
    case CEmpty => None
  }

  /** All matches with scores (exhaustive; no pruning). */
  def allMatches(q: CQuery, ctx: SegmentContext, scored: Boolean): Iterator[(Int, Float)] = {
    val s = toScorer(q, ctx, scored)
    new Iterator[(Int, Float)] {
      def hasNext: Boolean = s.doc != Scorer.Terminated
      def next(): (Int, Float) = {
        val r = (s.doc, if (scored) s.score else 0.0f)
        s.advance()
        r
      }
    }.filter(r => !ctx.isDeleted(r._1))
  }

  def count(q: CQuery, ctx: SegmentContext): Long = {
    val s = toScorer(q, ctx, scored = false)
    var n = 0L
    var d = s.doc
    while (d != Scorer.Terminated) {
      if (!ctx.isDeleted(d)) n += 1
      d = s.advance()
    }
    n
  }
}
