package graft.search

import org.apache.spark.unsafe.types.UTF8String
import graft.index.{PostingRow, SegmentFiles}
import graft.index.SegmentFiles.{AllOf, Clause, Terms}

/** The term dictionary of one snapshot, read on the driver from its segment
  * files' (field, term, docFreq) columns: global doc freqs
  * (`Searcher::doc_freq`, `searcher.rs:133`, summed over the segment
  * readers) and the dictionary walks of term-expanding queries (the FST
  * automaton walk, `automaton_weight.rs:37-55`). `read(clauses)(f)` streams
  * every segment file's dictionary rows matching `clauses` to `f`.
  */
private[search] final class TermDictionary(read: Seq[Clause] => (PostingRow => Unit) => Unit) {
  import TermDictionary.Walk

  // memoized: the snapshot is immutable, so a term's global df never
  // changes — repeat batches over warm terms skip the read entirely
  private val dfCache = scala.collection.concurrent.TrieMap.empty[(String, String), Long]

  def docFreqs(terms: Set[(String, String)]): Map[(String, String), Long] = {
    walk(terms, Nil)
    terms.iterator.map(t => t -> dfCache(t)).toMap.withDefaultValue(0L)
  }

  /** ONE pass over every segment file's dictionary answering a batch: the
    * doc freqs of the `terms` not yet memoized and each walk's
    * matches — distinct terms in UTF-8 order, the first `cap` kept (Spark
    * SQL's distinct, orderBy, limit). No walks and no new terms: no read.
    * Every doc freq read is memoized: a walk matches on (field, term) alone,
    * so a matched term's rows are seen in every segment and its sum is
    * complete.
    */
  def walk(terms: Set[(String, String)], walks: Seq[Walk]): Map[Walk, Seq[String]] = {
    val exact = terms.filterNot(dfCache.contains)
    val live = walks.distinct.filter(w => w.cap > 0 && !w.field.startsWith("__"))
    val found = live.map(w =>
      w -> new java.util.TreeMap[String, java.lang.Long](SegmentFiles.Utf8Order)).toMap
    val tests = live.groupBy(_.field).map { case (f, ws) => f -> ws.map(w => (found(w), w.cap, w.test)) }
    val dfs = scala.collection.mutable.HashMap.empty[(String, String), Long]
    exact.foreach(dfs(_) = 0L)
    val clauses = exact.groupMap(_._1)(_._2).map { case (f, ts) => Terms(f, ts) }.toSeq ++
      live.map(_.clause)
    if (clauses.nonEmpty) read(clauses) { r =>
      val key = (r.field, r.term)
      dfs.get(key).foreach(v => dfs(key) = v + r.docFreq)
      tests.getOrElse(r.field, Nil).foreach { case (m, cap, test) =>
        val prev = m.get(r.term)
        if (prev != null) m.put(r.term, prev + r.docFreq)
        // bounded: once full, a term above the largest kept never enters
        // again, so every kept term's doc-freq sum is complete
        else if (test(r.term) && (m.size < cap || SegmentFiles.compareUtf8(r.term, m.lastKey) < 0)) {
          if (m.size == cap) m.pollLastEntry()
          m.put(r.term, r.docFreq.toLong)
        }
      }
    }
    dfCache ++= dfs
    walks.map { w =>
      w -> found.get(w).fold(Seq.empty[String]) { m =>
        m.forEach((t, df) => dfCache((w.field, t)) = df.longValue)
        m.keySet.toArray(Array.empty[String]).toSeq
      }
    }.toMap
  }
}

private[search] object TermDictionary {

  /** Default expansion cap of dictionary walks (fuzzy, regex, range). */
  val MaxExpansions = 1024

  /** The walk of a Fuzzy, Regexp, TermRange or Prefix query. */
  def walkOf(q: Query): Walk = q match {
    case Query.Prefix(_, _, max) => Walk(q, max)
    case _ => Walk(q, MaxExpansions)
  }

  /** A dictionary walk: the terms of a Fuzzy, Regexp, TermRange or Prefix
    * query's field that its predicate accepts, the first `cap` in UTF-8
    * order. The predicates are Spark SQL's: `levenshtein` over
    * `UTF8String`, `rlike` as a Java regex `find`, `startsWith`, and
    * UTF-8 byte-order bounds.
    */
  final case class Walk(q: Query, cap: Int) {
    def field: String = q match {
      case Query.Fuzzy(f, _, _, _, _) => f
      case Query.Regexp(f, _) => f
      case Query.TermRange(f, _, _, _, _) => f
      case Query.Prefix(f, _, _) => f
      case other => throw new IllegalArgumentException(s"not a dictionary walk: $other")
    }

    /** The pushed-down superset of [[test]]: a regex reads only its literal
      * prefix's term range (the automaton-prefix FST seek).
      */
    def clause: Clause = q match {
      case Query.Regexp(f, p) if Searcher.literalPrefix(p).nonEmpty =>
        SegmentFiles.Prefix(f, Searcher.literalPrefix(p))
      case Query.TermRange(f, lo, hi, li, hie) if lo.isDefined || hi.isDefined =>
        SegmentFiles.Range(f, lo, hi, li, hie)
      case Query.Prefix(f, p, _) => SegmentFiles.Prefix(f, p)
      case _ => AllOf(field)
    }

    /** The exact predicate (a read returns the union of a batch's clauses). */
    def test: String => Boolean = q match {
      case Query.Fuzzy(_, t, d, prefix, transp) =>
        // with transpositions the walk is the superset `levenshtein <= 2d`
        // (a transposition is two plain edits); exact OSA filters after the cap
        val target = UTF8String.fromString(t)
        val maxLev = if (transp) 2 * d else d
        term => (prefix && term.startsWith(t)) ||
          UTF8String.fromString(term).levenshteinDistance(target) <= maxLev
      case Query.Regexp(_, p) =>
        val re = java.util.regex.Pattern.compile(s"^(?:$p)$$")
        val pre = Searcher.literalPrefix(p)
        term => term.startsWith(pre) && re.matcher(term).find(0)
      case Query.TermRange(_, lo, hi, li, hie) => SegmentFiles.inBounds(_, lo, hi, li, hie)
      case Query.Prefix(_, p, _) => _.startsWith(p)
      case other => throw new IllegalArgumentException(s"not a dictionary walk: $other")
    }
  }
}
