package graft.search

import graft.analysis.Analyzer

/** MoreLikeThis: build a boolean query from a document's top TF-IDF terms
  * (Lucene-style; `/root/reference/src/query/more_like_this/more_like_this.rs:48`).
  * Driver-side composition: term stats come from the searcher's pruned
  * aggregates, then it is an ordinary boosted OR query.
  */
object MoreLikeThis {

  /** The reference's full builder surface (`more_like_this/query.rs:86-135`):
    * `maxDocFreq` drops too-common terms (0 = unlimited), `boostFactor`
    * scales every per-term boost, `stopWords` drops seed terms outright.
    */
  final case class Config(
      minTermFreq: Int = 2,
      minDocFreq: Int = 5,
      maxDocFreq: Long = 0L,
      maxQueryTerms: Int = 25,
      minWordLength: Int = 0,
      maxWordLength: Int = 0,
      boost: Boolean = true,
      boostFactor: Float = 1.0f,
      stopWords: Set[String] = Set.empty)

  /** Build the query from a raw document text (analyzed with the index's
    * own named chain, so seed terms live in the index's term space).
    */
  def query(searcher: Searcher, field: String, docText: String,
      cfg: Config = Config()): Query = {
    val terms = Analyzer.chain(searcher.manifest.textAnalyzer)(docText).map(_.text)
    val tf = terms.groupBy(identity).view.mapValues(_.size).toMap
      .filter { case (t, f) =>
        f >= cfg.minTermFreq &&
          (cfg.minWordLength == 0 || t.length >= cfg.minWordLength) &&
          (cfg.maxWordLength == 0 || t.length <= cfg.maxWordLength) &&
          !cfg.stopWords.contains(t)
      }
    if (tf.isEmpty) return Query.Nothing
    val n = searcher.manifest.totalDocs
    val dfs = searcher.docFreqs(tf.keySet.map(field -> _))
    val scored = tf.toSeq.flatMap { case (t, f) =>
      val df = dfs((field, t))
      if (df < cfg.minDocFreq || df == 0 ||
        (cfg.maxDocFreq > 0 && df > cfg.maxDocFreq)) None
      else {
        val idf = math.log(n.toDouble / df.toDouble)
        Some((t, f * idf))
      }
    }.sortBy { case (t, s) => (-s, t) }.take(cfg.maxQueryTerms)
    if (scored.isEmpty) Query.Nothing
    else {
      val maxScore = scored.head._2
      Query.Bool(scored.map { case (t, s) =>
        val q: Query = if (cfg.boost)
          Query.Boost(Query.Term(field, t), (s / maxScore).toFloat * cfg.boostFactor)
        else Query.Term(field, t)
        Occur.Should -> q
      })
    }
  }
}

/** Snippet generation — a faithful port of the reference's fragment
  * algorithm (`/root/reference/src/snippet/mod.rs`):
  *
  *  - `searchFragments` (mod.rs:205-228): walk tokens, closing a fragment
  *    when the next token's end would exceed `maxNumChars` from the
  *    fragment's start; keep only fragments containing >= 1 query term;
  *    fragment score = Σ per-OCCURRENCE term scores.
  *  - `selectBest` (mod.rs:234-257): max score, ties to the EARLIEST
  *    fragment (the reference compares reversed offsets inside max_by).
  *  - `Snippet.toHtml` (mod.rs:150-165): collapse overlapping highlight
  *    ranges, wrap in <b></b>, minimal HTML escaping (& < > " ').
  *  - query-driven term scores = 1/(1+doc_freq) (mod.rs:410-423).
  *
  * Driver-side post-processing over the k fetched rows.
  */
object Snippets {

  final case class Fragment(score: Double, startOffset: Int, stopOffset: Int,
      highlighted: Seq[(Int, Int)])

  final case class Snippet(fragment: String, highlighted: Seq[(Int, Int)]) {
    def isEmpty: Boolean = highlighted.isEmpty

    /** mod.rs:150-165 `to_html` — escaping matches htmlescape's
      * encode_minimal (& < > " ').
      */
    def toHtml: String = render("<b>", "</b>", escape = true)

    def render(prefix: String, postfix: String, escape: Boolean): String = {
      @inline def enc(s: String): String = if (!escape) s else
        s.flatMap {
          case '&' => "&amp;"
          case '<' => "&lt;"
          case '>' => "&gt;"
          case '"' => "&quot;"
          case '\'' => "&#x27;"
          case c => c.toString
        }
      val sb = new java.lang.StringBuilder
      var from = 0
      collapseOverlappedRanges(highlighted).foreach { case (a, b) =>
        sb.append(enc(fragment.substring(from, a)))
          .append(prefix).append(enc(fragment.substring(a, b))).append(postfix)
        from = b
      }
      sb.append(enc(fragment.substring(from))).toString
    }
  }

  /** mod.rs:268-322: sort+dedup, then merge truly-overlapping ranges
    * (adjacent ranges stay separate, contained ranges fold in).
    */
  def collapseOverlappedRanges(ranges: Seq[(Int, Int)]): Seq[(Int, Int)] = {
    val sorted = ranges.distinct.sortBy(identity)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    sorted.foreach { r =>
      out.lastOption match {
        case Some(last) if last._2 > r._1 =>
          out(out.size - 1) = (last._1, math.max(last._2, r._2))
        case _ => out += r
      }
    }
    out.toSeq
  }

  /** mod.rs:205-228 `search_fragments`. `terms` keys must be analyzed
    * (lowercased) terms; scores are per occurrence.
    */
  def searchFragments(text: String, terms: Map[String, Double],
      maxNumChars: Int, analyzer: String = "default"): Seq[Fragment] = {
    val toks = Analyzer.chain(analyzer)(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[Fragment]
    var score = 0.0
    var start = 0
    var stop = 0
    var hl = List.empty[(Int, Int)]
    def flush(): Unit = if (score > 0.0) out += Fragment(score, start, stop, hl.reverse)
    toks.foreach { t =>
      if (t.offsetTo - start > maxNumChars) {
        flush()
        score = 0.0; start = t.offsetFrom; stop = t.offsetFrom; hl = Nil
      }
      stop = t.offsetTo
      terms.get(t.text).foreach { w =>
        score += w
        hl = (t.offsetFrom, t.offsetTo) :: hl
      }
    }
    flush()
    out.toSeq
  }

  /** mod.rs:234-257 `select_best_fragment_combination`: max score, earliest
    * fragment on ties; empty snippet when nothing matched.
    */
  def selectBest(fragments: Seq[Fragment], text: String): Snippet =
    if (fragments.isEmpty) Snippet("", Nil)
    else {
      val best = fragments.reduceLeft { (l, r) =>
        if (r.score > l.score) r
        else if (r.score < l.score) l
        // equal: the reference's comparator ranks the EARLIER offsets higher
        else if (r.startOffset < l.startOffset ||
          (r.startOffset == l.startOffset && r.stopOffset < l.stopOffset)) r
        else l
      }
      Snippet(text.substring(best.startOffset, best.stopOffset),
        best.highlighted.map { case (a, b) => (a - best.startOffset, b - best.startOffset) })
    }

  /** Scored snippet over a text (the SnippetGenerator core). */
  def snippetScored(text: String, terms: Map[String, Double],
      maxNumChars: Int = 150, analyzer: String = "default"): Snippet =
    selectBest(searchFragments(text, terms, maxNumChars, analyzer), text)

  /** Query-driven generator (mod.rs:399-431 `SnippetGenerator::create`):
    * term weights = 1/(1+doc_freq) over the searcher's index; analyzer =
    * the index's own chain.
    */
  def forQuery(searcher: Searcher, q: Query, field: String,
      maxNumChars: Int = 150): String => Snippet = {
    // plan() resolves expansion queries first, so fuzzy/regex/prefix terms
    // highlight too (richer than the reference's query_terms on automata)
    val terms = CQuery.termsOf(searcher.plan(q)).filter(_._1 == field)
    val dfs = searcher.docFreqs(terms)
    val weights: Map[String, Double] = terms.toSeq.collect {
      case key @ (_, t) if dfs.getOrElse(key, 0L) > 0L =>
        t -> 1.0 / (1.0 + dfs(key).toDouble)
    }.toMap
    text => snippetScored(text, weights, maxNumChars, searcher.manifest.textAnalyzer)
  }

  /** Convenience wrapper kept for pipeline callers: uniform term weights,
    * <b></b> markup WITHOUT html escaping (verbatim-substring contract),
    * and the full head of the text when nothing matches.
    */
  def snippet(text: String, queryTerms: Set[String], maxChars: Int = 150): String = {
    val sn = snippetScored(text, queryTerms.iterator.map(_ -> 1.0).toMap, maxChars)
    if (sn.isEmpty) text.take(maxChars)
    else sn.render("<b>", "</b>", escape = false)
  }
}
