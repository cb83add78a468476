package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.analysis.Analyzer
import graft.corpus.WebCorpus
import graft.index.{IndexBuilder, IndexConfig}
import graft.search._

/** Randomized boolean-tree fuzz: engine match sets vs an INDEPENDENT
  * driver-side evaluator over the tokenized corpus (text semantics, no
  * postings) — the strongest whole-tree check: every operator combination
  * the generator can produce must agree exactly.
  *
  * Mirrored semantics (`boolean_weight.rs:169-393`): all MUSTs, no MUST_NOTs,
  * and ≥ msm SHOULDs, where effective msm = max(msm, 1) when the query has
  * SHOULDs but no MUSTs.
  */
class QueryFuzzSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private val N = 300

  private lazy val (indexDir, model) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fuzz").toString
    val docs = WebCorpus.generate(spark, N.toLong, 3)
    IndexBuilder.build(spark, docs.toDF(), dir, IndexConfig(numPartitions = 3))
    val m: Map[String, IndexedSeq[graft.analysis.Token]] = (0L until N.toLong).map { i =>
      val d = WebCorpus.genDoc(i)
      d.url -> Analyzer.tokenize(d.text).toIndexedSeq
    }.toMap
    (dir, m)
  }

  // ---- independent evaluator -------------------------------------------

  private def matches(q: Query, toks: IndexedSeq[graft.analysis.Token]): Boolean = q match {
    case Query.Term(_, t, _) => toks.exists(_.text == t)
    case Query.Prefix(_, p, _) => toks.exists(_.text.startsWith(p))
    case Query.TermRange(_, lo, hi, loInc, hiInc) =>
      toks.exists { tk =>
        lo.forall(v => if (loInc) tk.text >= v else tk.text > v) &&
          hi.forall(v => if (hiInc) tk.text <= v else tk.text < v)
      }
    case Query.Phrase(_, terms, _) =>
      val byText = toks.groupBy(_.text)
      if (terms.exists(t => !byText.contains(t))) false
      else byText(terms.head).exists { t0 =>
        terms.zipWithIndex.forall { case (t, i) =>
          byText.getOrElse(t, Nil).exists(_.position == t0.position + i)
        }
      }
    case Query.Bool(clauses, msm0) =>
      val musts = clauses.collect { case (Occur.Must, c) => c }
      val nots = clauses.collect { case (Occur.MustNot, c) => c }
      val shoulds = clauses.collect { case (Occur.Should, c) => c }
      val msm = math.max(msm0, if (musts.isEmpty && shoulds.nonEmpty) 1 else 0)
      if (msm > shoulds.size) false
      else musts.forall(matches(_, toks)) &&
        !nots.exists(matches(_, toks)) &&
        shoulds.count(matches(_, toks)) >= msm &&
        (musts.nonEmpty || shoulds.nonEmpty)
    case Query.Fuzzy(_, t, d, false, osa) =>
      toks.exists(tk => editDist(t, tk.text, osa) <= d)
    case Query.Regexp(_, p) =>
      val pat = java.util.regex.Pattern.compile(p)
      toks.exists(tk => pat.matcher(tk.text).matches())
    case Query.DisjunctionMax(ds, _) => ds.exists(matches(_, toks))
    case Query.Boost(inner, _) => matches(inner, toks)
    case Query.ConstScore(inner, _) => matches(inner, toks)
    case Query.All => true
    case Query.Nothing => false
    case other => throw new IllegalArgumentException(s"fuzz generator produced $other")
  }

  /** Independent edit distance (plain Levenshtein, or OSA when `osa` —
    * restricted Damerau, transpositions cost 1). Deliberately NOT the
    * engine's `Searcher.osaDistance`: a textbook DP reimplementation so the
    * fuzz check stays two-sided.
    */
  private def editDist(a: String, b: String, osa: Boolean): Int = {
    val m = a.length; val n = b.length
    val d = Array.ofDim[Int](m + 1, n + 1)
    var i = 0
    while (i <= m) { d(i)(0) = i; i += 1 }
    var j = 0
    while (j <= n) { d(0)(j) = j; j += 1 }
    i = 1
    while (i <= m) {
      j = 1
      while (j <= n) {
        val cost = if (a(i - 1) == b(j - 1)) 0 else 1
        var v = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1), d(i - 1)(j - 1) + cost)
        if (osa && i > 1 && j > 1 && a(i - 1) == b(j - 2) && a(i - 2) == b(j - 1))
          v = math.min(v, d(i - 2)(j - 2) + 1)
        d(i)(j) = v
        j += 1
      }
      i += 1
    }
    d(m)(n)
  }

  // ---- generator --------------------------------------------------------

  private val commonTerms = Seq("alpha", "beta", "gamma", "delta", "the", "fast")
  private val rareTerms = (0 to 400 by 37).map(i => f"w$i%05d")
  private val prefixes = Seq("alph", "bet", "gam", "w0001", "w0024")

  private val regexPats = Seq(
    "w000[0-9]{2}",          // 100-term dictionary band
    "w0001[0-9]",            // 10-term band
    "alph?a",                // optional char
    "(alpha|beta|gamma)",    // alternation (no literal prefix to push)
    "w00.4[0-9]")            // wildcard mid-pattern

  private def genLeaf(rnd: scala.util.Random): Query = rnd.nextInt(8) match {
    case 0 => Query.Term("text", commonTerms(rnd.nextInt(commonTerms.size)))
    case 1 => Query.Term("text", rareTerms(rnd.nextInt(rareTerms.size)))
    case 2 => Query.Prefix("text", prefixes(rnd.nextInt(prefixes.size)))
    case 3 =>
      // narrow dictionary range (stays far under the expansion cap)
      val lo = 100 + rnd.nextInt(200)
      Query.TermRange("text", Some(f"w$lo%05d"), Some(f"w${lo + 30}%05d"),
        rnd.nextBoolean(), rnd.nextBoolean())
    case 4 =>
      // phrase lifted from a real doc (adjacency guaranteed in at least one)
      val toks = model(WebCorpus.genDoc(rnd.nextInt(N).toLong).url)
      val start = rnd.nextInt(math.max(toks.size - 3, 1))
      val run = toks.slice(start, start + 2 + rnd.nextInt(2))
      // only adjacent-position runs form a valid slop-0 phrase fixture
      if (run.size >= 2 && run.zipWithIndex.forall { case (t, i) => t.position == run.head.position + i })
        Query.Phrase("text", run.map(_.text).toSeq)
      else Query.Term("text", toks(rnd.nextInt(toks.size)).text)
    case 5 =>
      // fuzzy around a live term, sometimes mutated off-dictionary; distance
      // stays 1 so the dictionary expansion is far under the 1024 cap
      val base = if (rnd.nextBoolean()) commonTerms(rnd.nextInt(commonTerms.size))
                 else rareTerms(rnd.nextInt(rareTerms.size))
      val t = if (rnd.nextBoolean() && base.length > 2) {
        val i = 1 + rnd.nextInt(base.length - 1)
        base.updated(i, if (base(i) == 'x') 'y' else 'x')
      } else base
      Query.Fuzzy("text", t, distance = 1, transpositionCostOne = rnd.nextBoolean())
    case 6 => Query.Regexp("text", regexPats(rnd.nextInt(regexPats.size)))
    case _ => Query.Term("text", commonTerms(rnd.nextInt(commonTerms.size)))
  }

  private def gen(rnd: scala.util.Random, depth: Int): Query =
    if (depth == 0) genLeaf(rnd)
    else rnd.nextInt(10) match {
      case 0 | 1 | 2 | 3 | 4 =>
        val n = 2 + rnd.nextInt(3)
        val clauses = (0 until n).map { _ =>
          val occ = rnd.nextInt(5) match {
            case 0 => Occur.Must
            case 1 => Occur.MustNot
            case _ => Occur.Should
          }
          occ -> gen(rnd, depth - 1)
        }
        // keep at least one positive clause (all-negative is rejected by design)
        val fixed =
          if (clauses.forall(_._1 == Occur.MustNot))
            clauses.updated(0, Occur.Must -> clauses.head._2)
          else clauses
        val nShould = fixed.count(_._1 == Occur.Should)
        Query.Bool(fixed, if (nShould > 0) rnd.nextInt(nShould + 1) else 0)
      case 5 =>
        Query.DisjunctionMax((0 until 2 + rnd.nextInt(2)).map(_ => gen(rnd, depth - 1)), 0.3f)
      case 6 => Query.Boost(gen(rnd, depth - 1), 1.5f)
      case 7 => Query.ConstScore(gen(rnd, depth - 1), 2.0f)
      case _ => genLeaf(rnd)
    }

  // GRAFT_FUZZ_TRIALS raises the count for one-off deep soaks (default 80)
  private val trials = sys.env.get("GRAFT_FUZZ_TRIALS").map(_.toInt).getOrElse(80)

  private lazy val trees: Seq[Query] = {
    val rnd = new scala.util.Random(20260818L)
    (0 until trials).map(_ => gen(rnd, 2 + rnd.nextInt(2)))
  }

  test("80 random query trees: engine match set == independent text-level evaluator") {
    import spark.implicits._
    val s = new Searcher(spark, indexDir)
    val queries = trees
    var nonEmpty = 0
    queries.zipWithIndex.foreach { case (q, qi) =>
      val got = s.allMatches(q, scored = false)
        .join(s.docmapDF, Seq("segment", "docId"))
        .select("url").as[String].collect().toSet
      val want = model.collect { case (u, toks) if matches(q, toks) => u }.toSet
      assert(got == want,
        s"query #$qi mismatch (missing=${(want -- got).take(3)}, extra=${(got -- want).take(3)}): $q")
      if (want.nonEmpty) nonEmpty += 1
    }
    // the generator must actually exercise matching docs, not just misses
    assert(nonEmpty > trials / 2, s"only $nonEmpty/$trials queries matched anything")
    // counts agree on the same trees through the count path
    val counts = s.batchCount(queries.take(20))
    queries.take(20).zip(counts).foreach { case (q, c) =>
      assert(c == model.values.count(matches(q, _)), q)
    }
  }

  test("random query trees: a single query == a batch of one (hits, score bits, counts)") {
    val s = new Searcher(spark, indexDir)
    val batch = s.batchTopDocs(trees, 10)
    val counts = s.batchCount(trees)
    def bits(hs: Array[SearchHit]) =
      hs.map(h => (h.url, java.lang.Float.floatToRawIntBits(h.score))).toList
    trees.zipWithIndex.foreach { case (q, i) =>
      assert(bits(s.topDocs(q, 10)) == bits(batch(i)), s"query #$i topDocs: $q")
      assert(s.count(q) == counts(i), s"query #$i count: $q")
    }
  }
}
