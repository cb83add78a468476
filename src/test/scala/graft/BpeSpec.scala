package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{BpeKernel, BpeOps}
import graft.ops.PipelineOps

/** BPE apply: greedy lowest-rank adjacent-pair merging (Sennrich et al.
  * 2016 inference rule), checked against an independent list-rewriting
  * implementation and hand-computed goldens for cascades, rank priority,
  * and leftmost tie-breaks.
  */
class BpeSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Independent formulation: immutable-list rewriting — find the best pair
    * by mapping ALL adjacent pairs to ranks first, then rebuild the list.
    */
  private def naive(word: String, merges: Seq[(String, String)]): List[String] = {
    val rank = merges.zipWithIndex.groupBy { case ((a, b), _) => (a, b) }
      .map { case (k, v) => k -> v.map(_._2).min }
    var ps = word.toList.map(_.toString)
    var continue = true
    while (continue && ps.size > 1) {
      val ranked = ps.zip(ps.tail).zipWithIndex
        .flatMap { case ((a, b), i) => rank.get((a, b)).map(r => (r, i)) }
      if (ranked.isEmpty) continue = false
      else {
        val (_, i) = ranked.minBy { case (r, i) => (r, i) }
        ps = ps.take(i) ++ List(ps(i) + ps(i + 1)) ++ ps.drop(i + 2)
      }
    }
    ps
  }

  test("goldens: cascade, rank priority, leftmost tie-break, no-merge") {
    // cascade: lo then low
    assert(BpeKernel.encodeWord("lower",
      BpeKernel.build(Seq(("l", "o"), ("lo", "w")))).toSeq == Seq("low", "e", "r"))
    // rank priority: (a,b) at rank 0 wins over (b,c) even though (b,c)
    // is also present — a rank-ignorant scan would produce (a)(bc)
    assert(BpeKernel.encodeWord("abc",
      BpeKernel.build(Seq(("a", "b"), ("b", "c")))).toSeq == Seq("ab", "c"))
    assert(BpeKernel.encodeWord("abc",
      BpeKernel.build(Seq(("b", "c"), ("a", "b")))).toSeq == Seq("a", "bc"))
    // leftmost on ties
    assert(BpeKernel.encodeWord("abab",
      BpeKernel.build(Seq(("a", "b")))).toSeq == Seq("ab", "ab"))
    // nothing applicable
    assert(BpeKernel.encodeWord("xyz",
      BpeKernel.build(Seq(("a", "b")))).toSeq == Seq("x", "y", "z"))
    assert(BpeKernel.encodeWord("", BpeKernel.build(Seq(("a", "b")))).isEmpty)
  }

  test("fuzz: kernel == independent list-rewriting implementation") {
    val rnd = new scala.util.Random(7)
    val alpha = "abcd"
    for (_ <- 0 until 1500) {
      val word = Seq.fill(1 + rnd.nextInt(12))(alpha(rnd.nextInt(alpha.length))).mkString
      val nMerges = rnd.nextInt(6)
      val merges = Seq.fill(nMerges) {
        // pieces that can actually arise: short substrings of the alphabet
        def piece() = Seq.fill(1 + rnd.nextInt(2))(alpha(rnd.nextInt(alpha.length))).mkString
        (piece(), piece())
      }
      val got = BpeKernel.encodeWord(word, BpeKernel.build(merges)).toSeq
      val want = naive(word, merges)
      assert(got == want, s"word=$word merges=$merges")
      assert(got.mkString == word, "pieces must concatenate back to the word")
    }
  }

  test("DataFrame op + SQL function agree with the kernel; codegen path") {
    val rows = Seq((1L, "the thin sloth, THE MOTH!"), (2L, "no match here"))
    val df = rows.toDF("doc_id", "text")
    val merges = Seq(("t", "h"), ("th", "e"))
    val direct = rows.map { case (id, t) =>
      id -> graft.functions.ShingleKernel.tokens(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
        .flatMap(w => BpeKernel.encodeWord(w, BpeKernel.build(merges))).toSeq
    }.toMap
    val viaOp = PipelineOps.bpeEncode(df, merges)
      .select("doc_id", "bpe_toks").as[(Long, Seq[String])].collect().toMap
    assert(viaOp == direct)
    GraftFunctions.registerAll(spark)
    val viaSql = df.selectExpr("doc_id", "bpe_tokens(text, array('t h', 'th e')) AS p")
      .as[(Long, Seq[String])].collect().toMap
    assert(viaSql == direct)
    // piece counts feed the token budget
    val n = PipelineOps.bpeEncode(df, merges)
      .select("doc_id", "n_bpe_tokens").as[(Long, Long)].collect().toMap
    assert(n == direct.map { case (k, v) => k -> v.size.toLong })
  }

  /** Independent Sennrich trainer: plain Scala symbol vectors, leftmost
    * non-overlapping merge, (count desc, pair asc) tie law.
    */
  private def naiveTrain(words: Map[String, Long], k: Int): Seq[(String, String, Long)] = {
    var vocab = words.toVector.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var i = 0
    var done = false
    while (i < k && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((syms, c) <- vocab; j <- 0 until syms.length - 1)
        counts((syms(j), syms(j + 1))) += c
      if (counts.isEmpty) done = true
      else {
        val ((p, cc), n) = counts.toSeq.minBy { case ((a, b), m) => (-m, a, b) }
        out += ((p, cc, n))
        vocab = vocab.map { case (syms, cn) =>
          val nb = Vector.newBuilder[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == p && syms(j + 1) == cc) {
              nb += p + cc; j += 2
            } else { nb += syms(j); j += 1 }
          }
          (nb.result(), cn)
        }
      }
      i += 1
    }
    out.toSeq
  }

  test("bpeTrain: merge sequence matches an independent Sennrich trainer") {
    // 'th' dominates, then 'the'; cascaded merges must re-count after each
    val docs = Seq(
      (1L, "the the the then there other"),
      (2L, "thin myth math the"),
      (3L, "banana bandana ban")
    ).toDF("doc_id", "text")
    val words = Seq("the", "the", "the", "then", "there", "other",
      "thin", "myth", "math", "the", "banana", "bandana", "ban")
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = naiveTrain(words, 8)
    val got = PipelineOps.bpeTrain(docs, 8)
    assert(got == want)
    assert(got.head._1 == "t" && got.head._2 == "h") // 'th' is the top pair
    // learned merges feed the apply kernel directly
    val pieces = PipelineOps.bpeEncode(docs, got.map(m => (m._1, m._2)))
      .select("n_bpe_tokens").as[Long].collect().sum
    val raw = PipelineOps.bpeEncode(docs, Nil)
      .select("n_bpe_tokens").as[Long].collect().sum
    assert(pieces < raw) // merges shrink the token budget
  }

  /** Spark `bpeTrain` == the naive trainer on one corpus of words. */
  private def checkTrain(words: Seq[String], k: Int, tag: String): Unit = {
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val wc = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(PipelineOps.bpeTrain(docs, k) == naiveTrain(wc, k), s"$tag k=$k words=$words")
  }

  test("bpeTrain fuzz: random small-alphabet corpora match the naive trainer") {
    val rnd = new scala.util.Random(20260820)
    for (trial <- 0 until 8) {
      val words = (0 until 12).map { _ =>
        (1 to (1 + rnd.nextInt(6))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      }
      checkTrain(words, 6, s"trial=$trial")
    }
  }

  test("bpeTrain fuzz: wider alphabets (3-7 letters) match the naive trainer") {
    val rnd = new scala.util.Random(20260821)
    for (trial <- 0 until 10) {
      val alpha = 3 + rnd.nextInt(5)
      val words = (0 until 20).map { _ =>
        (1 to (2 + rnd.nextInt(6))).map(_ => ('a' + rnd.nextInt(alpha)).toChar).mkString
      }
      checkTrain(words, 10, s"trial=$trial alpha=$alpha")
    }
  }

  test("bpeTrain: tie, cascade and concat-conflation corpora match the naive trainer") {
    val rnd = new scala.util.Random(20260822)
    // 1) tie-heavy: 2-char alphabet, equal counts — every round is a tie
    //    pile that the (count desc, pair asc) law must break
    for (t <- 0 until 12) {
      val words = (0 until 10).map { _ =>
        (1 to (2 + rnd.nextInt(6))).map(_ => ('a' + rnd.nextInt(2)).toChar).mkString
      }
      checkTrain(words, 6 + rnd.nextInt(8), s"tie/$t")
    }
    // 2) cascade-heavy: long runs and alternations — each merge's new
    //    symbol immediately forms the next round's top pairs
    for (t <- 0 until 12) {
      val a = ('a' + rnd.nextInt(2)).toChar.toString
      val b = ('a' + rnd.nextInt(3)).toChar.toString
      val words = (0 until 8).map { _ =>
        rnd.nextInt(3) match {
          case 0 => a * (2 + rnd.nextInt(6))                       // runs: aaaa
          case 1 => (a + b) * (1 + rnd.nextInt(4))                 // abab
          case _ => a * (1 + rnd.nextInt(3)) + b * (1 + rnd.nextInt(3))
        }
      }
      checkTrain(words, 6 + rnd.nextInt(8), s"cascade/$t")
    }
    // 3) conflation: merges that create symbols string-equal to other
    //    factorizations' concats ('aba' via (ab,a) vs (a,ba)), with skewed
    //    multiplicities so those pairs top rounds
    val seeds = Seq("aba", "abab", "aab", "baa", "aabaa", "ababa", "bab",
      "abba", "aabab", "ababab", "baba", "aaba")
    for (t <- 0 until 12) {
      val words = (0 until (6 + rnd.nextInt(5))).flatMap { _ =>
        val w = seeds(rnd.nextInt(seeds.length))
        Seq.fill(1 + rnd.nextInt(6))(w)
      }
      checkTrain(words, 6 + rnd.nextInt(12), s"conflate/$t")
    }
    // one fixed corpus per family
    for (words <- Seq(
        Seq("abab", "abab", "aba", "bab", "aab", "baa"),           // conflation
        Seq("aaaa", "aaa", "aa", "aaaa", "abab", "abab"),          // runs/ties
        Seq("the", "the", "then", "there", "banana", "bandana")))  // prose-like
      checkTrain(words, 10, "fixed")
  }
}
