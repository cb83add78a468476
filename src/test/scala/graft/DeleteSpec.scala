package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.analysis.Analyzer
import graft.corpus.WebCorpus
import graft.index._
import graft.search._

/** Delete-by-term: opstamp semantics, query-time exclusion (alive-bitset
  * analog), and merge-time purge with docId compaction + exact stat
  * recompute.
  */
class DeleteSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private val NumDocs = 500
  private def freshIndex(): (String, IndexManifest) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-del").toString
    val m = IndexBuilder.build(spark, WebCorpus.generate(spark, NumDocs.toLong, 3).toDF(),
      dir, IndexConfig(numPartitions = 4))
    (dir, m)
  }

  private lazy val corpus: Map[String, Seq[String]] =
    (0L until NumDocs.toLong).map { i =>
      val d = WebCorpus.genDoc(i)
      d.url -> Analyzer.terms(d.text).toSeq
    }.toMap

  test("termDocsAndPositions: stream == analyzer recount; deletes drop out") {
    val (dir, _) = freshIndex()
    def streamOf(s: Searcher): Map[String, (Int, Seq[Int])] =
      s.termDocsAndPositions("text", "alpha")
        .join(s.docmapDF, Seq("segment", "docId"))
        .select("url", "termFreq", "positions").collect()
        .map(r => (r.getString(0), (r.getInt(1), r.getSeq[Int](2)))).toMap
    // independent recount: the analyzer chain's own token positions
    val want: Map[String, (Int, Seq[Int])] = (0L until NumDocs.toLong).flatMap { i =>
      val d = WebCorpus.genDoc(i)
      val pos = Analyzer.tokenize(d.text).collect {
        case t if t.text == "alpha" => t.position
      }.toSeq
      if (pos.isEmpty) None else Some(d.url -> ((pos.size, pos)))
    }.toMap
    assert(want.nonEmpty)
    assert(streamOf(new Searcher(spark, dir)) == want)
    // a deleted doc's row disappears from the stream; the rest are untouched
    val victim = want.keysIterator.next()
    Deleter.deleteKey(spark, dir, victim)
    assert(streamOf(new Searcher(spark, dir)) == (want - victim))
  }

  test("query-time exclusion with unchanged scores; opstamp spares newer docs") {
    val (dir, _) = freshIndex()
    val s0 = new Searcher(spark, dir)
    val q = Query.Term("text", "alpha")
    val before = s0.topDocs(q, 20)
    val countBefore = s0.count(q)

    // delete two docs that are in the current top-20 and one without alpha
    val dead = before.take(2).map(_.url)
    val nonAlpha = corpus.collectFirst { case (u, t) if !t.contains("alpha") => u }.get
    (dead :+ nonAlpha).foreach(u => Deleter.deleteKey(spark, dir, u))

    val s1 = new Searcher(spark, dir)
    assert(s1.manifest.deletes.size == 3)
    val after = s1.topDocs(q, 20)
    assert(!after.exists(h => dead.contains(h.url)))
    // surviving docs keep their exact f32 scores (stats unchanged until merge)
    val beforeScores = before.map(h => h.url -> h.score).toMap
    after.foreach(h => beforeScores.get(h.url).foreach(sc => assert(sc == h.score, h.url)))
    assert(s1.count(q) == countBefore - dead.count(u => corpus(u).contains("alpha")))
    assert(s1.count(Query.All) == NumDocs - 3)
    // allMatches excludes; explain of a dead doc is None
    import spark.implicits._
    val matchedUrls = s1.allMatches(q, scored = false)
      .join(s1.docmapDF, Seq("segment", "docId")).select("url").as[String].collect().toSet
    assert(dead.forall(u => !matchedUrls.contains(u)))
    assert(s1.explain(q, dead.head).isEmpty)

    // opstamp: re-adding one deleted url in a NEW segment revives the key
    val idx = (0L until NumDocs.toLong).find(i => WebCorpus.genDoc(i).url == dead.head).get
    val readd = WebCorpus.genDoc(idx)
    val one = Seq((readd.url, readd.text, readd.lang, readd.warc_ts))
      .toDF("url", "text", "lang", "warc_ts")
    IndexBuilder.build(spark, one, dir, IndexConfig(numPartitions = 4), segmentBase = 100000)
    val s2 = new Searcher(spark, dir)
    val revived = s2.allMatches(Query.Term(s2.manifest.keyField, dead.head), scored = false)
    assert(revived.count() == 1) // only the new copy is alive
    assert(s2.count(Query.All) == NumDocs - 3 + 1)
  }

  test("merge purges dead docs: compacted ids, exact stats, positions intact") {
    val (dir, _) = freshIndex()
    val q = Query.Term("text", "alpha")
    val phrase = Query.Phrase("text", Seq("alpha", "beta"))
    val s0 = new Searcher(spark, dir)
    val dead = s0.topDocs(q, 3).map(_.url)
    dead.foreach(u => Deleter.deleteKey(spark, dir, u))
    val s1 = new Searcher(spark, dir)
    val aliveMatches = {
      import spark.implicits._
      s1.allMatches(q, scored = false).join(s1.docmapDF, Seq("segment", "docId"))
        .select("url").as[String].collect().toSet
    }
    val phraseCountBefore = s1.count(phrase)

    val m2 = SegmentMerger.mergeUntilStable(spark, dir,
      SegmentMerger.LogMergePolicy(minNumSegments = 2, maxFanIn = 4))
    assert(m2.deletes.isEmpty, "fully-applied tombstones leave the manifest")
    assert(m2.totalDocs == NumDocs - dead.length)
    val s2 = new Searcher(spark, dir)
    import spark.implicits._
    val mergedMatches = s2.allMatches(q, scored = false)
      .join(s2.docmapDF, Seq("segment", "docId")).select("url").as[String].collect().toSet
    assert(mergedMatches == aliveMatches)
    assert(s2.count(phrase) == phraseCountBefore)

    // post-purge stats are the ALIVE corpus stats: f32-exact score oracle
    val alive = corpus -- dead
    val n = alive.size.toLong
    val totTokens = alive.values.map(_.size.toLong).sum
    assert(m2.totalTokens == totTokens, "exact alive token total")
    val df = alive.values.count(_.contains("alpha")).toLong
    val w = Bm25.forOneTerm(df, n, totTokens.toFloat / n.toFloat)
    val top = s2.topDocs(q, 5)
    top.foreach { h =>
      val toks = alive(h.url)
      val expected = w.score(
        FieldNorms.fieldNormToId(toks.size.toLong), toks.count(_ == "alpha"))
      assert(expected == h.score, h.url)
    }

    // dead keys are physically gone from the docmap
    assert(s2.docmapDF.where(org.apache.spark.sql.functions.col("url")
      .isin(dead.toSeq: _*)).count() == 0)
  }

  /** topDocs/count of each query == its slot of batchTopDocs/batchCount
    * (urls and score bits), at 1 and 3 query shards; no hit is a dead doc.
    */
  private def assertSingleEqualsBatch(s: Searcher, qs: Seq[Query], dead: Set[String]): Unit = {
    def bits(hs: Array[SearchHit]) =
      hs.map(h => (h.url, java.lang.Float.floatToRawIntBits(h.score))).toList
    for (n <- Seq(1, 3)) {
      spark.conf.set("spark.graft.queryShards", n.toString)
      try {
        val batch = s.batchTopDocs(qs, 10)
        val counts = s.batchCount(qs)
        assert(batch.flatten.forall(h => !dead.contains(h.url)), s"dead doc hit at $n shards")
        qs.zipWithIndex.foreach { case (q, i) =>
          assert(bits(s.topDocs(q, 10)) == bits(batch(i)), s"$n shards, topDocs: $q")
          assert(s.count(q) == counts(i), s"$n shards, count: $q")
        }
      } finally spark.conf.unset("spark.graft.queryShards")
    }
  }

  test("delete-by-query: lazy per-segment resolution, opstamp spares newer docs, merge purges") {
    import spark.implicits._
    val (dir, _) = freshIndex()
    val s0 = new Searcher(spark, dir)
    val qs = "alpha AND beta" // engine syntax, resolved inside kernel tasks
    val targets = corpus.collect {
      case (u, t) if t.contains("alpha") && t.contains("beta") => u
    }.toSet
    assert(targets.nonEmpty && targets.size < NumDocs)
    assert(s0.count(new QueryParser(s0.manifest.textField,
      analyzer = s0.manifest.textAnalyzer).parse(qs)) == targets.size.toLong)

    Deleter.deleteQuery(spark, dir, qs)
    val s1 = new Searcher(spark, dir)
    // every matching doc is excluded from every collector path
    assert(s1.count(Query.All) == (NumDocs - targets.size).toLong)
    val aliveUrls = s1.allMatches(Query.Term("text", "alpha"), scored = false)
      .join(s1.docmapDF, Seq("segment", "docId")).select("url").as[String].collect().toSet
    assert(aliveUrls.intersect(targets).isEmpty)
    // a single query == a batch of one on the tombstoned index, with the
    // batch unsharded and sharded
    val parser = new QueryParser(s1.manifest.textField, analyzer = s1.manifest.textAnalyzer)
    assertSingleEqualsBatch(s1, Seq("gamma", "alpha OR delta", "beta AND gamma", "alpha -gamma",
      "\"alpha beta\"").map(parser.parse), targets)
    // survivors keep exact f32 scores (stats unchanged until merge)
    val beforeScores = s0.topDocs(Query.Term("text", "gamma"), 50)
      .map(h => h.url -> h.score).toMap
    s1.topDocs(Query.Term("text", "gamma"), 20).foreach { h =>
      beforeScores.get(h.url).foreach(sc => assert(sc == h.score, h.url))
    }

    // opstamp: a NEW doc matching the dead query survives (added after)
    val victim = targets.head
    val idx = (0L until NumDocs.toLong).find(i => WebCorpus.genDoc(i).url == victim).get
    val readd = WebCorpus.genDoc(idx)
    IndexBuilder.build(spark,
      Seq((readd.url, readd.text, readd.lang, readd.warc_ts))
        .toDF("url", "text", "lang", "warc_ts"),
      dir, IndexConfig(numPartitions = 4), segmentBase = 100000)
    val s2 = new Searcher(spark, dir)
    assert(s2.count(Query.All) == (NumDocs - targets.size + 1).toLong)
    assert(s2.allMatches(Query.Term(s2.manifest.keyField, victim), scored = false)
      .count() == 1)

    // merge physically purges: tombstone drains, totals are the alive corpus
    val m = SegmentMerger.mergeUntilStable(spark, dir,
      SegmentMerger.LogMergePolicy(minNumSegments = 2, maxFanIn = 16))
    assert(m.deletes.isEmpty)
    assert(m.totalDocs == NumDocs - targets.size + 1)
    val s3 = new Searcher(spark, dir)
    val deadGone = s3.docmapDF
      .where(org.apache.spark.sql.functions.col("url").isin((targets - victim).toSeq: _*))
    assert(deadGone.count() == 0)
    assert(s3.docmapDF.where(org.apache.spark.sql.functions.col("url") === victim)
      .count() == 1)
    // unparseable query fails at delete time, manifest untouched
    val seqBefore = s3.manifest.commitSeq
    intercept[Exception] { Deleter.deleteQuery(spark, dir, "\"unclosed phrase") }
    assert(IndexManifest.read(spark, dir).get.commitSeq == seqBefore)
  }

  test("delete-by-query with a range clause: sharded batches see the whole dead set") {
    val (dir, _) = freshIndex()
    // `lang:*` compiles to a typed range: its rows reach kernels only through
    // the tombstones' range predicate, never through a query term
    Deleter.deleteQuery(spark, dir, "lang:* AND gamma")
    val s = new Searcher(spark, dir)
    val dead = corpus.collect { case (u, t) if t.contains("gamma") => u }.toSet
    assert(dead.nonEmpty && dead.size < NumDocs)
    assert(s.count(Query.All) == (NumDocs - dead.size).toLong)
    val parser = new QueryParser(s.manifest.textField, analyzer = s.manifest.textAnalyzer)
    assertSingleEqualsBatch(s, Seq("alpha", "gamma OR beta", "alpha AND beta", "delta",
      "beta -alpha").map(parser.parse), dead)
  }

  test("delete-by-query fuzz: stacked random boolean tombstones == independent evaluator") {
    import spark.implicits._
    val (dir, _) = freshIndex()
    val rnd = new scala.util.Random(20260820L)
    // vocabulary: mid-df words so random trees hit non-trivial subsets
    val df = corpus.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val vocab = df.collect { case (w, n) if n > 20 && n < NumDocs / 2 => w }.toVector.sorted
    assert(vocab.size >= 8)
    sealed trait Ast
    case class W(t: String) extends Ast
    case class AndQ(a: Ast, b: Ast) extends Ast
    case class OrQ(a: Ast, b: Ast) extends Ast
    case class AndNotQ(a: Ast, b: Ast) extends Ast
    def genAst(depth: Int): Ast =
      if (depth == 0) W(vocab(rnd.nextInt(vocab.size)))
      else rnd.nextInt(4) match {
        case 0 => AndQ(genAst(depth - 1), genAst(depth - 1))
        case 1 => OrQ(genAst(depth - 1), genAst(depth - 1))
        case 2 => AndNotQ(genAst(depth - 1), genAst(depth - 1))
        case _ => W(vocab(rnd.nextInt(vocab.size)))
      }
    def render(a: Ast): String = a match {
      case W(t) => t
      case AndQ(x, y) => s"(${render(x)} AND ${render(y)})"
      case OrQ(x, y) => s"(${render(x)} OR ${render(y)})"
      case AndNotQ(x, y) => s"(${render(x)} AND NOT ${render(y)})"
    }
    def eval(a: Ast, toks: Set[String]): Boolean = a match {
      case W(t) => toks(t)
      case AndQ(x, y) => eval(x, toks) && eval(y, toks)
      case OrQ(x, y) => eval(x, toks) || eval(y, toks)
      case AndNotQ(x, y) => eval(x, toks) && !eval(y, toks)
    }
    val tokSets = corpus.map { case (u, ts) => u -> ts.toSet }
    var alive: Set[String] = corpus.keySet
    (0 until 6).foreach { round =>
      val ast = genAst(2)
      Deleter.deleteQuery(spark, dir, render(ast))
      alive = alive.filterNot(u => eval(ast, tokSets(u)))
      val s = new Searcher(spark, dir)
      assert(s.count(Query.All) == alive.size.toLong,
        s"round $round: ${render(ast)}")
      val probe = vocab(rnd.nextInt(vocab.size))
      val got = s.allMatches(Query.Term("text", probe), scored = false)
        .join(s.docmapDF, Seq("segment", "docId"))
        .select("url").as[String].collect().toSet
      assert(got == alive.filter(u => tokSets(u)(probe)), s"round $round probe $probe")
    }
    assert(alive.size < NumDocs) // the rounds actually deleted something
    // merge drains all six stacked tombstones in one purge; survivors exact
    val m = SegmentMerger.mergeUntilStable(spark, dir,
      SegmentMerger.LogMergePolicy(minNumSegments = 2, maxFanIn = 16))
    assert(m.deletes.isEmpty && m.totalDocs == alive.size)
    assert(new Searcher(spark, dir).docmapDF
      .select("url").as[String].collect().toSet == alive)
  }

  test("deletes-ratio merge trigger: tombstone-heavy levels expunge below minNumSegments") {
    import spark.implicits._
    val (dir, _) = freshIndex() // 4 equal segments -> one level, below min 8
    val targets = corpus.collect {
      case (u, t) if t.contains("alpha") || t.contains("beta") => u
    }.toSet
    assert(targets.size > NumDocs / 4) // ratio comfortably above 0.2 per segment
    Deleter.deleteQuery(spark, dir, "alpha OR beta")
    // rule disabled (default 1.0, the reference default): nothing merges
    val mOff = SegmentMerger.mergeUntilStable(spark, dir, SegmentMerger.LogMergePolicy())
    assert(mOff.deletes.nonEmpty && mOff.segments.size == 4)
    // armed: the level qualifies via the ratio even at 4 < minNumSegments
    val mOn = SegmentMerger.mergeUntilStable(spark, dir,
      SegmentMerger.LogMergePolicy(delDocsRatioBeforeMerge = 0.2))
    assert(mOn.deletes.isEmpty && mOn.totalDocs == NumDocs - targets.size)
    val alive1 = corpus.keySet -- targets
    assert(new Searcher(spark, dir).docmapDF
      .select("url").as[String].collect().toSet == alive1)
    // single-segment expunge: one segment left, tombstone it again
    assert(mOn.segments.size == 1)
    val gammaDead = alive1.filter(u => corpus(u).contains("gamma"))
    assert(gammaDead.nonEmpty)
    Deleter.deleteQuery(spark, dir, "gamma")
    // arm at half the actual dead fraction so the single segment qualifies
    val ratio = gammaDead.size.toDouble / alive1.size / 2
    val m2 = SegmentMerger.mergeUntilStable(spark, dir,
      SegmentMerger.LogMergePolicy(delDocsRatioBeforeMerge = ratio))
    assert(m2.deletes.isEmpty && m2.segments.size == 1)
    assert(m2.totalDocs == (alive1 -- gammaDead).size)
    assert(new Searcher(spark, dir).docmapDF
      .select("url").as[String].collect().toSet == alive1 -- gammaDead)
  }

  test("merge across delete→re-add boundary keeps the re-added doc-map row") {
    import spark.implicits._
    val (dir, _) = freshIndex()
    val s0 = new Searcher(spark, dir)
    val victim = s0.topDocs(Query.Term("text", "alpha"), 1).head.url
    Deleter.deleteKey(spark, dir, victim)
    // re-add the same url in a NEW segment; the merge group below contains
    // both the dead old copy and the alive new copy of this url
    val idx = (0L until NumDocs.toLong).find(i => WebCorpus.genDoc(i).url == victim).get
    val readd = WebCorpus.genDoc(idx)
    IndexBuilder.build(spark,
      Seq((readd.url, readd.text, readd.lang, readd.warc_ts))
        .toDF("url", "text", "lang", "warc_ts"),
      dir, IndexConfig(numPartitions = 4), segmentBase = 100000)

    val m = SegmentMerger.mergeUntilStable(spark, dir,
      SegmentMerger.LogMergePolicy(minNumSegments = 2, maxFanIn = 16))
    assert(m.totalDocs == NumDocs, "one dead copy purged, one alive re-add kept")
    val s2 = new Searcher(spark, dir)
    // the doc-map row survived: fetch join resolves the url, exactly once
    assert(s2.docmapDF.where(org.apache.spark.sql.functions.col("url") === victim)
      .count() == 1)
    val hits = s2.topDocs(Query.Term(s2.manifest.keyField, victim), 10)
    assert(hits.map(_.url).toSeq == Seq(victim))
    // and the alive copy still matches content queries end-to-end
    val matched = s2.allMatches(Query.Term("text", "alpha"), scored = false)
      .join(s2.docmapDF, Seq("segment", "docId")).select("url").as[String].collect().toSet
    assert(matched.contains(victim) == corpus(victim).contains("alpha"))
  }
}
