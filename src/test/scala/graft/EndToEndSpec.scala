package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.analysis.Analyzer
import graft.corpus.WebCorpus
import graft.index.{FieldNorms, IndexBuilder, IndexConfig, IndexManifest}
import graft.search._

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `f` with one session conf set, then unsets it. */
  def withConf[T](kv: (String, String))(f: => T): T = {
    spark.conf.set(kv._1, kv._2)
    try f finally spark.conf.unset(kv._1)
  }
}

/** End-to-end: distributed build -> manifest -> Searcher vs a fully
  * independent driver-side oracle (tokenize + brute-force f32 BM25 over
  * every doc, global (segment, docId) tie-break from the docmap).
  */
class EndToEndSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.spark

  val NumDocs = 600
  val NumParts = 4
  lazy val indexDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    val docs = WebCorpus.generate(spark, NumDocs.toLong, 3)
    IndexBuilder.build(spark, docs.toDF(), dir, IndexConfig(numPartitions = NumParts))
    dir
  }
  lazy val searcher = new Searcher(spark, indexDir)

  // ---- oracle state: url -> tokens; global address order from the docmap
  lazy val corpus: Map[String, Seq[String]] =
    (0L until NumDocs.toLong).map { i =>
      val d = WebCorpus.genDoc(i)
      d.url -> Analyzer.terms(d.text).toSeq
    }.toMap
  lazy val addrOf: Map[String, Long] = {
    import spark.implicits._
    searcher.docmapDF.select("url", "segment", "docId").as[(String, Int, Int)]
      .collect().map { case (u, s, d) => u -> ((s.toLong << 32) | d.toLong) }.toMap
  }

  private def oracleWeight(terms: Seq[String]): Map[String, Bm25.Weight] = {
    val n = corpus.size.toLong
    val totalTokens = corpus.values.map(_.size.toLong).sum
    terms.distinct.map { t =>
      val df = corpus.values.count(_.contains(t)).toLong
      t -> (if (df == 0) null else Bm25.forOneTerm(df, n, totalTokens.toFloat / n.toFloat))
    }.toMap
  }

  /** Brute-force top-k over the whole corpus for an OR query. */
  private def oracleTopK(terms: Seq[String], k: Int): List[(String, Float)] = {
    val ws = oracleWeight(terms)
    corpus.toSeq.flatMap { case (url, toks) =>
      var s = 0.0f
      var any = false
      val normId = FieldNorms.fieldNormToId(toks.size.toLong)
      terms.distinct.foreach { t =>
        val tf = toks.count(_ == t)
        if (tf > 0 && ws(t) != null) { any = true; s += ws(t).score(normId, tf) }
      }
      if (any) Some((url, s)) else None
    }.sortBy { case (u, s) => (-s, addrOf(u)) }.take(k).toList
  }

  test("manifest sane") {
    val m = searcher.manifest
    assert(m.totalDocs == NumDocs)
    assert(m.segments.nonEmpty)
    assert(m.segments.forall(_.docsPerSec > 0))
    assert(m.segments.forall(_.postingsBytes > 0))
  }

  test("single-term top-10 == oracle (ids and f32 score bits)") {
    for (term <- Seq("alpha", "beta", "gamma", "w00000", "w00042")) {
      val hits = searcher.topDocs(Query.Term("text", term), 10)
      val expected = oracleTopK(Seq(term), 10)
      assert(hits.map(h => (h.url, h.score)).toList == expected, s"term=$term")
    }
  }

  test("missing term -> empty") {
    assert(searcher.topDocs(Query.Term("text", "zzzmissing"), 10).isEmpty)
    assert(searcher.count(Query.Term("text", "zzzmissing")) == 0L)
  }

  test("OR top-10 == oracle (multi-term WAND)") {
    for (terms <- Seq(Seq("alpha", "beta"), Seq("alpha", "gamma"),
        Seq("w00003", "w00004", "w00005"), Seq("alpha", "beta", "gamma"))) {
      val q = Query.Bool(terms.map(t => Occur.Should -> Query.Term("text", t)))
      val hits = searcher.topDocs(q, 10)
      assert(hits.map(h => (h.url, h.score)).toList == oracleTopK(terms, 10), s"terms=$terms")
    }
  }

  test("AND == oracle") {
    val terms = Seq("alpha", "beta")
    val q = Query.must(Query.Term("text", "alpha"), Query.Term("text", "beta"))
    val ws = oracleWeight(terms)
    val expected = corpus.toSeq.flatMap { case (url, toks) =>
      val normId = FieldNorms.fieldNormToId(toks.size.toLong)
      if (terms.forall(toks.contains)) {
        var s = 0.0f
        terms.foreach(t => s += ws(t).score(normId, toks.count(_ == t)))
        Some((url, s))
      } else None
    }.sortBy { case (u, s) => (-s, addrOf(u)) }.take(10).toList
    val hits = searcher.topDocs(q, 10)
    assert(hits.map(h => (h.url, h.score)).toList == expected)
    assert(searcher.count(q) == corpus.values.count(t => terms.forall(t.contains)))
  }

  test("NOT and counts == oracle sets") {
    val q = Query.Bool(Seq(
      Occur.Must -> Query.Term("text", "alpha"),
      Occur.MustNot -> Query.Term("text", "beta")))
    val expected = corpus.count { case (_, t) => t.contains("alpha") && !t.contains("beta") }
    assert(searcher.count(q) == expected)
    // required-optional: +alpha beta — matches == alpha docs, scores add beta
    val qro = Query.Bool(Seq(
      Occur.Must -> Query.Term("text", "alpha"),
      Occur.Should -> Query.Term("text", "beta")))
    assert(searcher.count(qro) == corpus.count(_._2.contains("alpha")))
  }

  test("counts: single term fast path == kernel count == oracle") {
    for (term <- Seq("alpha", "beta", "gamma")) {
      val oracle = corpus.values.count(_.contains(term)).toLong
      assert(searcher.count(Query.Term("text", term)) == oracle, s"fast $term")
      val q = Query.Bool(Seq(Occur.Should -> Query.Term("text", term),
        Occur.Should -> Query.Term("text", term)))
      assert(searcher.count(q) == oracle, s"kernel $term")
    }
  }

  test("phrase query == oracle adjacency") {
    // find an actual adjacent pair in the corpus to query
    val pair = corpus.values.flatMap(t => t.sliding(2).map(_.toList)).toSeq
      .groupBy(identity).view.mapValues(_.size).toSeq.sortBy(-_._2).head._1
    val q = Query.Phrase("text", pair)
    val expected = corpus.count { case (_, toks) =>
      toks.sliding(2).exists(_.toList == pair)
    }
    assert(expected > 0)
    assert(searcher.count(q) == expected, s"phrase=$pair")
    val hits = searcher.topDocs(q, 5)
    assert(hits.nonEmpty)
    // phrase tf feeds summed-idf weight — check top hit score vs oracle
    val n = corpus.size.toLong
    val totalTokens = corpus.values.map(_.size.toLong).sum
    val w = Bm25.forTerms(pair.map(t => corpus.values.count(_.contains(t)).toLong), n, totalTokens)
    val topUrl = hits.head.url
    val toks = corpus(topUrl)
    val tfPhrase = toks.sliding(2).count(_.toList == pair)
    val normId = FieldNorms.fieldNormToId(toks.size.toLong)
    assert(hits.head.score == w.score(normId, tfPhrase))
  }

  test("raw field term lookup (url primary key)") {
    val someUrl = corpus.keys.head
    val hits = searcher.allMatches(Query.Term("url", someUrl), scored = false).collect()
    assert(hits.length == 1)
  }

  test("expansion queries: prefix, regex, fuzzy, set, range") {
    // prefix: w0004* — oracle over vocab
    val vocab = corpus.values.flatten.toSet
    val pre = vocab.filter(_.startsWith("w0004"))
    val cPre = searcher.count(Query.Prefix("text", "w0004"))
    assert(cPre == corpus.values.count(_.exists(pre.contains)))
    // regex
    val cRe = searcher.count(Query.Regexp("text", "w000[12]3"))
    val reSet = vocab.filter(t => t.matches("w000[12]3"))
    assert(cRe == corpus.values.count(_.exists(reSet.contains)))
    // fuzzy distance 1 from "alpha"
    val fuzzSet = vocab.filter(t => levenshtein(t, "alpha") <= 1)
    assert(searcher.count(Query.Fuzzy("text", "alpha", 1)) ==
      corpus.values.count(_.exists(fuzzSet.contains)))
    // set
    val set = Seq("alpha", "gamma")
    assert(searcher.count(Query.TermSet("text", set)) ==
      corpus.values.count(t => set.exists(t.contains)))
    // range [w00010, w00020)
    val rangeSet = vocab.filter(t => t >= "w00010" && t < "w00020")
    assert(searcher.count(Query.TermRange("text", Some("w00010"), Some("w00020"))) ==
      corpus.values.count(_.exists(rangeSet.contains)))
  }

  private def levenshtein(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) => if (i == 0) j else if (j == 0) i else 0 }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("random query property: engine == oracle on 15 random OR/AND queries") {
    val rnd = new scala.util.Random(123)
    val vocabArr = corpus.values.flatten.toSeq.distinct.sorted.toArray
    for (round <- 0 until 15) {
      val nT = 1 + rnd.nextInt(3)
      val terms = Seq.fill(nT)(vocabArr(rnd.nextInt(vocabArr.length))).distinct
      val k = 1 + rnd.nextInt(10)
      val q = Query.Bool(terms.map(t => Occur.Should -> Query.Term("text", t)))
      val hits = searcher.topDocs(q, k)
      assert(hits.map(h => (h.url, h.score)).toList == oracleTopK(terms, k),
        s"round=$round terms=$terms k=$k")
    }
  }

  test("batchTopDocs == per-query topDocs") {
    val qs: Seq[Query] = Seq(
      Query.Term("text", "alpha"),
      Query.must(Query.Term("text", "alpha"), Query.Term("text", "beta")),
      Query.should(Query.Term("text", "beta"), Query.Term("text", "gamma")),
      Query.Term("text", "zzzmissing"))
    val batch = searcher.batchTopDocs(qs, 10)
    qs.zipWithIndex.foreach { case (q, i) =>
      val single = searcher.topDocs(q, 10).map(h => (h.url, h.score)).toList
      assert(batch(i).map(h => (h.url, h.score)).toList == single, s"query $i")
    }
  }

  test("batchCount == per-query count") {
    val qs: Seq[Query] = Seq(
      Query.Term("text", "alpha"),
      Query.must(Query.Term("text", "alpha"), Query.Term("text", "beta")),
      Query.should(Query.Term("text", "beta"), Query.Term("text", "gamma")),
      Query.Term("text", "zzzmissing"),
      Query.All)
    assert(searcher.batchCount(qs) == qs.map(searcher.count))
  }

  test("query-shard fan-out is bit-identical to the unsharded path") {
    // the merged-index scale path: parallelism = segments x query shards;
    // force shard counts that exceed segments AND don't divide the batch
    val qs: Seq[Query] = Seq(
      Query.Term("text", "alpha"),
      Query.must(Query.Term("text", "alpha"), Query.Term("text", "beta")),
      Query.should(Query.Term("text", "beta"), Query.Term("text", "gamma"),
        Query.Term("text", "delta")),
      Query.Bool(Seq(Occur.Must -> Query.Term("text", "alpha"),
        Occur.MustNot -> Query.Term("text", "beta"))),
      Query.Phrase("text", Seq("alpha", "beta")),
      Query.Term("text", "zzzmissing"))
    def withShards[T](n: Int)(f: => T): T = {
      spark.conf.set("spark.graft.queryShards", n.toString)
      try f finally spark.conf.unset("spark.graft.queryShards")
    }
    val base = withShards(1)(searcher.batchTopDocs(qs, 10))
      .map(_.map(h => (h.url, h.score)).toList)
    val baseCounts = withShards(1)(searcher.batchCount(qs))
    for (n <- Seq(2, 3, 5)) {
      val sharded = withShards(n)(searcher.batchTopDocs(qs, 10))
        .map(_.map(h => (h.url, h.score)).toList)
      assert(sharded == base, s"topDocs diverged at $n shards")
      assert(withShards(n)(searcher.batchCount(qs)) == baseCounts, s"counts diverged at $n shards")
    }
    // a shard count below 1 is rejected, naming the conf key
    val bad = intercept[IllegalArgumentException](withShards(0)(searcher.batchTopDocs(qs, 10)))
    assert(bad.getMessage.contains("spark.graft.queryShards"), bad.getMessage)
  }

  test("build determinism: second build of same corpus is identical") {
    val dir2 = java.nio.file.Files.createTempDirectory("graft-e2e2").toString
    val docs = WebCorpus.generate(spark, NumDocs.toLong, 7) // different gen parallelism
    IndexBuilder.build(spark, docs.toDF(), dir2, IndexConfig(numPartitions = NumParts))
    def fingerprint(dir: String): Array[(Int, String, String, Int, Long, Long, Long, Long)] = {
      import spark.implicits._
      spark.read.parquet(s"$dir/postings")
        .selectExpr("segment", "field", "term", "docFreq", "totalTf",
          "crc32(postings)", "crc32(skip)", "crc32(positions)")
        .as[(Int, String, String, Int, Long, Long, Long, Long)]
        .collect().sortBy(r => (r._1, r._2, r._3))
    }
    assert(fingerprint(indexDir).toSeq == fingerprint(dir2).toSeq)
  }

  test("resume: kill-and-rerun completes missing segments identically") {
    val dir3 = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val docs = WebCorpus.generate(spark, NumDocs.toLong, 3)
    val m1 = IndexBuilder.build(spark, docs.toDF(), dir3, IndexConfig(numPartitions = NumParts))
    // simulate a crash that lost one segment: drop it from manifest + disk
    val victim = m1.segments.head.segment
    val crippled = m1.copy(segments = m1.segments.filterNot(_.segment == victim))
    IndexManifest.write(spark, dir3, crippled)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir3/postings/segment=$victim"), true)
    // resume
    val m2 = IndexBuilder.build(spark, docs.toDF(), dir3, IndexConfig(numPartitions = NumParts))
    assert(m2.segments.map(_.segment).sorted == m1.segments.map(_.segment).sorted)
    assert(m2.commitSeq == crippled.commitSeq + 1)
    // content identical to the straight build
    val s3 = new Searcher(spark, dir3)
    val a = s3.topDocs(Query.Term("text", "alpha"), 10).map(h => (h.url, h.score)).toList
    val b = searcher.topDocs(Query.Term("text", "alpha"), 10).map(h => (h.url, h.score)).toList
    assert(a == b)
  }

  test("pagination (TopDocs::and_offset): pages tile the unpaged ranking") {
    val q = Query.should(Query.Term("text", "alpha"), Query.Term("text", "beta"))
    val full = searcher.topDocs(q, 30)
    assert(full.length == 30)
    val pages = Seq(0, 10, 20).flatMap(off => searcher.topDocs(q, 10, off))
    assert(pages.map(h => (h.url, h.score)).toList ==
      full.map(h => (h.url, h.score)).toList)
    // ranks number the page within the global ranking
    assert(pages.map(_.rank).toList == (1 to 30).toList)
    // an offset past the matches is empty, not an error
    val total = searcher.count(q).toInt
    assert(searcher.topDocs(q, 10, total).isEmpty)
  }
}
