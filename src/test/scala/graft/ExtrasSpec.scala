package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.{WebCorpus, WebDoc}
import graft.index.{IndexBuilder, IndexConfig, IndexManifest, PostingRow, SegmentMerger}
import graft.search._

class TokenizeExprSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("tantivy_tokenize expression matches the kernel analyzer (codegen path)") {
    import spark.implicits._
    graft.functions.TantivyTokenize.register(spark)
    val texts = Seq("Hello, happy tax payer!", "C'est déjà l'été 42",
      ("x" * 45) + " keep", "MiXeD CaSe tokens")
    val df = texts.toDF("text")
    val got = df.selectExpr("tantivy_tokenize(text) as toks").as[Seq[String]].collect()
    val expected = texts.map(t => graft.analysis.Analyzer.terms(t).toSeq)
    assert(got.toSeq == expected)
    // column API too
    val got2 = df.select(graft.functions.TantivyTokenize.tantivy_tokenize(col("text")))
      .as[Seq[String]].collect()
    assert(got2.toSeq == expected)
  }
}

class CompressionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("IndexConfig.compression selects the index parquet codec; results identical") {
    import spark.implicits._
    val docs = WebCorpus.generate(spark, 200L, 2)
    val q = Query.Term("text", "alpha")
    def build(codec: String): (String, Seq[(String, Float)]) = {
      val dir = s"/tmp/graft-codec-$codec-${System.nanoTime()}"
      IndexBuilder.build(spark, docs.toDF(), dir,
        IndexConfig(numPartitions = 2, compression = codec))
      val hits = new Searcher(spark, dir).topDocs(q, 10).map(h => (h.url, h.score)).toSeq
      (dir, hits)
    }
    val (zDir, zHits) = build("zstd")
    val (sDir, sHits) = build("snappy")
    def codecs(dir: String): Set[String] =
      new java.io.File(s"$dir/postings").listFiles().filter(_.isDirectory)
        .flatMap(_.listFiles()).map(_.getName).filter(_.endsWith(".parquet"))
        .map(n => n.split('.').takeRight(2).head).toSet
    assert(codecs(zDir) == Set("zstd"))
    assert(codecs(sDir) == Set("snappy"))
    assert(zHits == sHits && zHits.nonEmpty) // codec never changes results
    // a merge writes its segment with the codec the manifest records
    val m = IndexManifest.read(spark, zDir).get
    assert(m.compression == "zstd" && m.segments.size > 1)
    val merged = SegmentMerger.merge(spark, zDir, SegmentMerger.plan(m, m.segments.size))
    assert(merged.segments.size == 1)
    assert(codecs(zDir) == Set("zstd"))
    assert(new Searcher(spark, zDir).topDocs(q, 10).map(h => (h.url, h.score)).toSeq == zHits)
    // the manifest is the only home of segment metrics: neither a build
    // nor a merge writes a `__stats__` row
    for (dir <- Seq(zDir, sDir))
      assert(spark.read.parquet(s"$dir/postings").where(col("field") === PostingRow.StatsField).isEmpty)
  }
}

class MoreLikeThisSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("more-like-this retrieves the seed doc first") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mlt").toString
    val docs = WebCorpus.generate(spark, 300L, 3)
    IndexBuilder.build(spark, docs.toDF(), dir, IndexConfig(numPartitions = 2))
    val searcher = new Searcher(spark, dir)
    val seed = WebCorpus.genDoc(42L)
    val q = MoreLikeThis.query(searcher, "text", seed.text,
      MoreLikeThis.Config(minTermFreq = 1, minDocFreq = 1))
    assert(q != Query.Nothing)
    val hits = searcher.topDocs(q, 5)
    assert(hits.nonEmpty)
    assert(hits.head.url == seed.url, "seed doc should be its own best match")

    // full builder surface (more_like_this/query.rs:86-135): stop_words drop
    // seed terms; max_doc_frequency drops too-common terms; boost_factor
    // scales boosts uniformly (rank-invariant)
    def termsOf(q: Query): Set[String] = q match {
      case Query.Bool(legs, _) => legs.map(_._2).flatMap {
        case Query.Boost(Query.Term(_, t, _), _) => Some(t)
        case Query.Term(_, t, _) => Some(t)
        case _ => None
      }.toSet
      case _ => Set.empty
    }
    val base = termsOf(q)
    val stopped = termsOf(MoreLikeThis.query(searcher, "text", seed.text,
      MoreLikeThis.Config(minTermFreq = 1, minDocFreq = 1,
        stopWords = Set(base.head))))
    // the stopped term is gone; its max_query_terms slot admits one new term
    assert(!stopped.contains(base.head))
    assert((base - base.head).subsetOf(stopped) && (stopped -- base).size <= 1)
    val capped = MoreLikeThis.query(searcher, "text", seed.text,
      MoreLikeThis.Config(minTermFreq = 1, minDocFreq = 1, maxDocFreq = 3L))
    termsOf(capped).foreach { t =>
      assert(searcher.count(Query.Term("text", t)) <= 3L, t)
    }
    val boosted = MoreLikeThis.query(searcher, "text", seed.text,
      MoreLikeThis.Config(minTermFreq = 1, minDocFreq = 1, boostFactor = 2.0f))
    val bhits = searcher.topDocs(boosted, 5)
    assert(bhits.map(_.url).toSeq == hits.map(_.url).toSeq) // uniform scale: same ranking
  }
}

class SnippetsSpec extends AnyFunSuite {
  test("snippet highlights query terms in best window") {
    val text = "the quick brown fox jumps over the lazy dog while the fox watches"
    val s = Snippets.snippet(text, Set("fox", "dog"), 40)
    assert(s.contains("<b>fox</b>"))
    assert(s.length <= 40 + 7 * 4) // markup overhead
    assert(Snippets.snippet(text, Set("absent")) == text.take(150))
  }
}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming micro-batches append segments; searcher sees each commit") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-ckpt").toString
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WebDoc]
    val cfg = IndexConfig(numPartitions = 2)
    val query = graft.streaming.StreamingIndexer.start(mem.toDF(), dir, cfg, ckpt)
    try {
      mem.addData((0L until 100L).map(WebCorpus.genDoc): _*)
      query.processAllAvailable()
      val s1 = new Searcher(spark, dir)
      assert(s1.manifest.totalDocs == 100L)
      val c1 = s1.count(Query.Term("text", "alpha"))

      mem.addData((100L until 200L).map(WebCorpus.genDoc): _*)
      query.processAllAvailable()
      val s2 = new Searcher(spark, dir)
      assert(s2.manifest.totalDocs == 200L)
      assert(s2.manifest.commitSeq > s1.manifest.commitSeq)
      val expected = (0L until 200L).map(WebCorpus.genDoc)
        .count(d => graft.analysis.Analyzer.terms(d.text).contains("alpha"))
      assert(s2.count(Query.Term("text", "alpha")) == expected)
      assert(c1 <= expected)
    } finally query.stop()
  }

  test("streaming curate-then-index: gopher-filtered micro-batches reach segments") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-curated").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-curated-ckpt").toString
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WebDoc]
    def curate(b: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val withId = b.withColumn("doc_id", xxhash64(col("url")))
      val keep = graft.ops.PipelineOps.gopherQuality(withId)
        .where(col("keep")).select("doc_id")
      withId.join(keep, "doc_id").drop("doc_id")
    }
    val query = graft.streaming.StreamingIndexer.startCurated(
      mem.toDF(), dir, IndexConfig(numPartitions = 2), ckpt, curate)
    try {
      // prose with >=50 words, sane word lengths and >=2 distinct stop
      // words (the synthetic w-token corpus fails the Gopher stopword rule
      // by construction, which is itself the rule working)
      val clause = "the table holds data of many kinds and every row should " +
        "have some value with meaning"
      val good = (0 until 40).map { i =>
        WebDoc(s"u_good$i", new java.sql.Timestamp(1700000000000L + i * 1000L),
          Array.emptyByteArray, s"$clause $clause $clause $clause doc number $i", "en")
      }
      val junk = Seq("u_short" -> "tiny text", "u_short2" -> "x y",
        "u_ellipsis" -> Seq.fill(60)("word...").mkString(" "))
        .map { case (u, t) =>
          WebDoc(u, new java.sql.Timestamp(1700000000000L), Array.emptyByteArray, t, "en")
        }
      mem.addData(good ++ junk: _*)
      query.processAllAvailable()
      // expected = the BATCH op's verdict over the same rows
      val static = (good ++ junk).toDF().withColumn("doc_id", xxhash64(col("url")))
      val expectedUrls = static.join(
          graft.ops.PipelineOps.gopherQuality(static).where(col("keep")).select("doc_id"),
          "doc_id")
        .select("url").as[String].collect().toSet
      assert(expectedUrls.nonEmpty && expectedUrls.size < good.size + junk.size,
        "filter must be non-trivial in both directions")
      val s = new Searcher(spark, dir)
      val indexedUrls = s.docmapDF.select("url").as[String].collect().toSet
      assert(indexedUrls === expectedUrls)
      assert(!indexedUrls.contains("u_short") && !indexedUrls.contains("u_ellipsis"))
    } finally query.stop()
  }

  test("appendBatch rejects segment-id ranges that wrap past Int or overrun the stride") {
    import graft.streaming.StreamingIndexer
    val dir = java.nio.file.Files.createTempDirectory("graft-stride").toString
    val cfg = IndexConfig(numPartitions = 2)
    IndexBuilder.build(spark, WebCorpus.generate(spark, 60L, 2).toDF(), dir, cfg)
    val more = WebCorpus.generate(spark, 40L, 5).toDF()
      .withColumn("url", concat(lit("b-"), col("url")))
    // jobs of the "stride" group, counted up to a later marker job (the
    // listener bus delivers events in order)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup("stride", "rejected appends")
      // batch 4095's base (4096 * 2^20) wraps to 0: the ids the first
      // build committed, so the build would skip every segment
      intercept[IllegalArgumentException](StreamingIndexer.appendBatch(spark, more, dir, cfg, 4095L))
      intercept[IllegalArgumentException](StreamingIndexer.appendBatch(spark, more, dir, cfg, 2047L))
      // 257 x 4096 ids run past the 2^20 stride into batch 1's range
      intercept[IllegalArgumentException](StreamingIndexer.appendBatch(
        spark, more, dir, IndexConfig(numPartitions = 257), 0L))
      spark.sparkContext.setJobGroup("marker", "marker")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000L
      while (!seen.contains("marker") && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(seen.contains("marker"))
      assert(!seen.contains("stride"), "no Spark job may run before the range check")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(IndexManifest.read(spark, dir).get.totalDocs == 60L)
    // the last batch whose range fits still appends
    assert(StreamingIndexer.appendBatch(spark, more, dir, cfg, StreamingIndexer.MaxBatchId)
      .totalDocs == 100L)
  }

  test("streaming exact dedup: first occurrence per fingerprint survives batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WebDoc]
    def doc(url: String, secs: Long, text: String): WebDoc =
      WebDoc(url, new java.sql.Timestamp(1700000000000L + secs * 1000L),
        Array.emptyByteArray, text, "en")
    val q = graft.streaming.StreamingDedup.exactDedup(mem.toDF(), horizon = "10 minutes")
      .select("url")
      .writeStream.format("memory").queryName("sdedup").outputMode("append").start()
    try {
      // within-batch dup (u1/u2 same analyzed tokens — case/punct differ) + a fresh doc
      mem.addData(doc("u1", 0, "x y z"), doc("u2", 1, "X, y z!"), doc("u3", 2, "a b"))
      q.processAllAvailable()
      val b1 = spark.table("sdedup").as[String].collect().toSet
      assert(b1.size == 2 && b1.contains("u3") && (b1.contains("u1") || b1.contains("u2")))
      // cross-batch dup within the horizon dropped; fresh text emitted
      mem.addData(doc("u4", 3, "x y z"), doc("u5", 4, "fresh text"))
      q.processAllAvailable()
      val b2 = spark.table("sdedup").as[String].collect().toSet
      assert(b2 == b1 + "u5")
    } finally q.stop()
  }

  test("streaming fuzzy dedup: in-batch collapse, cross-batch screen, idempotent replay") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val surv = java.nio.file.Files.createTempDirectory("graft-fdedup").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fdedup-ckpt").toString
    // 10 tokens -> 8 shingles; one trailing-word swap changes exactly one
    // shingle (jaccard 7/9 = 0.78 >= 0.5)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def variant(last: String) =
      s"alpha beta gamma delta epsilon zeta eta theta iota $last"
    def survivors(): Set[Long] =
      spark.read.parquet(surv).select("doc_id").as[Long].collect().toSet
    val q = graft.streaming.StreamingDedup.minHashDedup(
      mem.toDF().toDF("doc_id", "text"), surv, ckpt, threshold = 0.5)
    try {
      // within-batch: 1 and 2 are near-dups (cluster collapses to min id 1)
      mem.addData((1L, base), (2L, variant("lambda")),
        (3L, "one two three four five six seven eight nine ten"))
      q.processAllAvailable()
      assert(survivors() == Set(1L, 3L))
      // cross-batch: 10 is a near-dup of surviving 1 -> dropped; 11 fresh
      mem.addData((10L, variant("mu")),
        (11L, "totally different words appear in this second document here"))
      q.processAllAvailable()
      assert(survivors() == Set(1L, 3L, 11L))
    } finally q.stop()
    // replay: re-running batch 1's append (same payload, same id) against
    // the final store rewrites only its own subdir — survivors unchanged
    graft.streaming.StreamingDedup.appendMinHashBatch(spark,
      Seq((10L, variant("mu")),
        (11L, "totally different words appear in this second document here"))
        .toDF("doc_id", "text"), surv, 1L, 0.5)
    assert(survivors() == Set(1L, 3L, 11L))
  }

  test("streaming sessionize: gap closes, event-time timeout flushes, late events merge") {
    import spark.implicits._
    import graft.streaming.{SessionEvent, StreamingSessionize}
    implicit val sq = spark.sqlContext
    val t0 = 1700000000000L
    val min = 60000L
    def ev(id: Long, user: Long, offMin: Long) =
      SessionEvent(id, new java.sql.Timestamp(t0 + offMin * min), user)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SessionEvent]
    val q = StreamingSessionize.sessions(mem.toDS())
      .writeStream.format("memory").queryName("ssess").outputMode("append").start()
    try {
      // batch A: u1 one running session (3 events out of order), u2 one event
      mem.addData(ev(1, 1, 0), ev(3, 1, 20), ev(2, 1, 10), ev(10, 2, 0))
      q.processAllAvailable()
      assert(spark.table("ssess").count() == 0) // nothing closed yet
      // batch B: u1 gap of 40 min > 30 closes session 1; u2 extends
      mem.addData(ev(4, 1, 60), ev(11, 2, 25))
      q.processAllAvailable()
      val afterB = spark.table("ssess")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
      assert(afterB == Set((1L, new java.sql.Timestamp(t0),
        new java.sql.Timestamp(t0 + 20 * min), 3L)))
      // batches C+D: far-future watermark pusher, then timeout pass
      mem.addData(ev(90, 99, 600))
      q.processAllAvailable()
      mem.addData(ev(91, 99, 601))
      q.processAllAvailable()
      val closed = spark.table("ssess")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect()
        .filter(_._1 != 99L).toSet
      assert(closed == Set(
        (1L, new java.sql.Timestamp(t0), new java.sql.Timestamp(t0 + 20 * min), 3L),
        (1L, new java.sql.Timestamp(t0 + 60 * min), new java.sql.Timestamp(t0 + 60 * min), 1L),
        (2L, new java.sql.Timestamp(t0), new java.sql.Timestamp(t0 + 25 * min), 2L)))
      // per-user session counts match the batch q_sessionize rule applied by hand
      assert(closed.groupBy(_._1).view.mapValues(_.size).toMap == Map(1L -> 2, 2L -> 1))
    } finally q.stop()
  }
}

class CurationExtraSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  test("recrawlDedup keeps the newest fetch per canonical url; ts ties -> lowest id") {
    import spark.implicits._
    def ts(h: Int) = new java.sql.Timestamp(1735689600000L + h * 3600000L)
    val rows = Seq(
      // page A: three fetches, latest at h=9
      (0L, "http://a.example/p?utm_source=x", ts(1)),
      (1L, "HTTP://A.example/p", ts(9)),
      (2L, "http://a.example/p#frag", ts(4)),
      // page B: two fetches TIED on ts -> lowest doc_id (3) wins
      (3L, "https://b.example/q/", ts(5)),
      (4L, "https://b.example/q", ts(5)),
      // page C: single fetch
      (5L, "https://c.example/r", ts(2)))
    val got = graft.ops.PipelineOps.recrawlDedup(
        rows.toDF("doc_id", "url", "warc_ts").repartition(5))
      .collect().map(r => r.getString(1) -> (r.getLong(0), r.getTimestamp(2), r.getLong(3)))
      .toMap
    assert(got.size === 3)
    assert(got("http://a.example/p") === ((1L, ts(9), 3L)))
    assert(got("https://b.example/q") === ((3L, ts(5), 2L)))
    assert(got("https://c.example/r") === ((5L, ts(2), 1L)))
  }

  test("stratifiedSampleExact: exact min(k, size) per stratum in JVM md5 order; invariant") {
    import spark.implicits._
    val rows = (0L until 200L).map(i => (i, s"s${i % 3}")) ++ Seq((999L, "tiny"))
    val df = rows.toDF("doc_id", "lang")
    val k = 10
    val got = graft.ops.PipelineOps.stratifiedSampleExact(df.repartition(7), "lang", k)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val md = java.security.MessageDigest.getInstance("MD5")
    def hk(id: Long): Long = java.lang.Long.parseLong(
      md.digest(s"$id#exact".getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 8), 16)
    val want = rows.groupBy(_._2).flatMap { case (_, xs) =>
      xs.sortBy { case (id, _) => (hk(id), id) }.take(k)
    }.toSet
    assert(got === want)
    val sizes = got.groupBy(_._2).map { case (s, xs) => s -> xs.size }
    assert(sizes === Map("s0" -> 10, "s1" -> 10, "s2" -> 10, "tiny" -> 1))
    val got2 = graft.ops.PipelineOps.stratifiedSampleExact(df.coalesce(1), "lang", k)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got2 === got)
  }

  test("readability matches the hand-computed Flesch formula incl. vowel-less words") {
    import spark.implicits._
    val docs = Seq(
      (0L, "The cat sat. The dog ran!"),           // 6 words, 2 sentences
      (1L, "xyz 7 rhythm"),                        // all vowel-less by the heuristic
      (2L, "reading ease scores measure comprehension difficulty precisely..."))
      .toDF("doc_id", "text")
    val got = graft.ops.PipelineOps.readability(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    def flesch(w: Long, s: Long, sy: Long): Double =
      math.rint((206.835 - 1.015 * (w.toDouble / s) - 84.6 * (sy.toDouble / w)) * 1e4) / 1e4
    // doc 0: words The/cat/sat./The/dog/ran! -> vowel groups e,a,a,e,o,a = 6
    assert(got(0L) === ((6L, 2L, 6L, flesch(6, 2, 6))))
    // doc 1: "rhythm" has y -> one vowel group; xyz has y too; "7" gets the +1 floor
    assert(got(1L) === ((3L, 1L, 3L, flesch(3, 1, 3))))
    val (w2, s2, sy2, f2) = got(2L)
    assert(w2 === 7L && s2 === 1L) // '...' is ONE terminal run
    assert(f2 === flesch(w2, s2, sy2))
  }
}

class GopherRepetitionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import graft.ops.PipelineOps

  /** Independent restatement of every Table-A1 metric over plain Scala
    * collections (lines, analyzer-token n-grams, integer permille).
    */
  private def oracle(text: String): (Seq[Long], Boolean) = {
    val totalChars = math.max(text.length, 1).toLong
    val lines = text.split("\n", -1).toSeq
    val lineCnt = lines.groupBy(identity).map { case (l, xs) => l -> xs.size }
    val dupLines = lineCnt.collect { case (_, n) if n >= 2 => n.toLong }.sum
    val dupLineChars = lineCnt.collect { case (l, n) if n >= 2 => n.toLong * l.length }.sum
    val m1 = dupLines * 1000 / lines.size
    val m2 = dupLineChars * 1000 / totalChars
    val toks = graft.analysis.Analyzer.terms(text).toSeq
    def grams(n: Int): Seq[String] = toks.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq
    val tops = (2 to 4).map { n =>
      val gc = grams(n).groupBy(identity).map { case (g, xs) => g -> xs.size }
      if (gc.isEmpty) 0L
      else {
        val (g, cnt) = gc.toSeq.minBy { case (g, cnt) => (-cnt, g) }
        cnt.toLong * g.length * 1000 / totalChars
      }
    }
    val dups = (5 to 10).map { n =>
      val gc = grams(n).groupBy(identity).map { case (g, xs) => g -> xs.size }
      gc.collect { case (g, cnt) if cnt >= 2 => cnt.toLong * g.length }.sum * 1000 / totalChars
    }
    val all = Seq(m1, m2) ++ tops ++ dups
    val limits = Seq(300L, 200L, 200L, 180L, 160L, 150L, 140L, 130L, 120L, 110L, 100L)
    (all, all.zip(limits).forall { case (v, lim) => v <= lim })
  }

  test("full Table-A1 battery matches an independent Scala restatement") {
    import spark.implicits._
    val loop = Seq.fill(6)("spam phrase repeats here").mkString(" ")
    val docs = Seq(
      (0L, "the quick brown fox\njumps over it\nthe quick brown fox\nanother line"),
      (1L, loop + "\n" + loop),                       // heavy n-gram + line dup
      (2L, ("the battery requires genuinely long prose where no short phrase " +
        "dominates because every single word shows up here only once and " +
        "character fractions therefore stay far beneath their thresholds today" +
        " additional unique vocabulary items keep arriving steadily throughout " +
        "ensuring adequate document length so that ratio denominators grow big " +
        "enough for realistic evaluation against production style criteria")),
      (3L, "x\nx\nx\nx"),                             // pure line dup, 1-token grams absent >=2
      (4L, "aa bb aa bb aa bb cc dd ee ff gg hh ii jj kk ll"))
      .toDF("doc_id", "text")
    val got = PipelineOps.gopherRepetition(docs).collect()
      .map { r =>
        r.getLong(0) -> ((1 to 11).map(r.getLong).toSeq, r.getBoolean(12))
      }.toMap
    for ((id, t) <- Seq(0L, 1L, 2L, 3L, 4L).zip(
        Seq("the quick brown fox\njumps over it\nthe quick brown fox\nanother line",
          loop + "\n" + loop,
          ("the battery requires genuinely long prose where no short phrase " +
        "dominates because every single word shows up here only once and " +
        "character fractions therefore stay far beneath their thresholds today" +
        " additional unique vocabulary items keep arriving steadily throughout " +
        "ensuring adequate document length so that ratio denominators grow big " +
        "enough for realistic evaluation against production style criteria"),
          "x\nx\nx\nx",
          "aa bb aa bb aa bb cc dd ee ff gg hh ii jj kk ll")).map(p => p)) {
      val (vals, keep) = oracle(t)
      val (gVals, gKeep) = got(id)
      assert(gVals === vals, s"doc $id metrics")
      assert(gKeep === keep, s"doc $id keep")
    }
    // directional sanity: the clean doc keeps, the spam loop doesn't
    assert(got(2L)._2 === true)
    assert(got(1L)._2 === false)
  }

  test("battery fuzz: random repetitive texts match the restatement") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val pool = Seq("alpha", "beta", "gamma", "delta", "the", "of", "spam")
    val docs = (0L until 60L).map { i =>
      val nLines = 1 + rnd.nextInt(5)
      val lines = Seq.fill(nLines) {
        val n = rnd.nextInt(25)
        Seq.fill(n)(pool(rnd.nextInt(pool.size))).mkString(" ")
      }
      // duplicate a random line sometimes; empty lines occur (n = 0)
      val withDup = if (nLines > 1 && rnd.nextBoolean()) lines :+ lines(rnd.nextInt(nLines))
        else lines
      (i, withDup.mkString("\n"))
    }
    val got = PipelineOps.gopherRepetition(docs.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((1 to 11).map(r.getLong).toSeq, r.getBoolean(12))).toMap
    for ((id, t) <- docs) {
      val (vals, keep) = oracle(t)
      assert(got(id)._1 === vals, s"doc $id")
      assert(got(id)._2 === keep, s"doc $id keep")
    }
  }
}
