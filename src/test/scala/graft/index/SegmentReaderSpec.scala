package graft.index

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.search.{Query, Searcher}
import SegmentFiles._

/** The cached segment reader answers every clause kind with exactly the
  * rows, in exactly the order, of the pruned decode it replaces; repeated
  * queries open no file; a budget below one file falls back to the pruned
  * decode; a budget below the index keeps what fits and evicts nothing a
  * query reads again; a file rewritten in place is never served stale. The vocabulary
  * is DictionarySpec's (a supplementary-plane character and one in
  * U+E000–U+FFFF, where UTF-16 and UTF-8 order disagree), and the index
  * holds a merged segment of several files beside the segments it
  * merged. Readers of files a merge deleted leave the cache when the
  * index is listed again, or when a scan task of a searcher that listed it
  * before they were deleted runs.
  */
class SegmentReaderSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private def conf = spark.sparkContext.hadoopConfiguration

  private val sup = "\uD840\uDC00" // U+20000: UTF-16 surrogates, UTF-8 F0 A0 80 80
  private val hi = "\uFF46"         // U+FF46: UTF-8 EF BD 86
  private val vocab = Seq("a", "ab", "abc", "abd", "acb", s"a${hi}b", s"a${sup}b", s"a${hi}c",
    s"a${sup}c", "b", "ba", "bac", "cab", "zeta", "zeal", s"${sup}x", s"${hi}x", "é", "éa",
    "ἀβ", "x|y")

  private def build(): (String, IndexManifest) = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-reader").toString
    val docs = vocab.zipWithIndex.flatMap { case (t, i) =>
      (0 to i % 4).map(j => (s"u$i-$j", (Seq(t) ++ Seq.fill(j)(vocab((i + j) % vocab.size))).mkString(" ")))
    }
    (d, IndexBuilder.build(spark, docs.toDF("url", "text"), d,
      IndexConfig(numPartitions = 3, textAnalyzer = "whitespace")))
  }

  /** Pre-merge segments and the merged one, whose rows span several files. */
  private lazy val (dir, segments) = {
    val (d, m1) = build()
    // one merge task per shuffle partition, so the merged segment is
    // written as several files (small merges coalesce to one task)
    val m2 = TestSpark.withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false")(
      SegmentMerger.merge(spark, d, SegmentMerger.plan(m1, 4), keepOld = true))
    val segs = SegmentFiles.list(conf, d, m1.segmentIds ++ m2.segmentIds)
    assert(segs.last.files.size > 1, "the merged segment spans several files")
    (d, segs)
  }

  private def key(r: PostingRow) = (r.segment, r.field, r.term, r.docFreq, r.totalTf,
    Option(r.postings).map(_.toSeq), Option(r.skip).map(_.toSeq), Option(r.positions).map(_.toSeq))
  private def cached(s: SegmentFiles, cols: Seq[String], cs: Seq[Clause]) = s.rows(conf, cols, cs).map(key).toSeq
  private def pruned(s: SegmentFiles, cols: Seq[String], cs: Seq[Clause]) =
    SegmentReader.withBudget(0L)(cached(s, cols, cs))
  private def opens[T](body: => T): (T, Long) = {
    val before = Counters.opens.get
    val out = body
    (out, Counters.opens.get - before)
  }

  private val bounds = Seq(None, Some("a"), Some("ab"), Some(s"a$hi"), Some(s"a${hi}c"), Some(s"a$sup"),
    Some("b"), Some(sup), Some(hi))
  private val clauseSets: Seq[Seq[Clause]] =
    Seq(Seq(Terms("text", Set("a", "abc", s"a${sup}b", s"${hi}x", "é", "nope", s"${sup}y"))),
      Seq(Terms("url", Set("u3-1", "u0-0")))) ++
    Seq("a", "ab", s"a$hi", s"a$sup", sup, "é", "", "zz").map(p => Seq(Prefix("text", p))) ++
    (for (lo <- bounds; h <- bounds; li <- Seq(true, false); hie <- Seq(true, false))
      yield Seq(Range("text", lo, h, li, hie))) ++
    Seq(Seq(AllOf("text")), Seq(AllOf(PostingRow.NormsField)), Seq(AllOf("nofield")),
      Seq(Docs(Set(0, 1, 5, 7, 999))),
      // overlapping clauses return each row once, in file order
      Seq(Terms("text", Set("ab", "b")), Prefix("text", "a"), Range("text", Some("b"), Some("c"), true, true),
        Docs(Set(2, 3)), AllOf(PostingRow.NormsField)))

  test("every clause kind reads the pruned decode's rows in its order; parts decode once") {
    val reads = for (s <- segments; cols <- Seq(DictColumns, KernelColumns, DocColumns); cs <- clauseSets)
      yield (s, cols, cs)
    val docIds = Set(0, 1, 999)
    val (want, wantUrls) = SegmentReader.withBudget(0L)(
      (reads.map { case (s, cols, cs) => cached(s, cols, cs) }, segments.map(_.urls(conf, docIds))))
    val nFiles = segments.map(_.files.size).sum
    // the dictionary decodes at first touch, the blobs at the first read
    // projecting them, then nothing opens again
    val (_, dictOpens) = opens(segments.foreach(_.rows(conf, DictColumns, Seq(AllOf("text")))))
    assert(dictOpens == nFiles)
    val (_, blobOpens) = opens(segments.foreach(_.rows(conf, KernelColumns, Seq(AllOf("text")))))
    assert(blobOpens == nFiles)
    reads.zip(want).foreach { case ((s, cols, cs), rows) =>
      val (got, n) = opens(cached(s, cols, cs))
      assert(n == 0, s"cached read of segment ${s.segment} opened a file")
      assert(got == rows, s"segment ${s.segment} $cols $cs")
    }
    assert(want.exists(_.nonEmpty) && want.exists(_.isEmpty))
    assert(opens(segments.map(_.urls(conf, docIds))) == ((wantUrls, 0L)))
  }

  private val qs = Seq(Query.Term("text", "a"), Query.Prefix("text", "a"),
    Query.TermRange("text", Some("b"), Some(s"a$sup"), true, false), Query.Regexp("text", ".*b"),
    Query.must(Query.Term("text", "ab"), Query.Term("text", "abc")), Query.Fuzzy("text", "zeat", 1))
  private def fingerprint(s: Searcher) =
    (qs.map(q => s.topDocs(q, 5).map(h => (h.url, java.lang.Float.floatToRawIntBits(h.score))).toList),
      qs.map(s.count), s.batchTopDocs(qs, 5).map(_.map(h =>
        (h.url, java.lang.Float.floatToRawIntBits(h.score))).toList), s.batchCount(qs))

  test("repeated topDocs / count / batchTopDocs open no file; the pruned path agrees bit for bit") {
    for (snapshot <- Seq(Some(1L), None)) {
      def open() = snapshot.fold(new Searcher(spark, dir))(Searcher.atSnapshot(spark, dir, _))
      val first = fingerprint(open())
      val (again, n) = opens(fingerprint(open()))
      assert(n == 0, s"a repeated query opened $n files")
      assert(again == first)
      val (slow, m) = opens(SegmentReader.withBudget(0L)(fingerprint(open())))
      assert(m > 0)
      assert(slow == first)
    }
  }

  test("a budget below the index keeps the files that fit and reads the rest pruned, evicting none") {
    // the pre-merge segments (one file each), then the merged one
    def run() = (fingerprint(Searcher.atSnapshot(spark, dir, 1L)), fingerprint(new Searcher(spark, dir)))
    // every read pruned; the first run also reads each footer
    val (want, prunedOpens) = SegmentReader.withBudget(0L) { run(); opens(run()) }
    val whole = SegmentReader.withBudget(Long.MaxValue) { run(); Counters.cachedBytes.get }
    val budget = whole / 2
    SegmentReader.withBudget(budget) {
      assert(run() == want)
      val held = Counters.cachedBytes.get
      assert(held > 0 && held <= budget)
      val decodes = Counters.decodes.get
      val (again, n1) = opens(run())
      val (third, n2) = opens(run())
      assert(again == want && third == want)
      // the same reads go pruned each time, and nothing is decoded again
      assert(n1 == n2 && n1 > 0 && n1 < prunedOpens, s"$n1 $n2 of $prunedOpens")
      assert(Counters.decodes.get == decodes)
      assert(Counters.cachedBytes.get == held && SegmentReader.resident == held)
    }
  }

  test("a file that does not fit waits for an idle reader; an idle one is evicted for it") {
    def touch(s: SegmentFiles) = opens(cached(s, KernelColumns, Seq(AllOf("text"))))
    def size(s: SegmentFiles) = SegmentReader.withBudget(Long.MaxValue) { touch(s); Counters.cachedBytes.get }
    // two one-file segments, the larger first; the budget holds either, not both
    val Seq((a, sa), (b, sb)) = segments.filter(_.files.size == 1).take(2).map(s => (s, size(s)))
      .sortBy(-_._2)
    val (wantA, wantB) = (pruned(a, KernelColumns, Seq(AllOf("text"))), pruned(b, KernelColumns, Seq(AllOf("text"))))
    SegmentReader.withBudget(sa) {
      assert(touch(a)._1 == wantA && SegmentReader.resident == sa)
      // a is in use: b is read pruned, a stays
      assert(touch(b)._1 == wantB && touch(b)._1 == wantB && SegmentReader.resident == sa)
      assert(touch(a) == ((wantA, 0L)))
    }
    // every reader but the one reading counts as idle: each file evicts the other
    SegmentReader.withBudget(sa, idle = 0L) {
      touch(a)
      assert(touch(b)._1 == wantB && SegmentReader.resident == sb && Counters.cachedBytes.get == sb)
      assert(touch(b) == ((wantB, 0L)))
      val (again, n) = touch(a)
      assert(again == wantA && n > 0 && SegmentReader.resident == sa && Counters.cachedBytes.get == sa)
    }
  }

  test("a merge's dropped files leave the cache at the next listing; the new files stay decoded") {
    val (d, m) = build()
    def query() = fingerprint(new Searcher(spark, d))
    val (held, merged, want) = SegmentReader.withBudget(Long.MaxValue) {
      query()
      val merged = SegmentMerger.merge(spark, d, SegmentMerger.plan(m, 4), keepOld = false)
      val first = query()
      val (again, n) = opens(query())
      assert(again == first && n == 0, s"a repeated query opened $n files")
      (SegmentReader.resident, merged, first)
    }
    assert(merged.segmentIds.intersect(m.segmentIds).isEmpty)
    // the same queries on a fresh cache decode exactly the new files' parts
    val fresh = SegmentReader.withBudget(Long.MaxValue) { assert(query() == want); SegmentReader.resident }
    assert(held == fresh && held > 0)
  }

  test("a scan task drops readers of files deleted after its searcher listed the index") {
    val (d, m) = build()
    val (held, want) = SegmentReader.withBudget(Long.MaxValue) {
      fingerprint(new Searcher(spark, d))
      SegmentMerger.merge(spark, d, SegmentMerger.plan(m, 4), keepOld = true)
      // s lists while the merged-away files are still on disk: their readers stay
      val s = new Searcher(spark, d)
      val first = fingerprint(s)
      Snapshots.expire(spark, d, keepLast = 1)
      assert(m.segmentIds.forall(id => !new java.io.File(s"$d/postings/segment=$id").exists))
      // s lists no more; its kernel tasks drop the deleted files' readers
      assert(fingerprint(s) == first)
      (SegmentReader.resident, first)
    }
    val fresh = SegmentReader.withBudget(Long.MaxValue) {
      assert(fingerprint(new Searcher(spark, d)) == want)
      SegmentReader.resident
    }
    assert(held == fresh && held > 0)
  }

  test("a segment file rewritten at the same path is never served stale") {
    val (d, m) = build()
    val Seq(a, b) = SegmentFiles.list(conf, d, m.segmentIds.take(2))
    val before = cached(a, KernelColumns, Seq(AllOf("text")))
    // b's file (and its checksum) copied over a's, with a later mtime
    val (src, dst) = (new java.io.File(new java.net.URI(b.files.head.path)),
      new java.io.File(new java.net.URI(a.files.head.path)))
    def crc(f: java.io.File) = new java.io.File(f.getParentFile, s".${f.getName}.crc")
    Seq(src -> dst, crc(src) -> crc(dst)).filter(_._1.exists).foreach { case (from, to) =>
      java.nio.file.Files.copy(from.toPath, to.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    assert(dst.setLastModified(a.files.head.mtime + 60000L))
    val Seq(rewritten) = SegmentFiles.list(conf, d, Seq(a.segment))
    assert(rewritten.files.map(_.path) == a.files.map(_.path))
    val after = cached(rewritten, KernelColumns, Seq(AllOf("text")))
    assert(after != before)
    assert(after == pruned(rewritten, KernelColumns, Seq(AllOf("text"))))
    assert(after.map(_.copy(_1 = b.segment)) == cached(b, KernelColumns, Seq(AllOf("text"))))
  }
}
