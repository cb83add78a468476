package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.index.{IndexBuilder, IndexConfig, PostingRow, SegmentFiles}
import graft.search._

/** The driver-side dictionary walk (term expansion and doc freqs read from
  * the segment files) equals the Spark SQL definition it replaces:
  * `where(field && pred).select(term).distinct.orderBy(term).limit(max)`
  * over the index's postings table, and `groupBy(field, term).sum(docFreq)`.
  * The vocabulary mixes ASCII with a supplementary-plane character (U+20000)
  * and one in U+E000–U+FFFF (U+FF46), the pair on which UTF-16 and UTF-8
  * order disagree.
  */
class DictionarySpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private val sup = "\uD840\uDC00" // U+20000: UTF-16 surrogates, UTF-8 F0 A0 80 80
  private val hi = "\uFF46"         // U+FF46: UTF-8 EF BD 86
  private val vocab = Seq("a", "ab", "abc", "abd", "acb", s"a${hi}b", s"a${sup}b", s"a${hi}c",
    s"a${sup}c", "b", "ba", "bac", "cab", "zeta", "zeal", s"${sup}x", s"${hi}x", "é", "éa",
    "ἀβ", "x|y")

  private lazy val dir = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-dict").toString
    // every term in a few docs, spread over 3 segments with uneven doc freqs
    val docs = vocab.zipWithIndex.flatMap { case (t, i) =>
      (0 to i % 4).map(j => (s"u$i-$j", (Seq(t) ++ Seq.fill(j)(vocab((i + j) % vocab.size))).mkString(" ")))
    }
    IndexBuilder.build(spark, docs.toDF("url", "text"), d,
      IndexConfig(numPartitions = 3, textAnalyzer = "whitespace"))
    d
  }
  private lazy val searcher = new Searcher(spark, dir)

  private def reference(pred: Column, max: Int = 1024): Seq[String] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/postings")
      .where(col("field") === "text" && pred)
      .select("term").distinct().orderBy("term").limit(max)
      .as[String].collect().toSeq
  }

  private def regex(p: String): Column = col("term").rlike(s"^(?:$p)$$")
  private def lev(t: String, d: Int): Column = expr(s"levenshtein(term, '$t') <= $d")

  test("UTF-8 order of the comparator matches Spark SQL's string order") {
    import spark.implicits._
    val sorted = vocab.toDF("t").orderBy("t").as[String].collect().toSeq
    assert(vocab.sorted(SegmentFiles.Utf8Order) == sorted)
    assert(SegmentFiles.compareUtf8(s"a${hi}b", s"a${sup}b") < 0)
    assert(s"a${hi}b".compareTo(s"a${sup}b") > 0) // UTF-16 order disagrees
  }

  test("prefix walks, with and without the cap, equal the SQL walk") {
    for (p <- Seq("a", "ab", s"a$hi", s"a$sup", sup, "é", "q", ""); max <- Seq(1024, 2, 5)) {
      assert(searcher.dictionaryTerms(Query.Prefix("text", p, max)) ==
        reference(col("term").startsWith(p), max), s"prefix '$p' max $max")
    }
  }

  test("regex walks equal the SQL walk: literal prefix, none, top-level alternation") {
    for (p <- Seq("a.*", "ab.", s"a$hi.", s"a.c", ".*b", ".*", "ze.*|b", "a(b|c).*", "x\\|y", "é.?")) {
      assert(searcher.dictionaryTerms(Query.Regexp("text", p)) == reference(regex(p)), s"regex '$p'")
    }
  }

  test("fuzzy walks equal the SQL walk (plain, transpositions, prefix flag)") {
    for (t <- Seq("abc", s"a${sup}b", s"a${hi}b", "bca", "zeat"); d <- Seq(1, 2)) {
      assert(searcher.dictionaryTerms(Query.Fuzzy("text", t, d)) == reference(lev(t, d)),
        s"fuzzy '$t' d=$d")
      assert(searcher.dictionaryTerms(Query.Fuzzy("text", t, d, prefix = true)) ==
        reference(col("term").startsWith(t) || lev(t, d)), s"fuzzy prefix '$t' d=$d")
      val osa = reference(lev(t, 2 * d)).filter(x => Searcher.osaDistance(x, t) <= d)
      assert(searcher.dictionaryTerms(Query.Fuzzy("text", t, d, transpositionCostOne = true)) ==
        osa, s"fuzzy transp '$t' d=$d")
      val osaPre = reference(col("term").startsWith(t) || lev(t, 2 * d))
        .filter(x => x.startsWith(t) || Searcher.osaDistance(x, t) <= d)
      assert(searcher.dictionaryTerms(
        Query.Fuzzy("text", t, d, prefix = true, transpositionCostOne = true)) == osaPre,
        s"fuzzy transp prefix '$t' d=$d")
    }
  }

  test("open and closed term ranges equal the SQL walk") {
    val bounds = Seq(None, Some("a"), Some("ab"), Some(s"a$hi"), Some(s"a${hi}c"), Some(s"a$sup"),
      Some("b"), Some(sup), Some(hi))
    for (lo <- bounds; hiB <- bounds; li <- Seq(true, false); hie <- Seq(true, false)) {
      val pred = Seq(
        lo.map(v => if (li) col("term") >= v else col("term") > v),
        hiB.map(v => if (hie) col("term") <= v else col("term") < v)).flatten
        .foldLeft(lit(true))(_ && _)
      assert(searcher.dictionaryTerms(Query.TermRange("text", lo, hiB, li, hie)) == reference(pred),
        s"range $lo..$hiB ($li, $hie)")
    }
  }

  test("doc freqs equal the groupBy-sum reference, absent terms 0") {
    val terms = (vocab ++ Seq("nope", s"${sup}y")).map("text" -> _).toSet +
      ("url" -> "u3-1") + ("nofield" -> "a")
    val ref = spark.read.parquet(s"$dir/postings")
      .where(col("field") =!= PostingRow.DocField)
      .groupBy("field", "term").agg(sum("docFreq"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val fresh = new Searcher(spark, dir)
    val dfs = fresh.docFreqs(terms)
    terms.foreach(t => assert(dfs(t) == ref.getOrElse(t, 0L), s"df of $t"))
    assert(vocab.forall(t => dfs("text" -> t) > 0))
  }

  test("a batch's expansions and literal terms are answered in one pass over the files") {
    val fresh = new Searcher(spark, dir)
    val qs = Seq(Query.Prefix("text", "a"), Query.Regexp("text", ".*b"),
      Query.Fuzzy("text", "zeat", 1), Query.TermRange("text", Some("b"), None),
      Query.Term("text", "cab"), Query.PhrasePrefix("text", Seq("ab", "ze")))
    val nFiles = new java.io.File(s"$dir/postings").listFiles.filter(_.isDirectory)
      .map(_.listFiles.count(f => f.getName.endsWith(".parquet"))).sum
    val before = SegmentFiles.Counters.files.get
    fresh.planAll(qs)
    assert(SegmentFiles.Counters.files.get - before == nFiles)
    // a planned term's doc freq is memoized: planning it again reads nothing
    val again = SegmentFiles.Counters.files.get
    fresh.planAll(Seq(Query.Term("text", "cab")))
    assert(SegmentFiles.Counters.files.get == again)
    // each walk keeps only its own matches of the shared read
    assert(fresh.batchCount(qs) == qs.map(q => new Searcher(spark, dir).count(q)))
  }
}
