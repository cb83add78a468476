package graft.tools

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.corpus.WebCorpus

/** Drives the spark-submit CLI surface through `IndexCli.run` end to end:
  * build from a Parquet source, then query/count/aggregate/stats against
  * the built index, asserting on the printed output.
  */
class IndexCliSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private def capture(args: String*): String = {
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
      IndexCli.run(spark, args.toArray)
    }
    bos.toString("UTF-8")
  }

  test("build / count / search / aggregate / stats drive one index") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-cli-src").toString + "/docs"
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-idx").toString + "/index"
    (0L until 300L).map(WebCorpus.genDoc).toDF()
      .write.mode("overwrite").parquet(src)

    val built = capture("build", src, dir, "2")
    assert(built.contains("committed seq=") && built.contains("300 docs"))

    val counted = capture("count", dir, "alpha OR beta")
    val n = counted.trim.linesIterator.toSeq.last.trim.toLong
    assert(n > 0 && n <= 300)

    val searched = capture("search", dir, "+alpha", "+beta")
    assert(searched.linesIterator.exists(_.contains("https://")))

    // --stats prints this call's segment-read counters after the same hits;
    // a repeated search is served by the readers the first one decoded
    def withStats() = capture("search", dir, "--stats", "+alpha", "+beta").linesIterator.toSeq
    def stat(lines: Seq[String], name: String) =
      lines.last.split(' ').collectFirst { case kv if kv.startsWith(s"$name=") => kv.drop(name.length + 1).toLong }.get
    val first = withStats()
    assert(first.init == searched.linesIterator.toSeq && first.last.startsWith("stats: "))
    assert(stat(first, "files") > 0 && stat(first, "rows") > 0 && stat(first, "cachedBytes") > 0)
    val again = withStats()
    assert(again.init == first.init)
    assert(stat(again, "opens") == 0 && stat(again, "decodes") == 0 && stat(again, "files") == stat(first, "files"))

    val agg = capture("aggregate", dir, "alpha", """{"langs": {"terms": {"field": "lang"}}}""")
    assert(agg.contains("\"langs\"") && agg.contains("\"doc_count\""),
      s"unexpected aggregate output: $agg")

    val stats = capture("stats", dir)
    assert(stats.contains("docs=300") && stats.contains("total index bytes"))

    // dictionary walk: term + global doc freq, the prefix's first 50 terms
    val terms = capture("terms", dir, "text", "al").trim.linesIterator.toSeq
      .map(_.trim.split("\\s+", 2)).map(a => (a(1), a(0).toLong))
    val ref = spark.read.parquet(s"$dir/postings")
      .where($"field" === "text" && $"term".startsWith("al"))
      .groupBy("term").agg(org.apache.spark.sql.functions.sum("docFreq"))
      .orderBy("term").limit(50)
      .as[(String, Long)].collect().toSeq
    assert(terms.nonEmpty && terms == ref)
  }
}
