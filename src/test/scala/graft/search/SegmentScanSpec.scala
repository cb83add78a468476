package graft.search

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.graftshim.ScanShim
import graft.TestSpark
import graft.corpus.WebCorpus
import graft.index.{IndexBuilder, IndexConfig, SegmentFiles}

/** The segment scan behind every kernel-running call: its metrics (the
  * node's and the tasks' input metrics) change no result, repeat from run
  * to run and agree with the reader's own row count; an index of no
  * segment is a scan of no task; and every query-shard count gives the
  * same results.
  */
class SegmentScanSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private lazy val dir = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-scan").toString
    IndexBuilder.build(spark, (0L until 400L).map(WebCorpus.genDoc).toDF(), d, IndexConfig(numPartitions = 4))
    d
  }

  private val qs: Seq[Query] = Seq(Query.Term("text", "alpha"),
    Query.must(Query.Term("text", "alpha"), Query.Term("text", "beta")),
    Query.should(Query.Term("text", "beta"), Query.Term("text", "gamma"), Query.Term("text", "delta")),
    Query.Phrase("text", Seq("alpha", "beta")), Query.Prefix("text", "ga"),
    Query.Term("text", "zzzmissing"), Query.All)

  private def bits(hs: Array[SearchHit]) = hs.map(h => (h.url, java.lang.Float.floatToRawIntBits(h.score))).toList
  private def fingerprint(s: Searcher) =
    (qs.map(q => bits(s.topDocs(q, 7))), qs.map(s.count), s.batchTopDocs(qs, 5).map(bits), s.batchCount(qs))

  /** Input metrics (records, bytes) of the tasks `body` ran, summed. */
  private def inputOf[T](body: => T): (T, (Long, Long)) = {
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach(m =>
        recs.add((m.inputMetrics.recordsRead, m.inputMetrics.bytesRead)))
    }
    ScanShim.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      ScanShim.drainListeners(spark.sparkContext)
      (out, recs.toArray(Array.empty[(Long, Long)]).foldLeft((0L, 0L))((a, r) => (a._1 + r._1, a._2 + r._2)))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("scan metrics change no result, repeat across runs and match the reader's row count") {
    val off = fingerprint(new Searcher(spark, dir))
    def traced() = inputOf(SegmentScan.executedDuring(spark)(fingerprint(new Searcher(spark, dir))))
    val ((on, qes1), in1) = traced()
    val ((again, qes2), in2) = traced()
    assert(on == off && again == off)
    val (m1, m2) = (SegmentScan.metricsOf(qes1.map(_.executedPlan)), SegmentScan.metricsOf(qes2.map(_.executedPlan)))
    // work counts repeat exactly; opens and decodes depend on the cache
    assert(m1("rows") > 0 && m1("bytes") > 0)
    assert((m1("rows"), m1("bytes")) == ((m2("rows"), m2("bytes"))))
    assert(in1 == in2 && in1 == ((m1("rows"), m1("bytes"))))
    assert(m2("opens") == 0 && m2("decodes") == 0)

    // one topDocs with its planning memoized: its tasks' records are the
    // rows the segment reads returned (posting rows and url rows)
    val s = new Searcher(spark, dir)
    val q = Query.must(Query.Term("text", "alpha"), Query.Term("text", "beta"))
    s.topDocs(q, 10)
    val before = SegmentFiles.Counters.rows.get
    val (_, (records, bytes)) = inputOf(s.topDocs(q, 10))
    assert(records > 0 && bytes > 0)
    assert(records == SegmentFiles.Counters.rows.get - before)

    // a task that computes every partition counts each partition's reads once
    val matches = s.allMatches(q)
    val (_, qes3) = SegmentScan.executedDuring(spark)(matches.collect())
    val (_, qes4) = SegmentScan.executedDuring(spark)(matches.coalesce(1).collect())
    val (m3, m4) = (SegmentScan.metricsOf(qes3.map(_.executedPlan)), SegmentScan.metricsOf(qes4.map(_.executedPlan)))
    assert(m3("rows") > 0 && (m4("rows"), m4("bytes")) == ((m3("rows"), m3("bytes"))))
  }

  test("an index of no segment is a scan of no task: no hits, count 0") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-scan-empty").toString
    val m = IndexBuilder.build(spark, Seq.empty[(String, String)].toDF("url", "text"), d,
      IndexConfig(numPartitions = 2))
    assert(m.segments.isEmpty)
    val s = new Searcher(spark, d)
    var tasks = 0
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks += 1
    }
    ScanShim.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    val ((hits, n, all), qes) = try SegmentScan.executedDuring(spark)(
      (s.topDocs(Query.All, 10), s.count(Query.All), s.allMatches(Query.All).collect()))
    finally { ScanShim.drainListeners(spark.sparkContext); spark.sparkContext.removeSparkListener(l) }
    assert(hits.isEmpty && n == 0L && all.isEmpty)
    val scans = qes.flatMap(_.executedPlan.collect { case e: SegmentScanExec => e })
    assert(scans.size == 3 && scans.forall(_.execute().getNumPartitions == 0))
    assert(tasks == 0)
  }

  test("every query-shard count from 1 to 8 gives the same urls, f32 bits and counts") {
    val s = new Searcher(spark, dir)
    def run(n: Int) = TestSpark.withConf("spark.graft.queryShards" -> n.toString) {
      val (out, qes) = SegmentScan.executedDuring(spark)((s.batchTopDocs(qs, 10).map(bits), s.batchCount(qs),
        qs.map(q => bits(s.topDocs(q, 10))), s.allMatches(qs(2)).collect().toSeq.sortBy(_.toString)))
      val parts = qes.flatMap(_.executedPlan.collect { case e: SegmentScanExec => e.spec.numPartitions })
      (out, parts)
    }
    val (base, _) = run(1)
    val nSeg = new Searcher(spark, dir).manifest.segments.size
    for (n <- 2 to 8) {
      val (out, parts) = run(n)
      assert(out == base, s"$n shards")
      // a batch splits into one shard per query at most; the missing term
      // cannot match and takes no shard
      val live = qs.size - 1
      assert(parts.take(2) == Seq.fill(2)(nSeg * math.min(n, live)), s"$n shards: $parts")
    }
  }
}
