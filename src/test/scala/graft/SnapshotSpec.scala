package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.WebCorpus
import graft.index.{IndexBuilder, IndexConfig, IndexManifest, SegmentMerger, Snapshots}
import graft.search._

/** Iceberg-style snapshot log: time travel, reader isolation across merges
  * with `keepOld = true`, and `expire` reclaiming unreferenced segments.
  */
class SnapshotSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private val queries: Seq[Query] = Seq(
    Query.Term("text", "alpha"),
    Query.must(Query.Term("text", "alpha"), Query.Term("text", "beta")),
    Query.Phrase("text", Seq("alpha", "beta")))

  private def hits(s: Searcher): Seq[List[(String, Float)]] =
    queries.map(q => s.topDocs(q, 10).map(h => (h.url, h.score)).toList)

  test("snapshot log, time travel, reader isolation across merge, expire") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val docs = WebCorpus.generate(spark, 400L, 3)
    val m1 = IndexBuilder.build(spark, docs.toDF(), dir, IndexConfig(numPartitions = 4))
    assert(m1.commitSeq == 1L)
    assert(Snapshots.list(spark, dir) == Seq(1L))

    val preMerge = new Searcher(spark, dir) // opened BEFORE the merge commit
    val baseline = hits(preMerge)
    val baseCounts = queries.map(preMerge.count)

    // snapshot-retention merge: old segment files stay on disk
    val m2 = SegmentMerger.merge(spark, dir, SegmentMerger.plan(m1, 4), keepOld = true)
    assert(m2.commitSeq == 2L)
    assert(m2.segments.size == 1)
    assert(Snapshots.list(spark, dir) == Seq(1L, 2L))

    // the pre-merge reader keeps answering identically (its manifest pins the
    // scan to the old segment set; the files were retained)
    assert(hits(preMerge) == baseline)
    assert(queries.map(preMerge.count) == baseCounts)

    // a current reader sees the merged index with identical results — and
    // must NOT double-count the retained old segments
    val current = new Searcher(spark, dir)
    assert(current.manifest.commitSeq == 2L)
    assert(hits(current) == baseline)
    assert(queries.map(current.count) == baseCounts)

    // time travel to commit 1 reproduces the pre-merge view exactly
    val travel = Searcher.atSnapshot(spark, dir, 1L)
    assert(travel.manifest.segmentIds == m1.segmentIds)
    assert(hits(travel) == baseline)

    // expire: keep only the latest snapshot; the merged-away segment dirs and
    // the old history entry disappear, the current reader is unaffected
    val (mDel, sDel) = Snapshots.expire(spark, dir, keepLast = 1)
    assert(mDel == 1)
    assert(sDel == m1.segments.size)
    assert(Snapshots.list(spark, dir) == Seq(2L))
    assert(Snapshots.readAt(spark, dir, 1L).isEmpty)
    val post = new Searcher(spark, dir)
    assert(hits(post) == baseline)
    intercept[IllegalStateException](Searcher.atSnapshot(spark, dir, 1L))
  }

  test("kernel tasks read only their manifest's segment files; merged segments are multi-file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-files").toString
    val docs = WebCorpus.generate(spark, 400L, 3)
    val m1 = IndexBuilder.build(spark, docs.toDF(), dir, IndexConfig(numPartitions = 4))
    val batch = queries ++ Seq(Query.Prefix("text", "al"),
      Query.Fuzzy("text", "alpah", 1, transpositionCostOne = true),
      Query.should(Query.Term("text", "alpha"), Query.Term("text", "beta")))
    def fingerprint(s: Searcher) =
      (s.batchTopDocs(batch, 10).map(_.map(h =>
        (h.url, java.lang.Float.floatToRawIntBits(h.score))).toList), s.batchCount(batch))
    val base = fingerprint(new Searcher(spark, dir))

    // one merge task per shuffle partition, so the merged segment is
    // written as several files (small merges coalesce to one task)
    val m2 = TestSpark.withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false")(
      SegmentMerger.merge(spark, dir, SegmentMerger.plan(m1, 4), keepOld = true))
    val merged = new java.io.File(s"$dir/postings/segment=${m2.segments.head.segment}")
    assert(merged.listFiles.count(_.getName.endsWith(".parquet")) > 1)
    assert(fingerprint(Searcher.atSnapshot(spark, dir, m1.commitSeq)) == base)
    val current = new Searcher(spark, dir)
    assert(fingerprint(current) == base)

    // a retained pre-merge segment directory disappears: the current
    // searcher never lists it, so it still answers identically
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/postings/segment=${m1.segmentIds.head}"), true)
    assert(fingerprint(current) == base)
    assert(fingerprint(new Searcher(spark, dir)) == base)
  }

  test("incremental appends compose with retention; colliding id range fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap2").toString
    val docs = WebCorpus.generate(spark, 300L, 3)
    val m1 = IndexBuilder.build(spark, docs.toDF(), dir, IndexConfig(numPartitions = 4))
    SegmentMerger.merge(spark, dir, SegmentMerger.plan(m1, 4), keepOld = true)

    // incremental ingest uses a disjoint id range (StreamingIndexer stride):
    // composes fine with retained snapshots
    val more = WebCorpus.generate(spark, 100L, 2)
    val m3 = graft.streaming.StreamingIndexer.appendBatch(
      spark, more.toDF(), dir, IndexConfig(numPartitions = 4), batchId = 0L)
    assert(m3.commitSeq == 3L)
    val travel = Searcher.atSnapshot(spark, dir, 1L)
    assert(travel.count(Query.Term("text", "alpha")) > 0L)

    // re-building into the retained ids' range must fail loudly, not alias
    // the snapshot's files
    intercept[IllegalArgumentException] {
      IndexBuilder.build(spark, docs.toDF(), dir, IndexConfig(numPartitions = 4))
    }
  }

  test("expire keeps multiple snapshots when asked") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap3").toString
    val docs = WebCorpus.generate(spark, 200L, 2)
    val m1 = IndexBuilder.build(spark, docs.toDF(), dir, IndexConfig(numPartitions = 4))
    SegmentMerger.merge(spark, dir, SegmentMerger.plan(m1, 2), keepOld = true)
    val m2 = IndexManifest.read(spark, dir).get
    SegmentMerger.merge(spark, dir, SegmentMerger.plan(m2, 2), keepOld = true)
    assert(Snapshots.list(spark, dir) == Seq(1L, 2L, 3L))

    Snapshots.expire(spark, dir, keepLast = 2)
    assert(Snapshots.list(spark, dir) == Seq(2L, 3L))
    // snapshot 2's segments survive; snapshot 1's originals are gone
    val t2 = Searcher.atSnapshot(spark, dir, 2L)
    assert(t2.count(Query.Term("text", "alpha")) > 0L)
    intercept[IllegalStateException](Searcher.atSnapshot(spark, dir, 1L))
  }
}
