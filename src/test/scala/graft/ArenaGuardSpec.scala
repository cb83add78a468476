package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.WebCorpus
import graft.index.{IndexBuilder, IndexConfig}
import graft.search._

/** Posting-arena size guard (BENCH.md 10M window A/B): a partition holding
  * many more docs than the arena band must auto-split into band-sized
  * segments — window A (312k-doc arenas, 4 concurrent tasks) measured build
  * scaling eff 0.624 because the failure was SILENT: IndexBuilder accepted
  * any partition count and GC-thrashed on oversized arenas. The guard makes
  * the documented SPARK_GRAFT_SCALE_PARTS band rule the default behavior,
  * at every scale (the cut is maxDocsPerSegment, 150k docs by default).
  */
class ArenaGuardSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  test("window-A geometry auto-splits to band-sized segments; queries unaffected") {
    val docs = WebCorpus.generate(spark, 1200L, 3).toDF()

    // window-A geometry, scaled: 2 partitions x ~600 docs/partition with a
    // 250-doc band = the same docs/partition >> band shape as 10M/32 parts
    val dirA = java.nio.file.Files.createTempDirectory("graft-arena-a").toString
    val mA = IndexBuilder.build(spark, docs, dirA,
      IndexConfig(numPartitions = 2, maxDocsPerSegment = 250))
    assert(mA.segments.size > 2, "oversized partitions must cut extra segments")
    assert(mA.segments.forall(_.numDocs <= 250),
      s"every arena within the band: ${mA.segments.map(_.numDocs)}")
    assert(mA.totalDocs == 1200L)

    // compliant geometry (band >= docs/partition): guard is inert, one
    // segment per partition as before
    val dirB = java.nio.file.Files.createTempDirectory("graft-arena-b").toString
    val mB = IndexBuilder.build(spark, docs, dirB,
      IndexConfig(numPartitions = 2, maxDocsPerSegment = 1000))
    assert(mB.segments.size == 2)

    // segment geometry must not change results: same counts + same top
    // hits on the split and unsplit trees (docId rebase is per-segment)
    val q = Query.Term("text", "alpha")
    val sA = new Searcher(spark, dirA)
    val sB = new Searcher(spark, dirB)
    assert(sA.count(q) == sB.count(q))
    assert(sA.topDocs(q, 10).map(h => (h.url, h.score)).toList ==
      sB.topDocs(q, 10).map(h => (h.url, h.score)).toList)
  }

  test("long-doc geometry splits on BYTES: few huge docs cut under the doc band") {
    import org.apache.spark.sql.functions._
    // 40 docs of ~33 KB each (60x-repeated corpus text): the 150k-doc count
    // band is inert here, but the arenas are exactly the shape that
    // GC-thrashed window A — the bytes band must cut them
    val docs = WebCorpus.generate(spark, 40L, 7).toDF()
      .withColumn("text", concat_ws(" ", array_repeat(col("text"), 60)))

    val dirA = java.nio.file.Files.createTempDirectory("graft-arena-long-a").toString
    val mA = IndexBuilder.build(spark, docs, dirA,
      IndexConfig(numPartitions = 1, maxDocsPerSegment = 1000,
        arenaBandBytes = 100000L))
    assert(mA.segments.size >= 8,
      s"bytes band must cut huge-doc arenas: ${mA.segments.size} segments")
    // each chunk stops within one doc of the byte budget: <= ceil(100k/33k)+1
    assert(mA.segments.forall(_.numDocs <= 5),
      s"per-segment doc counts bytes-derived: ${mA.segments.map(_.numDocs)}")
    assert(mA.totalDocs == 40L)

    // bytes band disabled -> doc band alone governs (one segment here)
    val dirB = java.nio.file.Files.createTempDirectory("graft-arena-long-b").toString
    val mB = IndexBuilder.build(spark, docs, dirB,
      IndexConfig(numPartitions = 1, maxDocsPerSegment = 1000,
        arenaBandBytes = Long.MaxValue))
    assert(mB.segments.size == 1)

    // segment geometry must not change results
    val q = Query.Term("text", "alpha")
    val sA = new Searcher(spark, dirA)
    val sB = new Searcher(spark, dirB)
    assert(sA.count(q) == sB.count(q))
    assert(sA.topDocs(q, 10).map(h => (h.url, h.score)).toList ==
      sB.topDocs(q, 10).map(h => (h.url, h.score)).toList)
    // small builds sit far inside the heap band: no advisory recorded
    assert(mA.warnings.isEmpty && mB.warnings.isEmpty)
  }

  test("derived heap sizing advisory fires at the measured guard-1 geometry") {
    // guard-1 (BENCH.md r4): 150k-doc band arenas ≈ 12M tokens of analyzed
    // text, 4 concurrent tasks, 8 GiB heap -> 2 GiB/task, measured build
    // eff 0.725 — the rule must advise here…
    val red = IndexBuilder.heapWarning(
      maxSegTokens = 12000000L, concurrency = 4, heapBytes = 8L << 30)
    assert(red.isDefined, "guard-1 geometry must produce the advisory")
    assert(red.get.contains("48x"))
    // …and stay quiet at window B / guard-3 (32 GiB, 4 tasks -> 8 GiB/task,
    // measured dual-green), and for any empty build
    assert(IndexBuilder.heapWarning(12000000L, 4, 32L << 30).isEmpty)
    assert(IndexBuilder.heapWarning(0L, 4, 8L << 30).isEmpty)
  }

  test("the advisory sizes heap per task in the JVM that runs the build tasks") {
    // local mode: the driver's heap, its default parallelism, never more
    // tasks than segments; executor settings do not apply
    val local = new org.apache.spark.SparkConf(false).setMaster("local[8]")
      .set("spark.executor.memory", "64g").set("spark.executor.cores", "2")
    assert(IndexBuilder.taskHeap(local, 8L << 30, 8, 32) == ((8L << 30, 8)))
    assert(IndexBuilder.taskHeap(local, 8L << 30, 8, 3) == ((8L << 30, 3)))
    // cluster: an executor's heap, shared by executor.cores / task.cpus tasks
    val cluster = new org.apache.spark.SparkConf(false).setMaster("yarn")
      .set("spark.executor.memory", "16g").set("spark.executor.cores", "8").set("spark.task.cpus", "2")
    assert(IndexBuilder.taskHeap(cluster, 64L << 30, 256, 32) == ((16L << 30, 4)))
    // at the guard-1 arena, 4 GiB per executor task is inside the band; the
    // driver's 64 GiB over 32 segments (2 GiB per task) would have advised
    val (heap, conc) = IndexBuilder.taskHeap(cluster, 64L << 30, 256, 32)
    assert(IndexBuilder.heapWarning(12000000L, conc, heap).isEmpty)
    assert(IndexBuilder.heapWarning(12000000L, 32, 64L << 30).isDefined)
    // and a small executor advises whatever the driver's heap
    val small = cluster.clone.set("spark.executor.memory", "4g")
    val (h2, c2) = IndexBuilder.taskHeap(small, 64L << 30, 256, 32)
    assert(IndexBuilder.heapWarning(12000000L, c2, h2).isDefined)
    // executors without spark.executor.cores take all of a worker's cores
    // (standalone), a count the conf does not hold: the driver's numbers
    val allCores = new org.apache.spark.SparkConf(false).setMaster("spark://host:7077")
      .set("spark.executor.memory", "16g")
    assert(IndexBuilder.taskHeap(allCores, 64L << 30, 256, 32) == ((64L << 30, 32)))
    assert(IndexBuilder.taskHeap(allCores, 8L << 30, 16, 32) == ((8L << 30, 16)))
  }
}
