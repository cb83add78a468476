package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.PipelineOps

/** Hostile inputs to the vector ops fail loudly with an
  * IllegalArgumentException that says what is wrong: a vector whose length
  * differs from the others (before, a longer one was silently truncated in
  * the pair kernels and a shorter one died with an index error inside a
  * task), and a count parameter below 1 (before, e.g. `nprobe = 0` gave an
  * empty kNN graph and `nCentroids = 0` put every vector in cell 0).
  */
class VecInputSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private lazy val e = SimilaritySpec.genEmbeddings(spark, 200).cache()

  /** `e` with vector `bad` cut to 63 of its 64 values. */
  private def withShortRow(bad: Long): DataFrame =
    e.select(col("vec_id"),
      when(col("vec_id") === bad, slice(col("embedding"), 1, 63))
        .otherwise(col("embedding")).as("embedding"))

  /** The IllegalArgumentException `f` throws, directly or as the cause of a
    * failed Spark job.
    */
  private def illegalArg(f: => Any): IllegalArgumentException = {
    val t = intercept[Exception](f)
    Iterator.iterate[Throwable](t)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: IllegalArgumentException => x }
      .getOrElse(fail(s"no IllegalArgumentException in the cause chain of $t"))
  }

  private def assertNamesShortRow(x: IllegalArgumentException, bad: Long): Unit = {
    assert(x.getMessage.contains(s"vec_id $bad has 63"), x.getMessage)
    assert(x.getMessage.contains("has 64"), x.getMessage)
  }

  test("a 63-dim row among 64-dim rows fails every kernel, naming the row and both lengths") {
    val bad = 57L
    val short = withShortRow(bad)
    assertNamesShortRow(illegalArg(
      PipelineOps.embeddingNearDupPairs(short, 0.35, blocks = 4).collect()), bad)
    assertNamesShortRow(illegalArg(PipelineOps.knnGraph(short, 5, blocks = 4).collect()), bad)
    // as a corpus row (checked per row in the scan) and as a query or
    // benchmark row (checked when the broadcast block is packed)
    assertNamesShortRow(illegalArg(
      PipelineOps.cosineTopKBatch(short, Seq(0L, 7L), 10).collect()), bad)
    assertNamesShortRow(illegalArg(
      PipelineOps.cosineTopKBatch(short, Seq(7L, bad), 10).collect()), bad)
    val corpus = short.where(col("vec_id") >= 20)
    val bench = short.where(col("vec_id") < 20)
    assertNamesShortRow(illegalArg(
      PipelineOps.semanticContamination(corpus, bench, 0.9).collect()), bad)
    assertNamesShortRow(illegalArg(
      PipelineOps.semanticContamination(bench, corpus, 0.9).collect()), bad)
  }

  private def assertRejects(param: String)(f: => Any): Unit = {
    val x = illegalArg(f)
    assert(x.getMessage.contains(s"$param must be >= 1"), x.getMessage)
  }

  test("k < 1 is rejected, naming k") {
    assertRejects("k")(PipelineOps.knnGraph(e, 0))
    assertRejects("k")(PipelineOps.knnGraphIvf(e, 0))
    assertRejects("k")(PipelineOps.ivfTopK(e, 7L, 0, nCentroids = 8, nprobe = 2))
    assertRejects("k")(PipelineOps.pqTopK(e, 7L, 0))
    assertRejects("k")(PipelineOps.ivfPqTopK(e, 7L, -1))
  }

  test("nCentroids < 1 is rejected, naming nCentroids") {
    assertRejects("nCentroids")(PipelineOps.ivfAssignments(e, 0))
    assertRejects("nCentroids")(PipelineOps.embeddingNearDupPairsIvf(e, 0.35, nCentroids = 0))
    assertRejects("nCentroids")(PipelineOps.knnGraphIvf(e, 5, nCentroids = 0))
    assertRejects("nCentroids")(PipelineOps.ivfPqTopK(e, 7L, 10, nCentroids = 0))
  }

  test("nprobe < 1 is rejected, naming nprobe") {
    assertRejects("nprobe")(PipelineOps.knnGraphIvf(e, 5, nprobe = 0))
    assertRejects("nprobe")(PipelineOps.embeddingNearDupPairsIvf(e, 0.35, nprobe = 0))
    assertRejects("nprobe")(PipelineOps.ivfTopK(e, 7L, 10, nCentroids = 8, nprobe = 0))
    assertRejects("nprobe")(PipelineOps.ivfPqTopK(e, 7L, 10, nprobe = 0))
  }

  test("m < 1 is rejected, naming m") {
    assertRejects("m")(PipelineOps.pqTrain(e, 0))
    assertRejects("m")(PipelineOps.pqTopK(e, 7L, 10, m = 0))
    assertRejects("m")(PipelineOps.ivfPqTopK(e, 7L, 10, m = 0))
  }

  test("rerank < 1 is rejected, naming rerank") {
    assertRejects("rerank")(PipelineOps.pqTopK(e, 7L, 10, rerank = 0))
    assertRejects("rerank")(PipelineOps.ivfPqTopK(e, 7L, 10, rerank = 0))
  }
}
