package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.ops.PipelineOps

/** Bit-for-bit pins of the approximate vector ops. Their recall gates
  * (SimilaritySpec, GraphClusterSpec, RecallGateSpec) accept any output
  * above a floor, so a change that trains different centroids (e.g. by
  * drawing the seeded RNG in another order) or folds a dot product in
  * another order would still pass them. Each case here hashes an op's
  * full output on SimilaritySpec's seeded clustered corpus: SHA-256 over
  * the rows sorted as text, ids in decimal and every double as the hex of
  * its `doubleToRawLongBits`.
  *
  * The digests were captured from the engine as of the commit before the
  * vector kernels were gathered into `VecBlocks`, so they pin that
  * refactor (and any later one) to the earlier outputs exactly.
  */
class VecDigestSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  // 40 clusters of 10 at noise 1.0: loose enough that every approximate op
  // misses some exact neighbours, so the digests pin which ones it finds
  private lazy val e = SimilaritySpec.genEmbeddings(spark, 400, nClusters = 40, noise = 1.0).cache()

  private def field(v: Any): String = v match {
    case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case null => "null"
    case x => x.toString
  }

  private def sha(lines: Seq[String]): String =
    MessageDigest.getInstance("SHA-256").digest(lines.sorted.mkString("\n").getBytes(UTF_8))
      .map(x => f"${x & 0xff}%02x").mkString

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map((r: Row) => r.toSeq.map(field).mkString("|"))

  private def digestRows(df: DataFrame): (Int, String) = {
    val rows = rowsOf(df)
    (rows.size, sha(rows))
  }

  private def digestArrays(xs: Seq[(String, Array[Double])]): (Int, String) =
    (xs.size, sha(xs.map { case (key, v) => key + "|" + v.map(field).mkString(",") }))

  /** (row count, SHA-256) per case, captured by running this spec on the
    * engine before the vector kernels were gathered into `VecBlocks`. The
    * `pqTopK` and `ivfPqTopK` entries were captured again when the ADC scan
    * stopped giving the query row a survivor slot (9 rows became 10). */
  private val expected: Map[String, (Int, String)] = Map(
    "ivf.centres" -> (16, "81aaac472dd7361fec26c55c7f03a3512e0da597e69f4bfc2cb39b640f242386"),
    "ivf.assign" -> (400, "cc35f20707d975bf2f3e9c881ba9a3273376f41cb91e22e3743badbd9921c8a9"),
    "pq.books" -> (2048, "bc6b67d4542e777598ac38a5f6945091b907aebcf8fd20597702c0d576673db1"),
    "pq.codes" -> (400, "924eae7aefc3827f1f422496002a2d504435b60424a07aed9af486629afeefa0"),
    "ivfTopK" -> (10, "56a90a95c350499d1fbf6fc29e4ff580935920c5c9c1402c8e082dc4c22eb235"),
    "pqTopK" -> (10, "228bad43ce4f7400c20aca754489d0a134bc62868c5e45eafaeb5cbe26bc3078"),
    "ivfPqTopK" -> (10, "207b65a24d24117c0e4f5e8e4b588d11b485f056a72ea271bc45529e536ef684"),
    "knnGraphIvf" -> (2000, "56b9e57f3bc5d0f4e67f98ee98a221fa4afdd3f06994cd6b68a27e5c673b99bf"),
    "nearDupIvf.p1" -> (1548, "d065bfe1be9ec803d9f582d3b4a6012fe8e98eec52f89b7708882aa0a552f284"),
    "nearDupIvf.p4" -> (1879, "27aa8007ba7b8fefefdfa4606361d2dcd75445807d6e13d373723860ac859aa8"),
    "nearDup" -> (1890, "8cb74dd09910973c13e14141f8729ba76383960921a27d58d4e97649c63bf642"),
    "knnGraph" -> (2000, "6c42e2b5eb80354b3a1a71a36f3c18915f6943010f78fd2eca5b77b9c36a6fc6"),
    "contrastive" -> (1600, "2654d521b23fcc04b28bceb4ff39b704c43946f97c1c1f0df5d308c43bae9f0c"),
    "cosineTopKBatch" -> (30, "9f18fe329522fb31dd94610e1e8899399ae665fcb86afc0e76ebe1605ee6bf3c"),
    "semContam" -> (360, "0dc930cc3cb81235ddaf58e7fbbae443315f03f29933d5e4e31154e98045b6c1"))

  private def check(name: String)(got: => (Int, String)): Unit = {
    val g = got
    assert(g._1 > 0, s"$name produced no rows")
    assert(expected.get(name).contains(g), s"$name: got $g")
  }

  test("ivfAssignments: centres and assignments") {
    val (assigned, centers) = PipelineOps.ivfAssignments(e, 16)
    check("ivf.centres")(digestArrays(centers.toSeq.zipWithIndex.map { case (c, i) => (i.toString, c) }))
    check("ivf.assign")(digestRows(assigned))
  }

  test("pqTrain books and pqEncode codes") {
    val books = PipelineOps.pqTrain(e, 8)
    check("pq.books")(digestArrays(for {
      (b, j) <- books.toSeq.zipWithIndex; (c, ci) <- b.toSeq.zipWithIndex
    } yield (s"$j.$ci", c)))
    check("pq.codes")(digestRows(PipelineOps.pqEncode(e, books)))
  }

  test("point-query ANN: ivfTopK, pqTopK, ivfPqTopK") {
    check("ivfTopK")(digestRows(PipelineOps.ivfTopK(e, 7L, 10, nCentroids = 16, nprobe = 4)))
    check("pqTopK")(digestRows(PipelineOps.pqTopK(e, 7L, 10, rerank = 10)))
    check("ivfPqTopK")(digestRows(PipelineOps.ivfPqTopK(e, 7L, 10, rerank = 10)))
  }

  test("graphs and pairs: knnGraphIvf, embeddingNearDupPairsIvf at nprobe 1 and 4") {
    check("knnGraphIvf")(digestRows(PipelineOps.knnGraphIvf(e, 5, nCentroids = 16, nprobe = 4)))
    check("nearDupIvf.p1")(digestRows(
      PipelineOps.embeddingNearDupPairsIvf(e, 0.35, nCentroids = 16, nprobe = 1)))
    check("nearDupIvf.p4")(digestRows(
      PipelineOps.embeddingNearDupPairsIvf(e, 0.35, nCentroids = 16, nprobe = 4)))
  }

  test("exact block kernels: near-dup pairs, knnGraph, contrastivePairs") {
    check("nearDup")(digestRows(PipelineOps.embeddingNearDupPairs(e, 0.35, blocks = 4)))
    check("knnGraph")(digestRows(PipelineOps.knnGraph(e, 5, blocks = 4)))
    check("contrastive")(digestRows(
      PipelineOps.contrastivePairs(e, 2, 0.3, 0.9, 2, 0.1, 0.3, blocks = 4)))
  }

  test("broadcast-block scans: cosineTopKBatch, semanticContamination") {
    check("cosineTopKBatch")(digestRows(PipelineOps.cosineTopKBatch(e, Seq(0L, 7L, 13L), 10)))
    check("semContam")(digestRows(PipelineOps.semanticContamination(
      e.where(col("vec_id") >= 40), e.where(col("vec_id") < 40), 0.5)))
  }
}
