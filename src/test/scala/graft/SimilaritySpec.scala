package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.PipelineOps

/** Embedding similarity operators: the block-matrix near-dup kernel must be
  * value-identical to the declarative expression form (same double
  * arithmetic order), and the multi-probe LSH ANN must hit a measured
  * recall@10 floor against the exact scan.
  */
class SimilaritySpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private def genEmbeddings(n: Int, nClusters: Int = 12, noise: Double = 0.35): DataFrame =
    SimilaritySpec.genEmbeddings(spark, n, nClusters, noise)

  test("block-matrix near-dup kernel == expression-form cartesian (bit-exact)") {
    val e = genEmbeddings(300)
    val threshold = 0.35
    // the pre-kernel declarative form (what the DuckDB oracle mirrors)
    val a = e.select(col("vec_id").as("ia"), col("embedding").cast("array<double>").as("va"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").cast("array<double>").as("vb"))
    val expected = a.crossJoin(b).where(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        PipelineOps.cosineExpr(col("va"), col("vb")).as("c"))
      .where(col("c") >= threshold)
      .select(col("ia"), col("ib"), round(col("c"), 4).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty, "generator must produce near-dup pairs")

    for (blocks <- Seq(1, 4, 32)) {
      val got = PipelineOps.embeddingNearDupPairs(e, threshold, blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expected, s"blocks=$blocks")
    }
  }

  test("multi-probe LSH ANN: recall@10 >= 0.8 vs exact cosine top-k") {
    val e = genEmbeddings(1000)
    val queries = Seq(0L, 7L, 123L, 500L, 999L)
    val recalls = queries.map { q =>
      val exact = PipelineOps.cosineTopK(e, q, 10)
        .collect().map(_.getLong(0)).toSet
      val ann = PipelineOps.annTopK(e, q, 10, nBits = 8, maxHamming = 2)
        .collect().map(_.getLong(0)).toSet
      // ANN cos values for returned ids match the exact computation
      exact.intersect(ann).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    info(f"recall@10 per query: ${recalls.map(r => f"$r%.2f").mkString(", ")} (mean $mean%.3f)")
    assert(mean >= 0.8, s"mean recall@10 $mean below 0.8 gate")
  }

  test("IVF ANN: recall@10 >= 0.8 vs exact cosine top-k; probes a fraction of lists") {
    val e = genEmbeddings(1000)
    val queries = Seq(0L, 7L, 123L, 500L, 999L)
    val recalls = queries.map { q =>
      val exact = PipelineOps.cosineTopK(e, q, 10)
        .collect().map(_.getLong(0)).toSet
      val ivf = PipelineOps.ivfTopK(e, q, 10, nCentroids = 16, nprobe = 4)
        .collect().map(_.getLong(0)).toSet
      exact.intersect(ivf).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    info(f"IVF recall@10 per query: ${recalls.map(r => f"$r%.2f").mkString(", ")} (mean $mean%.3f)")
    assert(mean >= 0.8, s"mean IVF recall@10 $mean below 0.8 gate")
    // the probe really is partial: candidate lists hold a strict minority
    val (assigned, _) = PipelineOps.ivfAssignments(e, 16)
    val sizes = assigned.groupBy("cluster").count().collect().map(_.getLong(1))
    assert(sizes.length > 8, "k-means collapsed") // clusters materialized
    assert(sizes.sorted.takeRight(4).sum < 1000L, "4 lists must not hold everything")
  }

  test("IVF-PQ ANN: recall@10 >= 0.8 vs exact cosine top-k (residual codes, partial probe)") {
    val e = genEmbeddings(1000)
    val queries = Seq(0L, 7L, 123L, 500L, 999L)
    val recalls = queries.map { q =>
      val exact = PipelineOps.cosineTopK(e, q, 10)
        .collect().map(_.getLong(0)).toSet
      val got = PipelineOps.ivfPqTopK(e, q, 10,
        nCentroids = 16, nprobe = 4, m = 8, rerank = 50)
        .collect().map(_.getLong(0)).toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    info(f"IVF-PQ recall@10 per query: ${recalls.map(r => f"$r%.2f").mkString(", ")} (mean $mean%.3f)")
    assert(mean >= 0.8, s"mean IVF-PQ recall@10 $mean below 0.8 gate")
  }

  test("PQ ANN: recall@10 >= 0.8 vs exact cosine top-k; codes are m bytes") {
    val e = genEmbeddings(1000)
    val queries = Seq(0L, 7L, 123L, 500L, 999L)
    val recalls = queries.map { q =>
      val exact = PipelineOps.cosineTopK(e, q, 10)
        .collect().map(_.getLong(0)).toSet
      val pq = PipelineOps.pqTopK(e, q, 10, m = 8, rerank = 50)
        .collect().map(_.getLong(0)).toSet
      exact.intersect(pq).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    info(f"PQ recall@10 per query: ${recalls.map(r => f"$r%.2f").mkString(", ")} (mean $mean%.3f)")
    assert(mean >= 0.8, s"mean PQ recall@10 $mean below 0.8 gate")
    // the scan payload really is m bytes per row (64x smaller than the
    // 64-dim float64 embedding column), and every code byte indexes a
    // real centroid
    val books = PipelineOps.pqTrain(e, m = 8)
    assert(books.length == 8 && books.forall(_.length == 256))
    val codes = PipelineOps.pqEncode(e, books).collect()
    assert(codes.length == 1000)
    assert(codes.forall(_.getAs[Array[Byte]]("code").length == 8))
    // PQ results carry exact cosines (re-rank stage): values match the
    // exact scan for ids in both
    val exact0 = PipelineOps.cosineTopK(e, 0L, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pq0 = PipelineOps.pqTopK(e, 0L, 10, m = 8, rerank = 50)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    pq0.keys.filter(exact0.contains).foreach { id =>
      assert(pq0(id) == exact0(id), s"re-ranked cosine differs for $id")
    }
  }

  test("pqTopK / ivfPqTopK with rerank == k return k rows; the query takes no survivor slot") {
    val e = genEmbeddings(400)
    for (q <- Seq(0L, 7L, 123L)) {
      val pq = PipelineOps.pqTopK(e, q, 10, rerank = 10).collect().map(_.getLong(0))
      val ivfPq = PipelineOps.ivfPqTopK(e, q, 10, rerank = 10).collect().map(_.getLong(0))
      for ((name, ids) <- Seq("pqTopK" -> pq, "ivfPqTopK" -> ivfPq)) {
        assert(ids.length == 10, s"$name query $q: ${ids.length} rows")
        assert(!ids.contains(q) && ids.distinct.length == 10, s"$name query $q: ${ids.toSeq}")
      }
    }
  }

  test("native vec_cosine / lsh_bucket kernels == HOF forms (bit-exact)") {
    val e = genEmbeddings(500)
    // cosine: native expression vs aggregate/zip_with fold, exact doubles
    val a = e.select(col("vec_id").as("ia"), col("embedding").cast("array<double>").as("va"))
    val b = e.limit(20)
      .select(col("vec_id").as("ib"), col("embedding").cast("array<double>").as("vb"))
    val pairs = a.crossJoin(b).where(col("ia") =!= col("ib"))
    val diffs = pairs.select(
      PipelineOps.cosineExpr(col("va"), col("vb")).as("hof"),
      graft.functions.VecOps.vec_cosine(col("va"), col("vb")).as("nat"))
      .where(col("hof") =!= col("nat")).count()
    assert(diffs == 0L, "native cosine must be bit-identical to the HOF fold")

    // lsh buckets: native expression vs per-bit HOF chain, exact longs
    for (nBits <- Seq(4, 8)) {
      val nat = PipelineOps.annBuckets(e, nBits)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val hof = PipelineOps.annBucketsHof(e, nBits)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(nat == hof, s"nBits=$nBits")
    }
  }

  test("single-bucket vs multi-probe: probing strictly widens candidates") {
    val e = genEmbeddings(1000)
    val single = PipelineOps.annTopK(e, 0L, 10, nBits = 8, maxHamming = 0).count()
    val probed = PipelineOps.annTopK(e, 0L, 10, nBits = 8, maxHamming = 2).count()
    assert(probed >= single)
    assert(probed <= 10)
  }

  test("cosineTopKBatch: heap kernel == per-query exact cosineTopK, all partitionings") {
    val e = genEmbeddings(500)
    val qids = Seq(0L, 7L, 13L)
    val k = 10
    // per-query expected sets from the already-verified single-query op,
    // EXCLUDING all batch query ids (the batch op excludes the whole batch)
    val expected = qids.map { q =>
      q -> PipelineOps.cosineTopK(e.where(!col("vec_id").isin(qids.filter(_ != q).map(Long.box): _*)), q, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).zipWithIndex
        .map { case ((vid, cos), i) => (vid, cos, i + 1L) }.toSet
    }.toMap
    for (parts <- Seq(1, 7, 32)) {
      val got = PipelineOps.cosineTopKBatch(e.repartition(parts), qids, k)
        .collect().groupBy(_.getLong(0))
        .map { case (q, rows) =>
          q -> rows.map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
        }
      assert(got.keySet == qids.toSet, s"parts=$parts")
      qids.foreach(q => assert(got(q) == expected(q), s"parts=$parts q=$q"))
    }
  }

  test("rrfFuse: matches a driver-side RRF oracle; partitioning-invariant") {
    import spark.implicits._
    // two legs with partial overlap, score ties (broken by id), and ids
    // unique to each leg — every RRF edge case in one fixture
    val sparse = Seq((10L, 5.5), (11L, 5.5), (12L, 3.0), (13L, 2.0), (14L, 1.0),
      (15L, 0.5)).toDF("doc_id", "score")
    val dense = Seq((12L, 0.99), (10L, 0.90), (20L, 0.90), (21L, 0.10))
      .toDF("vec_id", "cos")
    val legK = 4 // cuts sparse to its top 4 — 14/15 fall out of the leg list
    def oracle(k: Int): Seq[(Long, Option[Long], Option[Long], Double)] = {
      def rank(xs: Seq[(Long, Double)]) = xs.map { case (id, s) =>
        (id, BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (id, s) => (-s, id) }.take(legK).zipWithIndex
        .map { case ((id, _), i) => id -> (i + 1L) }.toMap
      val (rs, rd) = (rank(Seq((10L, 5.5), (11L, 5.5), (12L, 3.0), (13L, 2.0),
        (14L, 1.0), (15L, 0.5))), rank(Seq((12L, 0.99), (10L, 0.90), (20L, 0.90), (21L, 0.10))))
      (rs.keySet ++ rd.keySet).toSeq.map { id =>
        val c = rs.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
          rd.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
        (id, rs.get(id), rd.get(id),
          BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (id, _, _, c) => (-c, id) }.take(k)
    }
    for (parts <- Seq(1, 5)) {
      val got = PipelineOps.rrfFuse(Seq(
          "sparse" -> sparse.repartition(parts), "dense" -> dense.repartition(parts)),
          k = 5, legK = legK)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getDouble(3))).toSeq.sortBy(t => (-t._4, t._1))
      assert(got == oracle(5), s"parts=$parts")
    }
    // a dual-leg doc (10: ranks 1+2) must beat every single-leg doc
    val top = PipelineOps.rrfFuse(Seq("sparse" -> sparse, "dense" -> dense), 1, legK)
      .collect().head
    assert(top.getLong(0) == 10L)
  }

  test("semDedup: clusters equal a union-find oracle over the exact pairs") {
    val e = genEmbeddings(300)
    val threshold = 0.35
    val pairs = PipelineOps.embeddingNearDupPairs(e, threshold)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // driver-side union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = (0L until 300L).map(i => (i, find(i))).toMap
    val got = PipelineOps.semDedup(e, threshold)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (id, canon) =>
      assert(got(id) == ((canon, canon == id)), s"id=$id")
    }
  }
}

object SimilaritySpec {

  /** Deterministic clustered embeddings (dim 64 like the driver's table):
    * `nClusters` unit-ish centroids, each vector = centroid + seeded noise,
    * so near-dup pairs above 0.35 and meaningful nearest neighbors exist.
    */
  def genEmbeddings(spark: SparkSession, n: Int, nClusters: Int = 12,
      noise: Double = 0.35): DataFrame = {
    import spark.implicits._
    val dim = 64
    val rnd = new scala.util.Random(42)
    val centroids = Array.fill(nClusters, dim)(rnd.nextGaussian())
    val rows = (0L until n.toLong).map { i =>
      val r = new scala.util.Random(1000 + i)
      val c = centroids((i % nClusters).toInt)
      val v = Array.tabulate(dim)(d => (c(d) + noise * r.nextGaussian()).toFloat)
      (i, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }
}
