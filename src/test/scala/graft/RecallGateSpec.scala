package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.PipelineOps

/** Driver-checkable gate helpers ([[PipelineOps.recallStats]],
  * [[PipelineOps.clusterAgreementStats]]) against handcrafted expected
  * rows, plus the invariants behind the r3 gated driver queries: IVF
  * within-cell pairs are a subset of the exact pairs (same 4dp cosines),
  * SemDeDup-over-IVF refines the exact clustering and keeps a superset,
  * and the candidate-source parameters reproduce the default paths
  * exactly when fed the default frames.
  */
class RecallGateSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private def genEmbeddings(n: Int, nClusters: Int = 12, noise: Double = 0.35): DataFrame = {
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

  test("recallStats matches a handcrafted expected row") {
    import spark.implicits._
    // exact = {1..5}, approx = {1,2,3,9,10}: hits 3/5, one cos mismatch
    val exact = Seq((1L, 0.9), (2L, 0.8), (3L, 0.7), (4L, 0.6), (5L, 0.5))
      .toDF("vec_id", "cos")
    val approxGood = Seq((1L, 0.9), (2L, 0.8), (3L, 0.7), (9L, 0.4), (10L, 0.3))
      .toDF("vec_id", "cos")
    val r1 = PipelineOps.recallStats(approxGood, exact, Seq("vec_id"), 600).head()
    assert(r1.getLong(0) == 5L && r1.getLong(1) == 5L) // n_approx, n_exact
    assert(r1.getBoolean(2), "3/5 = 0.6 meets gate 600 (>=)")
    assert(r1.getBoolean(3), "agreed ids carry equal cos")
    assert(r1.getDouble(4) == 0.5, "exact k-th cos = min of exact side")
    val r2 = PipelineOps.recallStats(approxGood, exact, Seq("vec_id"), 601).head()
    assert(!r2.getBoolean(2), "3/5 fails gate 601")
    val approxBadCos = Seq((1L, 0.9), (2L, 0.81), (3L, 0.7)).toDF("vec_id", "cos")
    val r3 = PipelineOps.recallStats(approxBadCos, exact, Seq("vec_id"), 500).head()
    assert(!r3.getBoolean(3), "cos mismatch on an agreed id flips cos_ok")
    // empty intersection: cos_ok coalesces to true, recall gate fails
    val approxDisjoint = Seq((8L, 0.2)).toDF("vec_id", "cos")
    val r4 = PipelineOps.recallStats(approxDisjoint, exact, Seq("vec_id"), 100).head()
    assert(!r4.getBoolean(2) && r4.getBoolean(3))
  }

  test("clusterAgreementStats matches handcrafted agreement + refinement") {
    import spark.implicits._
    // exact: {1,2,3}->1, {4,5}->4 ; approx splits {1,2,3} into {1,2}+{3}
    val exact = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("vec_id", "cluster")
    val approxSplit = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 4L))
      .toDF("vec_id", "cluster")
    val r1 = PipelineOps.clusterAgreementStats(
      approxSplit, exact, "vec_id", "cluster", 800).head()
    assert(r1.getLong(0) == 5L)
    assert(r1.getBoolean(1), "4/5 agree >= 0.8")
    assert(r1.getBoolean(2), "splits refine: each approx cluster in one exact")
    // approx that MERGES across exact clusters breaks refinement
    val approxMerge = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 4L))
      .toDF("vec_id", "cluster")
    val r2 = PipelineOps.clusterAgreementStats(
      approxMerge, exact, "vec_id", "cluster", 900).head()
    assert(!r2.getBoolean(1), "4/5 fails gate 900")
    assert(!r2.getBoolean(2), "cross-cluster merge breaks refinement")
    // checkRefinement=false drops the column
    val r3 = PipelineOps.clusterAgreementStats(
      approxMerge, exact, "vec_id", "cluster", 800, checkRefinement = false)
    assert(r3.columns.toSeq == Seq("n_docs", "agree_ok"))
  }

  test("IVF within-cell pairs are a subset of exact pairs with identical 4dp cosines") {
    val e = genEmbeddings(400)
    val exact = PipelineOps.embeddingNearDupPairs(e, 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = PipelineOps.embeddingNearDupPairsIvf(e, 0.35, nCentroids = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(ivf.nonEmpty, "clustered corpus must produce within-cell pairs")
    ivf.foreach { case (k, c) =>
      assert(exact.contains(k), s"IVF pair $k not in exact pairs")
      assert(exact(k) == c, s"cos mismatch on $k")
    }
    // on clustered data the cells recover most of the exact pair mass
    val frac = ivf.length.toDouble / exact.size
    info(f"IVF pair coverage: ${ivf.length}/${exact.size} (${frac}%.3f)")
    assert(frac >= 0.5, s"within-cell coverage $frac too low for clustered data")
  }

  test("semDedup over IVF candidates refines the exact clustering; kept is a superset") {
    val e = genEmbeddings(400)
    val exact = PipelineOps.semDedup(e, 0.35)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val ivf = PipelineOps.semDedup(e, 0.35,
        Some(PipelineOps.embeddingNearDupPairsIvf(e, 0.35, nCentroids = 8)))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(ivf.keySet == exact.keySet)
    // refinement: two docs sharing an IVF canonical share the exact canonical
    ivf.groupBy(_._2._1).foreach { case (_, members) =>
      assert(members.keySet.map(id => exact(id)._1).size == 1,
        "an IVF cluster crossed exact-cluster lines")
    }
    // every exact-kept doc is IVF-kept
    exact.foreach { case (id, (_, kept)) =>
      if (kept) assert(ivf(id)._2, s"exact-kept doc $id dropped by IVF path")
    }
  }

  test("candidate-source parameters reproduce the default paths when fed the default frames") {
    val e = genEmbeddings(300)
    // mutualKnnClusters(graph = exact knnGraph) == default
    val g = PipelineOps.knnGraph(e, 3).select(col("vec_id"), col("nb_id"))
    val a = PipelineOps.mutualKnnClusters(e, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = PipelineOps.mutualKnnClusters(e, 3, graph = Some(g))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
    // semDedup(candidatePairs = exact pairs) == default
    val p = PipelineOps.embeddingNearDupPairs(e, 0.35)
    val c = PipelineOps.semDedup(e, 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val d = PipelineOps.semDedup(e, 0.35, Some(p))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(c === d)
  }

  test("contrastivePairs candidate path: full candidate set reproduces the exact kernel") {
    val e = genEmbeddings(300)
    // candidates = ALL pairs above the lowest band floor -> the relational
    // path must select the same per-anchor band tops as the dual-heap
    // kernel. Ordering uses 4dp cos (monotone rounding), so a 4dp tie can
    // pick a different pair_id — but then the emitted cos values are equal,
    // so the (vec_id, kind, cos, rank) multiset is identical.
    val full = PipelineOps.embeddingNearDupPairs(e, 0.1)
    val exact = PipelineOps.contrastivePairs(e, 2, 0.3, 0.9, 2, 0.1, 0.3)
      .collect().map(r => (r.getLong(0), r.getString(3), r.getDouble(2), r.getLong(4)))
    val cand = PipelineOps.contrastivePairs(e, 2, 0.3, 0.9, 2, 0.1, 0.3,
        candidatePairs = Some(full))
      .collect().map(r => (r.getLong(0), r.getString(3), r.getDouble(2), r.getLong(4)))
    assert(exact.nonEmpty, "clustered corpus must yield contrastive pairs")
    assert(exact.groupBy(identity).view.mapValues(_.length).toMap ===
      cand.groupBy(identity).view.mapValues(_.length).toMap)
  }

  test("contrastivePairs over IVF candidates meets the clustered-data design gate") {
    val e = genEmbeddings(400)
    val exact = PipelineOps.contrastivePairs(e, 2, 0.3, 0.9, 2, 0.1, 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // nprobe=4: hard negatives are cross-cluster pairs, so same-cell-only
    // candidates (nprobe=1) top out near 0.47 recall here — the probe
    // fan-out is what recovers the just-below-the-band cross-cell mass
    val ivf = PipelineOps.contrastivePairs(e, 2, 0.3, 0.9, 2, 0.1, 0.3,
        candidatePairs = Some(PipelineOps.embeddingNearDupPairsIvf(
          e, 0.1, nCentroids = 8, nprobe = 4)))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    // agreed pairs carry bit-identical 4dp cosines (shared VecBlocks fold)
    ivf.foreach { case (k, c) =>
      if (exact.contains(k)) assert(exact(k) == c, s"cos mismatch on $k")
    }
    val hits = ivf.count { case (k, _) => exact.contains(k) }
    val recall = hits.toDouble / exact.size
    info(f"contrastive IVF pair recall: $hits/${exact.size} ($recall%.3f)")
    assert(recall >= 0.8, s"recall $recall below the clustered-data design gate")
  }

  test("C-rule: design gates hold at 10x corpus with nCentroids scaled ∝ n") {
    // the documented IVF scale rule is C ∝ corpus size (constant per-task
    // work); every other gate in this suite runs C=8 at n≤400, so pin the
    // rule itself: 10x the vectors, topic count grown with the corpus
    // (nClusters = n/100, a crawl's shape), C = n/125 per the
    // FAISS-practice rule, nprobe unchanged — recall/coverage gates must
    // hold at the SAME thresholds the small-C tests use
    val n = 4000
    val e = genEmbeddings(n, nClusters = n / 100).localCheckpoint()
    val c = math.max(16, n / 125) // = 32
    val exactPairs = PipelineOps.embeddingNearDupPairs(e, 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivfPairs = PipelineOps.embeddingNearDupPairsIvf(e, 0.35, nCentroids = c)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(ivfPairs.nonEmpty)
    ivfPairs.foreach { case (k, cos) =>
      assert(exactPairs.contains(k) && exactPairs(k) == cos,
        s"IVF pair $k not an exact pair with identical 4dp cos")
    }
    val frac = ivfPairs.length.toDouble / exactPairs.size
    info(f"scaled-C near-dup pair coverage at C=$c: ${ivfPairs.length}/${
      exactPairs.size} ($frac%.3f)")
    assert(frac >= 0.5, s"within-cell coverage $frac at scaled C below 0.5")

    // contrastive recall through the scaled-C candidate source (nprobe=8:
    // the fan-out rule is unchanged — coverage comes from co-clustering,
    // not from probing a constant fraction of a GROWING cell count)
    val exactCp = PipelineOps.contrastivePairs(e, 2, 0.3, 0.9, 2, 0.1, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfCp = PipelineOps.contrastivePairs(e, 2, 0.3, 0.9, 2, 0.1, 0.3,
        candidatePairs = Some(PipelineOps.embeddingNearDupPairsIvf(
          e, 0.1, nCentroids = c, nprobe = 8)))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val recall = ivfCp.count(exactCp.contains).toDouble / exactCp.size
    info(f"scaled-C contrastive pair recall at C=$c: $recall%.3f")
    assert(recall >= 0.8, s"recall $recall at scaled C below the design gate")
  }

  test("kmeansAssign is invariant under input partitioning") {
    val e = genEmbeddings(240, nClusters = 5, noise = 0.3)
    val a = PipelineOps.kmeansAssign(e.repartition(13), 4, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = PipelineOps.kmeansAssign(e.coalesce(1), 4, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
  }
}
