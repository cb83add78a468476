package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.PipelineOps

/** Embedding-side SCALE evidence (VERDICT r4 item 1): the IVF family's
  * documented rule is `nCentroids ∝ corpus size` (PipelineOps
  * embeddingNearDupPairsIvf Scaladoc — FAISS practice), but every driver
  * gate row runs at nCentroids=16 over ≤2,000 vectors. This probe runs the
  * recall/agreement battery and the wall-time legs at 10-20× vectors with
  * C actually scaled (C = n/125), on two corpora:
  *
  *   - `noise:<path>`: the staged 20× testdata embeddings (20 deterministic
  *     rotations of sf0.1's real table — within-copy inner products are
  *     EXACTLY the source's, cross-copy ≈ isotropic noise). Honest floors:
  *     on noise, cell-probe recall is bounded by probe coverage
  *     (nprobe/C), so the deterministic invariants (IVF pairs ⊆ exact,
  *     refinement, kept-superset) are the hard gates here and the recalls
  *     are recorded as measured floors, the r3 precedent.
  *   - `clustered:<n>`: the SimilaritySpec design-gate generator scaled up
  *     (nClusters = n/100 topics, so topic count grows with the corpus the
  *     way a real crawl's does). The ≥0.8 recall / ≥0.6 agreement DESIGN
  *     gates must stay green at scaled C — this is the claim the C-rule
  *     makes: co-clustered data keeps cell-probe recall at constant
  *     per-task work.
  *
  * Usage: VecScaleProbe <cores> <mode> <src> [reps]
  *   mode  = gates | timing | breakdown
  *   src   = noise:<embeddingsParquet> | clustered:<n>
  *   reps  = timing reps per op (default 2, best-of printed)
  * Timing mode times the three sub-quadratic kernels the VERDICT names
  * (embeddingNearDupPairsIvf, knnGraphIvf, semDedup-over-IVF) at this
  * JVM's parallelism; run once at 8 and once at 32 cores and divide for
  * the N-vs-4N efficiency (separate JVMs — Spark master is process-wide).
  * Breakdown mode times one IVF near-dup pass in three steps: training
  * (sample collect + driver Lloyd's), the assignment job, the full op.
  */
object VecScaleProbe {

  /** SimilaritySpec.genEmbeddings, scaled: deterministic clustered corpus
    * (dim 64, unit-ish centroids + 0.35 noise), topic count ∝ n.
    */
  private def clustered(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    val dim = 64
    val nClusters = math.max(12, n / 100)
    val rnd = new scala.util.Random(42)
    val centroids = Array.fill(nClusters, dim)(rnd.nextGaussian())
    spark.range(n.toLong).as[Long].mapPartitions { it =>
      it.map { i =>
        val r = new scala.util.Random(1000 + i)
        val c = centroids((i % nClusters).toInt)
        (i, Array.tabulate(dim)(d => (c(d) + 0.35 * r.nextGaussian()).toFloat).toSeq,
          (i % nClusters).toInt)
      }
    }.toDF("vec_id", "embedding", "label")
  }

  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val mode = args(1)
    val src = args(2)
    val reps = if (args.length > 3) args(3).toInt else 2
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val e = src.split(":", 2) match {
      // the staged corpora are single parquet files — without a
      // repartition the scan side (normalize, IVF assignment, probe
      // fan-out) runs on ONE input split no matter the core count, and
      // the timing legs measure file layout, not the operators (a real
      // corpus at this scale is many files). 4 splits per core matches
      // the driver tables' layout assumption.
      case Array("noise", path) => spark.read.parquet(path).repartition(4 * cores)
      case Array("clustered", n) => clustered(spark, n.toInt).localCheckpoint()
      case other => sys.error(s"bad src ${other.mkString(":")}")
    }
    val n = e.count()
    val c = if (args.length > 4) args(4).toInt
      else math.max(16, (n / 125L).toInt) // the documented C-rule
    val nprobe = 8
    println(s"[vecscale] src=$src n=$n C=$c (n/125) nprobe=$nprobe cores=$cores")

    def recall(name: String, approx: DataFrame, exact: DataFrame,
        keys: Seq[String]): Double = {
      val a = approx.select(keys.map(col): _*)
      val x = exact.select(keys.map(col): _*)
      val hits = a.intersect(x).count()
      val nx = x.count()
      val r = hits.toDouble / math.max(nx, 1L)
      println(f"[vecscale-gate] $name%-28s hits=$hits/$nx recall=$r%.3f")
      r
    }

    if (mode == "gates") {
      // 1) near-dup pair recall at scaled C (threshold pairs are the
      //    high-cosine mass the SemDeDup cells exist to recover), plus the
      //    deterministic subset invariant (IVF pairs ⊆ exact pairs)
      val exactPairs = PipelineOps.embeddingNearDupPairs(e, 0.35).localCheckpoint()
      val ivfPairs = PipelineOps.embeddingNearDupPairsIvf(e, 0.35, c).localCheckpoint()
      recall("neardup_ivf(C,1)", ivfPairs, exactPairs, Seq("ia", "ib"))
      val extra = ivfPairs.select("ia", "ib").exceptAll(exactPairs.select("ia", "ib")).count()
      println(s"[vecscale-gate] neardup subset invariant: extra=$extra (must be 0)")

      // 2) semDedup over the IVF candidates: refinement + kept-superset
      //    (deterministic — hard gates at ANY C) + canonical agreement
      val sdExact = PipelineOps.semDedup(e, 0.35).localCheckpoint()
      val sdIvf = PipelineOps.semDedup(e, 0.35, Some(ivfPairs)).localCheckpoint()
      val agree = PipelineOps.clusterAgreementStats(sdIvf, sdExact, "vec_id", "canonical_id", 0)
      agree.show(false)
      val kept = sdIvf.select(col("vec_id"), col("is_kept").as("a"))
        .join(sdExact.select(col("vec_id"), col("is_kept").as("x")), "vec_id")
        .agg(min(!col("x") || col("a")).as("kept_superset_ok")).collect()(0)
      println(s"[vecscale-gate] semdedup kept_superset_ok=${kept.getBoolean(0)} (must be true)")

      // 3) kNN graph edge recall at scaled C
      val exactG = PipelineOps.knnGraph(e, 3).localCheckpoint()
      recall(s"knn_graph_ivf(C,$nprobe)",
        PipelineOps.knnGraphIvf(e, 3, c, nprobe), exactG, Seq("vec_id", "nb_id"))

      // 4a) mutual-EDGE recall at scaled C (the draw-stable measure —
      //     closure label agreement cascades on one missed chain edge)
      val exactM = PipelineOps.mutualEdges(
        exactG.select(col("vec_id"), col("nb_id"))).localCheckpoint()
      recall(s"mutual_edges_ivf(C,$nprobe)",
        PipelineOps.mutualEdges(PipelineOps.knnGraphIvf(e, 3, c, nprobe)
          .select(col("vec_id"), col("nb_id"))),
        exactM, Seq("ia", "ib"))

      // 4) mutual-kNN cluster agreement at scaled C
      val mkExact = PipelineOps.mutualKnnClusters(e, 3).localCheckpoint()
      val mkIvf = PipelineOps.mutualKnnClusters(e, 3, graph = Some(
        PipelineOps.knnGraphIvf(e, 3, c, nprobe).select(col("vec_id"), col("nb_id"))))
      val j = mkIvf.select(col("vec_id"), col("cluster_id").as("al"))
        .join(mkExact.select(col("vec_id"), col("cluster_id").as("xl")), "vec_id")
      val ag = j.where(col("al") === col("xl")).count().toDouble / math.max(j.count(), 1L)
      println(f"[vecscale-gate] mutual_knn_ivf(C,$nprobe)     agree=$ag%.3f")

      // 5) contrastive pair recall at scaled C (hard negatives are
      //    cross-cell — the nprobe fan-out case)
      val cpExact = PipelineOps.contrastivePairs(e, 2, 0.3, 0.9, 2, 0.1, 0.3)
        .localCheckpoint()
      recall(s"contrastive_ivf(C,$nprobe)",
        PipelineOps.contrastivePairs(e, 2, 0.3, 0.9, 2, 0.1, 0.3,
          candidatePairs = Some(PipelineOps.embeddingNearDupPairsIvf(e, 0.1, c, nprobe))),
        cpExact, Seq("vec_id", "pair_id"))

      // 6) ANN top-50 recall at scaled C (coverage floor on noise)
      recall(s"ann_ivf(C,$nprobe)@50", PipelineOps.ivfTopK(e, 0L, 50, c, nprobe),
        PipelineOps.cosineTopK(e, 0L, 50), Seq("vec_id"))
    }

    if (mode == "breakdown") {
      // where does the IVF wall-time go at scaled C? train-sample collect
      // vs driver Lloyd vs the distributed kernel
      var t0 = System.nanoTime()
      val (assigned, centers) = PipelineOps.ivfAssignments(e, c)
      println(f"[vecscale-bd] ivfAssignments plan+train: ${(System.nanoTime()-t0)/1e9}%.2f s " +
        s"(centers=${centers.length})")
      t0 = System.nanoTime()
      assigned.write.format("noop").mode("overwrite").save()
      println(f"[vecscale-bd] assignment job: ${(System.nanoTime()-t0)/1e9}%.2f s")
      t0 = System.nanoTime()
      PipelineOps.embeddingNearDupPairsIvf(e, 0.35, c)
        .write.format("noop").mode("overwrite").save()
      println(f"[vecscale-bd] full neardup_ivf: ${(System.nanoTime()-t0)/1e9}%.2f s")
    }

    if (mode == "timing") {
      def time(name: String)(mk: => DataFrame): Unit = {
        val secs = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          mk.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[vecscale-time] $name%-28s best=${secs.min}%.2f s (reps: ${
          secs.map(s => f"$s%.2f").mkString(", ")})")
      }
      time(s"neardup_ivf(C=$c)") {
        PipelineOps.embeddingNearDupPairsIvf(e, 0.35, c)
      }
      time(s"knn_graph_ivf(C=$c,$nprobe)") {
        PipelineOps.knnGraphIvf(e, 3, c, nprobe)
      }
      time(s"sem_dedup_ivf(C=$c)") {
        PipelineOps.semDedup(e, 0.35,
          Some(PipelineOps.embeddingNearDupPairsIvf(e, 0.35, c)))
      }
    }
    spark.stop()
  }
}
