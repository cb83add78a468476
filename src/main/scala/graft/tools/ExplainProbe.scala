package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Prints the physical plans of the hot paths so pushdown/pruning claims are
  * verifiable: the docmap fetch must show PushedFilters and a pruned
  * ReadSchema; pipeline ops must stay inside WholeStageCodegen. (Query
  * planning and kernel reads go through `SegmentFiles`, not Spark scans.)
  */
object ExplainProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sfDir = "/root/testdata/sf0.001"
    val searcher = graft.SparkEntry.searcherFor(spark, sfDir)

    println("==== docmap fetch (doc-store join) ====")
    searcher.docmapDF.where(col("segment") === 0 && col("docId") === 5).explain("formatted")

    println("==== dedup minhash signatures (explode + groupBy) ====")
    graft.ops.PipelineOps.dedupMinHash(
      spark.read.parquet(s"$sfDir/documents.parquet"), 0.5).explain("formatted")

    println("==== fast-field range (Catalyst-native) ====")
    spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("n_chars") >= 200 && col("n_chars") < 400).select("doc_id")
      .explain("formatted")

    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
    println("==== contamination (benchmark side must BroadcastExchange) ====")
    graft.ops.PipelineOps.contamination(
      docsDf, docsDf.where(col("doc_id") % 97 === 0), 3).explain("formatted")

    println("==== repetition score (single WholeStageCodegen map, no shuffle) ====")
    graft.ops.PipelineOps.repetitionScore(docsDf).explain("formatted")

    println("==== stratified sample (filter pushed onto the scan) ====")
    graft.ops.PipelineOps.stratifiedSample(docsDf, "lang",
      Map("en" -> 0.5, "de" -> 0.25)).explain("formatted")

    println("==== html extraction + url normalize (single codegen map, no shuffle) ====")
    graft.ops.PipelineOps.htmlExtract(
      docsDf.withColumn("html_text", concat(lit("<p>"), col("text"), lit("</p>"))))
      .select("doc_id", "extracted_text").explain("formatted")
    graft.ops.PipelineOps.urlNormalize(
      docsDf.withColumn("url", concat(lit("https://h.example/p"), col("doc_id"))))
      .select("doc_id", "canonical_url").explain("formatted")

    println("==== unigram-LM surprise (LM side BroadcastExchange; one agg pair) ====")
    graft.ops.PipelineOps.lmSurprise(docsDf).explain("formatted")

    println("==== paragraph dedup (groupBy-min first-occurrence, map-side combinable) ====")
    graft.ops.PipelineOps.paragraphDedup(docsDf).explain("formatted")

    println("==== sequence packing (two-level prefix sum: big window IS " +
      "bucket-partitioned; bucket prefix broadcasts) ====")
    val pack = graft.ops.PipelineOps.packSequences(docsDf, 2048)
    pack.explain("formatted")
    val packPlan = pack.queryExecution.executedPlan.toString
    // the doc-side window must be partitioned (by the bucket column); an
    // unpartitioned Window over the corpus would be the single-reducer sort
    val docWindowPartitioned = "Window \\[sum".r.findAllIn(packPlan).isEmpty ||
      packPlan.contains("hashpartitioning(b#") || packPlan.contains("hashpartitioning(b ")
    println(s"pack: doc-side window bucket-partitioned = $docWindowPartitioned, " +
      s"broadcast join present = ${packPlan.contains("BroadcastHashJoin")}")

    println("==== span decontamination (bench grams AND hit lists both broadcast; " +
      "corpus never shuffles) ====")
    val dec = graft.ops.PipelineOps.decontaminateSpans(
      docsDf.where(col("doc_id") % 97 =!= 0), docsDf.where(col("doc_id") % 97 === 0), 3)
    dec.explain("formatted")
    val decPlan = dec.queryExecution.executedPlan.toString
    println(s"decontam: broadcast joins = " +
      s"${"BroadcastHashJoin".r.findAllIn(decPlan).size} (want 2: gram probe + hit-list return)")

    println("==== DSIR weights (single LM groupBy pair; LM BroadcastExchange) ====")
    graft.ops.PipelineOps.dsirWeights(docsDf, col("lang") === "en").explain("formatted")

    println("==== exact-substring self-dedup (no cartesian; dup set + hit lists " +
      "broadcast back; window hashes shuffle, token text never) ====")
    val sub = graft.ops.PipelineOps.exactSubstrDedup(docsDf, 20)
    sub.explain("formatted")
    val subPlan = sub.queryExecution.executedPlan.toString
    println(s"substr: cartesian/cross join = ${subPlan.contains("Cartesian") ||
      subPlan.contains("BroadcastNestedLoop")} (want false), broadcast joins = " +
      s"${"BroadcastHashJoin".r.findAllIn(subPlan).size} (want 2: dup probe + hit-list return)")

    println("==== normalize_text (single WholeStageCodegen map, no shuffle) ====")
    val nrm = graft.ops.PipelineOps.normalizeText(docsDf).select("doc_id", "norm_text")
    nrm.explain("formatted")
    val nrmPlan = nrm.queryExecution.executedPlan.toString
    // simple-mode plan strings mark codegen stages with a `*(n)` prefix
    println(s"normalize: shuffle-free = ${!nrmPlan.contains("Exchange")}, " +
      s"codegen = ${nrmPlan.contains("*(")}")

    println("==== term docs-and-positions (pruned postings scan: PushedFilters on " +
      "(field, term)) ====")
    searcher.termDocsAndPositions("text", "spark").explain("formatted")

    println("==== bloom incremental dedup (might_contain filters the scan; only the " +
      "candidate slice reaches the anti-join, and the corpus side of the verify " +
      "is fp-semi-join-pruned — never a bare full-table distinct) ====")
    val newB = docsDf.select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
    val bl = graft.ops.PipelineOps.bloomNewDocs(newB, docsDf, 1000L, 0.01)
    bl.explain("formatted")
    val blPlan = bl.queryExecution.executedPlan.toString
    // the LeftSemi (broadcast, on fp) is the corpus-side prune: without it
    // the anti-join's right side would shuffle the whole corpus text column
    println(s"bloom: might_contain in plan = ${blPlan.contains("might_contain")}, " +
      s"anti join present = ${blPlan.contains("LeftAnti")}, " +
      s"corpus fp-pruned (broadcast semi-join) = ${
        blPlan.contains("LeftSemi") && blPlan.contains("BroadcastHashJoin")}")
    // escape hatch (broadcastHitFps=false): the hit-fp semi-join must lose
    // its broadcast hint so a corpus-sized hit slice shuffles instead of
    // blowing the driver (the physical join may still broadcast at this
    // toy scale — assert the hint, the part the flag controls)
    val blShuf = graft.ops.PipelineOps.bloomNewDocs(newB, docsDf, 1000L, 0.01,
      broadcastHitFps = false)
    println(s"bloom escape hatch: broadcast hint dropped = ${
      !blShuf.queryExecution.analyzed.toString.contains("ResolvedHint")}, " +
      s"semi-join kept = ${blShuf.queryExecution.executedPlan.toString.contains("LeftSemi")}")

    println("==== gopher / c4 rule batteries (single codegen map, no shuffle) ====")
    val gq = graft.ops.PipelineOps.gopherQuality(docsDf)
    val gqPlan = gq.queryExecution.executedPlan.toString
    println(s"gopher: shuffle-free = ${!gqPlan.contains("Exchange")}")
    val c4 = graft.ops.PipelineOps.c4LineFilter(docsDf)
    val c4Plan = c4.queryExecution.executedPlan.toString
    println(s"c4: shuffle-free = ${!c4Plan.contains("Exchange")}")

    println("==== PQ ADC scan (corpus side: codes column only + bounded heaps; " +
      "the ONE nested-loop join is the 1-row query broadcast inside the " +
      "<=rerank-row exact re-rank, same as cosineTopK) ====")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pq = graft.ops.PipelineOps.pqTopK(emb, 0L, 10, m = 8, rerank = 50)
    pq.explain("formatted")
    val pqPlan = pq.queryExecution.executedPlan.toString
    println(s"pq: Cartesian = ${pqPlan.contains("Cartesian")} (want false), " +
      s"nested-loop joins = ${"BroadcastNestedLoop".r.findAllIn(pqPlan).size} " +
      "(want 1: the bounded re-rank's 1-row query broadcast)")

    println("==== IVF-PQ ADC scan (probe filters codes on cluster BEFORE the " +
      "heap scan; one nested-loop = the 1-row query broadcast in the exact " +
      "re-rank, same as pqTopK) ====")
    val ivfpq = graft.ops.PipelineOps.ivfPqTopK(emb, 0L, 10,
      nCentroids = 16, nprobe = 4, m = 8, rerank = 50)
    val ivfpqPlan = ivfpq.queryExecution.executedPlan.toString
    println(s"ivfpq: Cartesian = ${ivfpqPlan.contains("Cartesian")} (want false), " +
      s"cluster probe filter = ${ivfpqPlan.contains("cluster#")} (want true), " +
      s"nested-loop joins = ${"BroadcastNestedLoop".r.findAllIn(ivfpqPlan).size} " +
      "(want 1: the bounded re-rank's 1-row query broadcast)")

    println("==== bigram LM surprise (per-row pair transform — no positional " +
      "self-join; LM broadcast to the score join; vocab = 1-row broadcast) ====")
    val bg = graft.ops.PipelineOps.bigramSurprise(docsDf)
    bg.explain("formatted")
    val bgPlan = bg.queryExecution.executedPlan.toString
    println(s"bigram: Cartesian = ${bgPlan.contains("Cartesian")} (want false), " +
      s"LM broadcast-hash joins = ${"BroadcastHashJoin".r.findAllIn(bgPlan).size} " +
      "(want >=1: pairs never shuffle for the score join), " +
      s"1-row vocab nested-loop = ${"BroadcastNestedLoop".r.findAllIn(bgPlan).size} (want 1)")

    println("==== RRF hybrid fusion (each leg cut via TakeOrderedAndProject — " +
      "distributed top-k, no global window over the corpus; fusion joins " +
      "bounded <=legK-row frames) ====")
    val sparseLeg = graft.SparkEntry.bm25DfPublic(spark, docsDf, Seq("spark", "vector"))
    val denseLeg = graft.ops.PipelineOps.cosineTopK(emb, 0L, 50)
    val rrf = graft.ops.PipelineOps.rrfFuse(
      Seq("sparse" -> sparseLeg, "dense" -> denseLeg), 10)
    rrf.explain("formatted")
    val rrfPlan = rrf.queryExecution.executedPlan.toString
    println(s"rrf: TakeOrderedAndProject legs = " +
      s"${"TakeOrderedAndProject".r.findAllIn(rrfPlan).size} (want >=2: one per " +
      s"leg cut + the final top-k), Cartesian = ${rrfPlan.contains("Cartesian")} (want false)")

    println("==== hashSplit (one codegen projection, no exchange) / globalShuffle " +
      "(bucket-partitioned rank + broadcast bucket prefix — the only " +
      "unpartitioned window is over the <=4096 bucket-count rows) ====")
    val hs = graft.ops.PipelineOps.hashSplit(docsDf)
    val hsPlan = hs.queryExecution.executedPlan.toString
    println(s"hashSplit: shuffle-free = ${!hsPlan.contains("Exchange")}, " +
      s"codegen = ${hsPlan.contains("*(")}")
    val gs = graft.ops.PipelineOps.globalShuffle(docsDf)
    gs.explain("formatted")
    val gsPlan = gs.queryExecution.executedPlan.toString
    println(s"globalShuffle: bucket-prefix broadcast join = " +
      s"${"BroadcastHashJoin".r.findAllIn(gsPlan).size} (want 1: corpus rows " +
      "never reshuffle for the prefix), corpus-wide single partitions = " +
      s"${"SinglePartition".r.findAllIn(gsPlan).size} (bucket-count rows only), " +
      s"Cartesian = ${gsPlan.contains("Cartesian")} (want false)")
    println("==== pageRank iteration (rank frame is node-sized; contribution " +
      "join + map-side-combined groupBy(dst) sum; no cartesian) ====")
    val edges = docsDf
      .select(col("doc_id"), col("n_chars"), explode(expr("sequence(0, 2)")).as("j"))
      .select(concat(lit("h"), (col("doc_id") % 40).cast("string")).as("src"),
        concat(lit("h"),
          ((col("doc_id") * 7 + col("j") * 11 + col("n_chars")) % 40).cast("string")).as("dst"))
    val pr = graft.ops.PipelineOps.pageRank(edges, iters = 2)
    val prPlan = pr.queryExecution.executedPlan.toString
    println(s"pagerank: Cartesian = ${prPlan.contains("Cartesian")} (want false)")

    println("==== kNN graph (block-pair kernel: the ONE nested-loop is the " +
      "bid<=bid join over the B-row packed-block frames, never corpus rows; " +
      "candidate merge is a bucket-partitioned window) ====")
    val knn = graft.ops.PipelineOps.knnGraph(emb, 3)
    knn.explain("formatted")
    val knnPlan = knn.queryExecution.executedPlan.toString
    println(s"knn: Cartesian = ${knnPlan.contains("Cartesian")} (want false), " +
      s"block-frame nested-loops = ${"BroadcastNestedLoop".r.findAllIn(knnPlan).size} " +
      "(want 1: B-row block frames only), window partitioned by vec_id = " +
      s"${knnPlan.contains("hashpartitioning(vec_id")} (want true)")

    println("==== semantic decontamination (benchmark block broadcast inside the " +
      "kernel; corpus pass is shuffle-free) ====")
    val sc2 = graft.ops.PipelineOps.semanticContamination(
      emb.where(col("vec_id") % 97 =!= 0), emb.where(col("vec_id") % 97 === 0), 0.3)
    val scPlan = sc2.queryExecution.executedPlan.toString
    println(s"semcontam: shuffle-free = ${!scPlan.contains("Exchange")}, " +
      s"Cartesian = ${scPlan.contains("Cartesian")} (want false)")

    println("==== mixture weights / token entropy (map-side-combined partial " +
      "aggregates; entropy shuffles (doc_id,tok) histogram rows, never text) ====")
    val mw = graft.ops.PipelineOps.mixtureWeights(docsDf, "lang", 0.7)
    val mwPlan = mw.queryExecution.executedPlan.toString
    println(s"mixture: partial agg = ${mwPlan.contains("partial_sum") ||
      mwPlan.contains("HashAggregate")} (want true)")
    val te = graft.ops.PipelineOps.tokenEntropy(docsDf)
    val tePlan = te.queryExecution.executedPlan.toString
    println(s"entropy: partial agg = ${tePlan.contains("HashAggregate")} (want true), " +
      s"Cartesian = ${tePlan.contains("Cartesian")} (want false)")

    println("==== readability / recrawl dedup / exact-k sample ====")
    val rd = graft.ops.PipelineOps.readability(docsDf)
    val rdPlan = rd.queryExecution.executedPlan.toString
    println(s"readability: shuffle-free = ${!rdPlan.contains("Exchange")}, " +
      s"codegen = ${rdPlan.contains("*(")}")
    val rc = graft.ops.PipelineOps.recrawlDedup(
      docsDf.withColumn("url", concat(lit("https://h"), col("doc_id") % 9, lit(".example/p")))
        .withColumn("warc_ts", current_timestamp()))
    val rcPlan = rc.queryExecution.executedPlan.toString
    println(s"recrawl: partial agg (map-side combine) = ${rcPlan.contains("partial_max") ||
      rcPlan.contains("HashAggregate")} (want true), window sort = ${rcPlan.contains("Window")} (want false)")
    val se = graft.ops.PipelineOps.stratifiedSampleExact(docsDf, "lang", 10)
    val sePlan = se.queryExecution.executedPlan.toString
    println(s"exactsample: window partitioned by stratum = " +
      s"${sePlan.contains("hashpartitioning(lang")} (want true), " +
      s"Cartesian = ${sePlan.contains("Cartesian")} (want false)")

    println("==== gopher repetition battery (one explode for all nine n; " +
      "map-side-combined counts; top-gram window partitioned by (doc,n)) ====")
    val gr = graft.ops.PipelineOps.gopherRepetition(docsDf)
    val grPlan = gr.queryExecution.executedPlan.toString
    println(s"battery: Cartesian = ${grPlan.contains("Cartesian")} (want false), " +
      s"partial aggs = ${grPlan.contains("HashAggregate")} (want true), " +
      s"window partitioned by doc = ${grPlan.contains("hashpartitioning(doc_id")} (want true)")

    println("==== cluster-balanced sample (per-cluster permille broadcast back; " +
      "assignment rows never reshuffle) ====")
    val cbs = graft.ops.PipelineOps.clusterBalancedSample(
      emb.select(col("vec_id"), col("label").cast("long").as("cluster")))
    val cbsPlan = cbs.queryExecution.executedPlan.toString
    println(s"clustersample: broadcast join = ${cbsPlan.contains("BroadcastHashJoin")} " +
      s"(want true), Cartesian = ${cbsPlan.contains("Cartesian")} (want false)")

    println("==== recallStats gate row (two bounded top-k frames full-outer " +
      "joined on keys, one agg row — the corpus-sized work is inside the " +
      "operands; no cartesian anywhere) ====")
    val rs = graft.ops.PipelineOps.recallStats(
      graft.ops.PipelineOps.ivfTopK(emb, 0L, 10, 16, 4),
      graft.ops.PipelineOps.cosineTopK(emb, 0L, 10), Seq("vec_id"), 300)
    val rsPlan = rs.queryExecution.executedPlan.toString
    println(s"recallstats: Cartesian = ${rsPlan.contains("Cartesian")} (want false), " +
      s"full-outer merge/hash join present = ${rsPlan.contains("FullOuter")} (want true)")

    println("==== IVF-celled near-dup pairs (ONE shuffle = groupBy(cell); the " +
      "pair kernel is per-cell mapGroups — no cross join, no n^2 rows) ====")
    val ivfPairs = graft.ops.PipelineOps.embeddingNearDupPairsIvf(emb, 0.35, 16)
    val ipPlan = ivfPairs.queryExecution.executedPlan.toString
    println(s"ivfpairs: Cartesian = ${ipPlan.contains("Cartesian")} (want false), " +
      s"MapGroups kernel = ${ipPlan.contains("MapGroups")} (want true), " +
      s"shuffles = ${"Exchange".r.findAllIn(ipPlan).size} " +
      "(want <=3: cell groupBy + the assignment join sides)")

    println("==== contrastive candidate path (nprobe fan-out pairs -> exact " +
      "rescore joins; candidate-sized frames only, no cartesian, no " +
      "unpartitioned corpus window) ====")
    val cpc = graft.ops.PipelineOps.contrastivePairs(emb, 2, 0.3, 0.9, 2, 0.1, 0.3,
      candidatePairs = Some(
        graft.ops.PipelineOps.embeddingNearDupPairsIvf(emb, 0.1, 16, nprobe = 4)))
    val cpcPlan = cpc.queryExecution.executedPlan.toString
    println(s"contrastive-ivf: Cartesian = ${cpcPlan.contains("Cartesian")} (want false), " +
      s"nested-loops = ${"BroadcastNestedLoop".r.findAllIn(cpcPlan).size} " +
      "(want 0: probe-member blocks pair on cell-id EQUALITY, a hash join — " +
      "unlike knnGraph's bid<=bid), rank window partitioned = " +
      s"${cpcPlan.contains("hashpartitioning(vec_id")} (want true)")

    println("==== clusterAgreementStats (doc-sized equi-join + label groupBy; " +
      "final 1-row crossJoin is an explicit broadcast) ====")
    val sd = graft.ops.PipelineOps.semDedup(emb, 0.35)
    val sdIvf = graft.ops.PipelineOps.semDedup(emb, 0.35, Some(ivfPairs))
    val cas = graft.ops.PipelineOps.clusterAgreementStats(
      sdIvf, sd, "vec_id", "canonical_id", 400)
    val casPlan = cas.queryExecution.executedPlan.toString
    println(s"agreement: Cartesian = ${casPlan.contains("Cartesian")} (want false), " +
      s"1-row refinement broadcast = ${"BroadcastNestedLoop".r.findAllIn(casPlan).size} " +
      "(want 1: the refinement row join)")
    spark.stop()
  }
}
