package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.PipelineOps

/** Physical-plan shape of the hot paths on sf0.001: the pushdown, broadcast,
  * shuffle and no-cartesian claims of each operator's scaladoc, asserted on
  * `queryExecution.executedPlan`'s string so a plan regression fails here.
  * (Query planning and kernel reads go through `SegmentFiles`, not Spark
  * scans, so only the docmap fetch is a file scan to check; every
  * kernel-running search call plans the one segment scan leaf.)
  */
class PlanShapeSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  val SfDir = "/root/testdata/sf0.001"
  lazy val docs: DataFrame = spark.read.parquet(s"$SfDir/documents.parquet")
  lazy val emb: DataFrame = spark.read.parquet(s"$SfDir/embeddings.parquet")

  // every side of sf0.001 fits Spark's auto-broadcast threshold, which
  // would plan a dropped broadcast hint as a broadcast anyway; with it off,
  // a broadcast in the plan is one the operator asked for
  private def plan(df: DataFrame): String =
    TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(planAsSized(df))
  private def planAsSized(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def count(p: String, node: String): Int = node.r.findAllIn(p).size
  private def shuffleFree(p: String): Boolean = !p.contains("Exchange")
  // simple-mode plan strings mark codegen stages with a `*(n)` prefix
  private def codegen(p: String): Boolean = p.contains("*(")
  private def noCartesian(p: String): Boolean = !p.contains("Cartesian")

  test("docmap fetch: field pushed to the scan, postings never read") {
    val p = plan(SparkEntry.searcherFor(spark, SfDir).docmapDF
      .where(col("segment") === 0 && col("docId") === 5))
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(field,__doc__\\)".r.findFirstIn(p).isDefined, p)
    assert("ReadSchema: [^\\n]*".r.findFirstIn(p).exists(!_.contains("postings")), p)
    // ReadSchema is cut at 100 characters; the scan's column list is not
    assert("FileScan parquet \\[[^\\]]*".r.findFirstIn(p)
      .exists(cols => cols.contains("term#") && !cols.contains("postings")), p)
  }

  test("every kernel-running call plans one segment scan leaf; its plan string stays short") {
    import graft.search.{Query, SegmentScan}
    val s = SparkEntry.searcherFor(spark, SfDir)
    val q = Query.must(Query.Term("text", "spark"), Query.Term("text", "data"))
    val calls: Seq[(String, () => Any)] = Seq(
      "topDocs" -> (() => s.topDocs(q, 10)),
      "count" -> (() => s.count(q)),
      "batchTopDocs" -> (() => s.batchTopDocs(Seq(q, Query.Term("text", "data")), 10)),
      "batchCount" -> (() => s.batchCount(Seq(q, Query.Term("text", "data")))),
      "allMatches" -> (() => s.allMatches(q).collect()),
      "facetCounts" -> (() => s.facetCounts(q, "facet", "/")),
      "termDocsAndPositions" -> (() => s.termDocsAndPositions("text", "spark").collect()))
    for ((name, call) <- calls) {
      val (_, qes) = SegmentScan.executedDuring(spark)(call())
      val plans = qes.map(_.executedPlan.toString)
      assert(plans.count(_.contains("SegmentScan segments=")) == 1, s"$name: $plans")
      for (node <- Seq("Range", "MapPartitions", "WholeStageCodegen"); p <- plans)
        assert(!p.contains(node), s"$name plans $node: $p")
    }
    // the plan string carries counts, never the compiled queries
    val batch = (0 until 60).map(i => Query.should(Query.Term("text", "spark"), Query.Term("text", s"w$i")))
    val (_, qes) = SegmentScan.executedDuring(spark)(s.batchTopDocs(batch, 10))
    val Seq(qe) = qes
    assert(qe.executedPlan.toString.length < 1024, qe.executedPlan.toString)
    val formatted = qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.length < 1024, formatted)
    assert(qe.executedPlan.toString.contains("queries=60"), qe.executedPlan.toString)
  }

  test("scan pushdown, broadcast LM / bench sides, shuffle-free maps") {
    val range = plan(docs.where(col("n_chars") >= 200 && col("n_chars") < 400).select("doc_id"))
    assert(range.contains("GreaterThanOrEqual(n_chars,200)") &&
      range.contains("LessThan(n_chars,400)"), range)
    val con = plan(PipelineOps.contamination(docs, docs.where(col("doc_id") % 97 === 0), 3))
    assert(con.contains("BroadcastExchange"), con)
    for (lm <- Seq(PipelineOps.lmSurprise(docs), PipelineOps.dsirWeights(docs, col("lang") === "en"))) {
      val p = plan(lm)
      assert(count(p, "BroadcastHashJoin") == 1 && count(p, "BroadcastNestedLoop") == 1, p)
    }
    val rep = plan(PipelineOps.repetitionScore(docs))
    assert(shuffleFree(rep) && codegen(rep), rep)
    val html = plan(PipelineOps.htmlExtract(
      docs.withColumn("html_text", concat(lit("<p>"), col("text"), lit("</p>"))))
      .select("doc_id", "extracted_text"))
    assert(shuffleFree(html), html)
    val url = plan(PipelineOps.urlNormalize(
      docs.withColumn("url", concat(lit("https://h.example/p"), col("doc_id"))))
      .select("doc_id", "canonical_url"))
    assert(shuffleFree(url) && codegen(url), url)
    val para = plan(PipelineOps.paragraphDedup(docs))
    assert(para.contains("partial_min"), para)
  }

  test("pack: doc-side window bucket-partitioned, bucket prefix broadcast") {
    val p = plan(PipelineOps.packSequences(docs, 2048))
    // an unpartitioned Window over the corpus would be a single-reducer sort
    assert(count(p, "Window \\[sum") == 0 ||
      p.contains("hashpartitioning(b#") || p.contains("hashpartitioning(b "), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("decontam / substr: bench grams (dup set) and hit lists both broadcast") {
    val dec = plan(PipelineOps.decontaminateSpans(
      docs.where(col("doc_id") % 97 =!= 0), docs.where(col("doc_id") % 97 === 0), 3))
    assert(count(dec, "BroadcastHashJoin") == 2, dec) // gram probe + hit-list return
    val sub = plan(PipelineOps.exactSubstrDedup(docs, 20))
    assert(noCartesian(sub) && !sub.contains("BroadcastNestedLoop"), sub)
    assert(count(sub, "BroadcastHashJoin") == 2, sub) // dup probe + hit-list return
  }

  test("single codegen map, no shuffle: normalize, gopher, c4, hashSplit, readability") {
    val nrm = plan(PipelineOps.normalizeText(docs).select("doc_id", "norm_text"))
    assert(shuffleFree(nrm) && codegen(nrm), nrm)
    val gq = plan(PipelineOps.gopherQuality(docs))
    assert(shuffleFree(gq), gq)
    val c4 = plan(PipelineOps.c4LineFilter(docs))
    assert(shuffleFree(c4), c4)
    val hs = plan(PipelineOps.hashSplit(docs))
    assert(shuffleFree(hs) && codegen(hs), hs)
    val rd = plan(PipelineOps.readability(docs))
    assert(shuffleFree(rd) && codegen(rd), rd)
  }

  test("bloom: might_contain prunes the batch, corpus side fp-semi-joined") {
    val newB = docs.select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
    val p = plan(PipelineOps.bloomNewDocs(newB, docs, 1000L, 0.01))
    assert(p.contains("might_contain"), p)
    assert(p.contains("LeftAnti"), p)
    // without the broadcast LeftSemi on fp, the anti-join's right side would
    // shuffle the whole corpus text column
    assert(p.contains("LeftSemi") && p.contains("BroadcastHashJoin"), p)
    // broadcastHitFps = false drops the hint (the physical join may still
    // broadcast at this scale; the hint is the part the flag controls)
    val shuf = PipelineOps.bloomNewDocs(newB, docs, 1000L, 0.01, broadcastHitFps = false)
    assert(!shuf.queryExecution.analyzed.toString.contains("ResolvedHint"))
    assert(plan(shuf).contains("LeftSemi"))
  }

  test("pq / ivfpq: the one nested loop is the re-rank's 1-row query broadcast") {
    val pq = plan(PipelineOps.pqTopK(emb, 0L, 10, m = 8, rerank = 50))
    assert(noCartesian(pq) && count(pq, "BroadcastNestedLoop") == 1, pq)
    val ivfpq = plan(PipelineOps.ivfPqTopK(emb, 0L, 10,
      nCentroids = 16, nprobe = 4, m = 8, rerank = 50))
    assert(noCartesian(ivfpq) && count(ivfpq, "BroadcastNestedLoop") == 1, ivfpq)
    assert(ivfpq.contains("cluster#"), ivfpq) // probe filters codes before the heap scan
  }

  test("bigram: LM broadcast to the score join, 1-row vocab nested loop") {
    val p = plan(PipelineOps.bigramSurprise(docs))
    assert(noCartesian(p), p)
    assert(count(p, "BroadcastHashJoin") >= 1, p)
    assert(count(p, "BroadcastNestedLoop") == 1, p)
  }

  test("rrf: each leg cut by TakeOrderedAndProject, no cartesian") {
    val p = plan(PipelineOps.rrfFuse(Seq(
      "sparse" -> SparkEntry.bm25DfPublic(spark, docs, Seq("spark", "vector")),
      "dense" -> PipelineOps.cosineTopK(emb, 0L, 50)), 10))
    assert(count(p, "TakeOrderedAndProject") >= 2, p) // leg cuts + the final top-k
    assert(noCartesian(p), p)
  }

  test("globalShuffle: bucket prefix broadcast, single partitions over bucket rows only") {
    val p = plan(PipelineOps.globalShuffle(docs))
    assert(count(p, "BroadcastHashJoin") == 1, p) // corpus rows never reshuffle
    assert(count(p, "SinglePartition") == 1, p)
    assert(noCartesian(p), p)
  }

  test("pagerank / knn / semcontam: no cartesian; knn's nested loop over block frames") {
    val edges = docs
      .select(col("doc_id"), col("n_chars"), explode(expr("sequence(0, 2)")).as("j"))
      .select(concat(lit("h"), (col("doc_id") % 40).cast("string")).as("src"),
        concat(lit("h"),
          ((col("doc_id") * 7 + col("j") * 11 + col("n_chars")) % 40).cast("string")).as("dst"))
    val pr = plan(PipelineOps.pageRank(edges, iters = 2))
    assert(noCartesian(pr), pr)
    // knnGraph asks for no broadcast: its bid <= bid join over B-row block
    // frames is a nested loop while the frames fit the auto-broadcast
    // threshold, a CartesianProduct of the same frames above it
    val knn = planAsSized(PipelineOps.knnGraph(emb, 3))
    assert(noCartesian(knn), knn)
    assert(count(knn, "BroadcastNestedLoop") == 1, knn) // B-row block frames only
    assert(knn.contains("hashpartitioning(vec_id"), knn)
    val sc = plan(PipelineOps.semanticContamination(
      emb.where(col("vec_id") % 97 =!= 0), emb.where(col("vec_id") % 97 === 0), 0.3))
    assert(shuffleFree(sc) && noCartesian(sc), sc)
  }

  test("map-side-combined aggregates: mixture, entropy, recrawl, battery") {
    val mw = plan(PipelineOps.mixtureWeights(docs, "lang", 0.7))
    assert(mw.contains("partial_sum") || mw.contains("HashAggregate"), mw)
    val te = plan(PipelineOps.tokenEntropy(docs))
    assert(te.contains("HashAggregate") && noCartesian(te), te)
    val rc = plan(PipelineOps.recrawlDedup(
      docs.withColumn("url", concat(lit("https://h"), col("doc_id") % 9, lit(".example/p")))
        .withColumn("warc_ts", current_timestamp())))
    assert(rc.contains("partial_max") || rc.contains("HashAggregate"), rc)
    assert(!rc.contains("Window"), rc)
    val gr = plan(PipelineOps.gopherRepetition(docs))
    assert(noCartesian(gr) && gr.contains("HashAggregate"), gr)
    assert(gr.contains("hashpartitioning(doc_id"), gr) // top-gram window by (doc, n)
  }

  test("samples: exact-k window by stratum, cluster permille broadcast back") {
    val se = plan(PipelineOps.stratifiedSampleExact(docs, "lang", 10))
    assert(se.contains("hashpartitioning(lang") && noCartesian(se), se)
    val cbs = plan(PipelineOps.clusterBalancedSample(
      emb.select(col("vec_id"), col("label").cast("long").as("cluster"))))
    assert(cbs.contains("BroadcastHashJoin") && noCartesian(cbs), cbs)
  }

  test("gate rows: recallStats, IVF pairs, contrastive-ivf, agreement") {
    val rs = plan(PipelineOps.recallStats(
      PipelineOps.ivfTopK(emb, 0L, 10, 16, 4),
      PipelineOps.cosineTopK(emb, 0L, 10), Seq("vec_id"), 300))
    assert(noCartesian(rs) && rs.contains("FullOuter"), rs)

    val ivfPairs = PipelineOps.embeddingNearDupPairsIvf(emb, 0.35, 16)
    val ip = plan(ivfPairs)
    assert(noCartesian(ip) && ip.contains("MapGroups"), ip)
    assert(count(ip, "Exchange") <= 3, ip) // cell groupBy + the assignment join sides

    val cpc = plan(PipelineOps.contrastivePairs(emb, 2, 0.3, 0.9, 2, 0.1, 0.3,
      candidatePairs = Some(PipelineOps.embeddingNearDupPairsIvf(emb, 0.1, 16, nprobe = 4))))
    assert(noCartesian(cpc), cpc)
    // probe-member blocks pair on cell-id equality (a hash join), unlike
    // knnGraph's bid <= bid
    assert(count(cpc, "BroadcastNestedLoop") == 0, cpc)
    assert(cpc.contains("hashpartitioning(vec_id"), cpc)

    val cas = plan(PipelineOps.clusterAgreementStats(
      PipelineOps.semDedup(emb, 0.35, Some(ivfPairs)), PipelineOps.semDedup(emb, 0.35),
      "vec_id", "canonical_id", 400))
    assert(noCartesian(cas), cas)
    assert(count(cas, "BroadcastNestedLoop") == 1, cas) // the 1-row refinement join
  }
}
