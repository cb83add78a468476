package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, regexp_extract}
import graft.index.{Deleter, IndexBuilder, IndexConfig, SegmentMerger, SpaceUsage}
import graft.ops.PipelineOps
import graft.search.{Query, QueryParser, Searcher}
import graft.streaming.StreamingIndexer

/** Fixed sizes of one run, the same for every workload and seed. They are
  * set so that an untraced run takes about 50 s on four cores (of which
  * about 15 s are JVM and Spark start-up and the first Spark job), since
  * a benchmark pass makes 48 runs: most engine calls cost a few Spark jobs
  * whatever the data size.
  */
object Sizes {
  val SearchDocs = 10000L
  val SearchSegments = 8
  val SetupReps = 3
  /** The timed phases run a fixed number of rounds whatever the speed, so a
    * faster engine is measured on the same queries, not on more of them.
    * `--seconds` only caps the batch phase: it starts no further batch once
    * it has run `CapSeconds` times that long, so a very slow engine still
    * ends inside the run's time limit.
    */
  val CapSeconds = 4
  val InteractiveRounds = 1
  val BatchSize = 60
  val Batches = 4
  val BatchChecked = 10
  val K = 10
  /** Two appends of 10% of the index each. */
  val Appends = 2
  val AppendDocs = 1000L
  val FreshQueries = 3
  val MergedChecked = 1
  val MergeTo = 3
  val Vectors = 2000
  /** The C = n/125 rule of the vector gates. */
  val Cells: Int = Vectors / 125
  val Probes = 8
  val AnnQueries = 3
  val ExactQueries = 32
  val ExactBatches = 3
  val GraphSample = 100
  val GraphReps = 1
  /** Edge-recall floor of knnGraphIvf on the clustered vectors (README). */
  val GraphRecallFloor = 0.9
  /** The clustered-data recall@10 gate SimilaritySpec pins for IVF. */
  val AnnRecallFloor = 0.8
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, cores: Int,
    runDir: String, out: String, spans: String)

object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("cores").toInt, kv("run-dir"), kv("out"), kv("spans"))
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * a.cores).toString)
      .config("spark.local.dir", s"${a.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
      .config("spark.locality.wait", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def uptime = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    System.err.println(f"[graftbench] JVM up $uptime%.1f s at Spark start")
    val line = try new Run(spark, a).all() finally spark.stop()
    System.err.println(f"[graftbench] JVM up $uptime%.1f s at Spark stop")
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out), line.getBytes("UTF-8"))
  }
}

/** One benchmark run. Inputs are staged untimed; set-up (repeated, median
  * reported) builds the index and opens a searcher; then the phases run in
  * order: interactive search and batch search on that index, and, in the
  * traced run only, the write phase (appends, a delete, fresh queries, a
  * merge) on the same index and the vector operators. Each operation is
  * timed around its public call only and checked afterwards against
  * references computed apart from the engine.
  */
final class Run(spark: SparkSession, a: Args) {
  import Sizes._
  import Run._
  private val sc = spark.sparkContext
  private val in = new Inputs(a.workload, a.seed)
  private val parser = new QueryParser("text")
  private val tracer = new Tracer(sc, a.trace)
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val attempted = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
  private val failed = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
  private var correct = true
  private val t00 = System.nanoTime()

  private def log(s: String): Unit =
    System.err.println(f"[graftbench ${(System.nanoTime() - t00) / 1e9}%6.1fs] $s")

  /** Runs one operation: `call` is timed, `check` runs after the clock
    * stops. A throw or a failed check counts the operation as failed and
    * yields no sample.
    */
  private def op[T](phase: String, span: String, req: Long = -1L)(call: => T)(check: T => Option[String])
      : Option[(T, Double)] = {
    attempted(phase) += 1
    val res = try {
      val t0 = System.nanoTime()
      val r = tracer.span(span, req)(call)
      Right((r, (System.nanoTime() - t0) / 1e6))
    } catch { case e: Throwable => Left(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val verdict = res.flatMap { case (r, ms) =>
      (try check(r) catch { case e: Throwable => Some(s"check threw $e") }).toLeft((r, ms))
    }
    verdict match {
      case Right(ok) => Some(ok)
      case Left(msg) =>
        failed(phase) += 1
        correct = false
        log(s"FAILED $phase/$span: ${msg.take(400)}")
        None
    }
  }

  private def samples(what: String, xs: Iterable[Double]): Unit =
    log(s"$what samples (${xs.size}, sorted): ${xs.toSeq.sorted.map(x => f"$x%.1f").mkString(" ")}")

  private def parse(q: RQ): Query = parser.parse(q.render)
  private def hitsOf(h: Array[graft.search.SearchHit]): Seq[(String, Float)] = h.toSeq.map(x => (x.url, x.score))
  private def docIdx(url: String): Long = url.drop(url.lastIndexOf('p') + 1).toLong
  private def urlIndex = regexp_extract(col("url"), "p([0-9]+)$", 1).cast("long")

  private def rmrf(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
  }

  /** Fixed CPU-bound loop; its time shows host contention beside a result. */
  private def sentinelMs(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) log("sentinel")
    (System.nanoTime() - t0) / 1e6
  }

  // ------------------------------------------------------------ set-up

  /** Builds the search index and opens a searcher on it. Set-up is repeated
    * and its median reported as `setup_s`, so work moved from queries into
    * set-up shows.
    */
  private def setupOnce(rep: Int, corpus: DataFrame): Setup = {
    val index = s"${a.runDir}/index$rep"
    val t0 = System.nanoTime()
    tracer.span("index.build", rep) {
      IndexBuilder.build(spark, corpus, index, IndexConfig(numPartitions = SearchSegments), resume = false)
    }
    val buildMs = (System.nanoTime() - t0) / 1e6
    Setup(corpus, index, new Searcher(spark, index), buildMs)
  }

  /** Stages, untimed, the inputs of the phases only the traced run has:
    * the write phase's appends and the vectors.
    */
  private def stageTraced(): Staged = {
    val all = in.stageCorpus(spark, s"${a.runDir}/appends", SearchDocs, Appends * AppendDocs, a.cores)
    val appends = (0 until Appends).map { k =>
      val lo = SearchDocs + k * AppendDocs
      all.where(urlIndex >= in.docIndex(lo) && urlIndex < in.docIndex(lo + AppendDocs))
    }
    val vecs = in.vectors(Vectors)
    Staged(all, appends, vecs, in.stageVectors(spark, s"${a.runDir}/vectors", vecs, a.cores))
  }

  // ------------------------------------------------------------ phases

  def all(): String = {
    val selfTest = SelfTest.run()
    selfTest.foreach(f => log(s"SELF-TEST: perturbation not rejected: $f"))
    if (selfTest.nonEmpty) correct = false
    log("self-test done")

    val stealStart = Host.cpuTicks()
    val sentinelStart = sentinelMs()

    // inputs are generated and staged untimed; set-up is what the engine
    // does before the first query: build the index and open a searcher
    val corpus = in.stageCorpus(spark, s"${a.runDir}/corpus", 0, SearchDocs, a.cores)
    log("corpus staged")
    val staged = if (a.trace) Some(stageTraced()) else None
    log("inputs staged")
    val setups = ArrayBuffer.empty[(Setup, Double)]
    for (rep <- 0 until SetupReps) {
      setups.lastOption.foreach(_ => rmrf(s"${a.runDir}/index${rep - 1}"))
      op("setup", "setup", rep)(setupOnce(rep, corpus)) { st =>
        val n = st.searcher.manifest.totalDocs
        if (n != SearchDocs) Some(s"index holds $n docs, want $SearchDocs") else None
      }.foreach(setups += _)
      log(s"set-up $rep done")
    }
    if (setups.isEmpty) throw new IllegalStateException("set-up failed every time")
    val setup = setups.last._1
    e2e("setup_s") = (Stats.median(setups.map(_._2 / 1000.0).toSeq), "s")
    layer("index.build_docs_per_s") = (SearchDocs / (setups.map(_._1.buildMs).min / 1000.0), "docs/s")
    e2e("index_bytes_per_doc") = (SpaceUsage.filesystemBytes(spark, setup.index).toDouble / SearchDocs, "bytes/doc")
    if (a.trace) builtSpace = Some(setup.searcher.spaceUsage)
    log("set-up done")

    val queries = Queries(
      rounds = in.interactiveRounds(InteractiveRounds, SearchDocs),
      warm = new Inputs(a.workload, a.seed, stream = 1).interactiveRounds(1, SearchDocs),
      batchLog = in.batchLog(Batches, SearchDocs),
      fresh = (0 until FreshQueries).map(i => in.query(Seq("term", "and2", "or2", "not")(i % 4), SearchDocs)),
      deleted = RTerm(in.deletedTerm))
    val ref = TextRef.compute(spark, staged.fold(setup.corpus)(st => setup.corpus.unionByName(st.appendAll)), queries.all)
    log("reference computed")

    interactive(setup, ref, queries)
    log("interactive phase done")
    batch(setup, ref, queries)
    log("batch phase done")
    recount(setup, ref, queries)
    // the write and vector phases cost a run ~25 s, more than the per-run
    // time budget leaves: they run, checked, in the traced run only
    staged.foreach { st =>
      write(setup, st, ref, queries)
      log("write phase done")
      vectors(st)
      log("vector phase done")
    }

    val sentinelEnd = sentinelMs()
    val stealPct = Host.stealPct(stealStart, Host.cpuTicks())
    if (a.trace) {
      val stats = tracer.finish()
      tracer.dump(stats, java.nio.file.Paths.get(a.spans))
      perLayer(stats, setup, staged.get, queries)
      layer("host.sentinel_start_ms") = (sentinelStart, "ms")
      layer("host.sentinel_end_ms") = (sentinelEnd, "ms")
      layer("host.steal_pct") = (stealPct, "%")
      layer("jvm.peak_rss_mb") = (peakRssMb, "MB")
      layer("jvm.gc_ms") = (gcMs, "ms")
      log(s"span dump: ${a.spans} (${stats.size} spans)")
    } else log(f"host sentinel: start $sentinelStart%.1f ms, end $sentinelEnd%.1f ms; cpu steal $stealPct%.1f%%")

    attempted.keys.foreach(p => log(s"operations $p: attempted ${attempted(p)}, failed ${failed(p)}"))
    val metrics = if (a.trace) layer else e2e
    metrics.foreach { case (k, (v, u)) => log(f"$k%-40s $v%14.4f $u") }
    Json.obj(Seq(
      "correct" -> correct,
      "attempted" -> attempted.values.sum,
      "failed" -> failed.values.sum,
      "metrics" -> Json.Raw(Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
      }))))
  }


  /** The search corpus alone: docs before the appends. */
  private def searchView(ref: TextRef): TextRef#View = {
    val base = ref.urls.map(u => docIdx(u) < in.docIndex(SearchDocs))
    ref.view(visible = base, counted = base)
  }

  private val parseUs = ArrayBuffer.empty[Double]
  private val countMs = ArrayBuffer.empty[Double]
  private val interactiveTerms = mutable.Map.empty[Long, Int]
  private var traceOverheadPct = 0.0

  private def interactive(s: Setup, ref: TextRef, qs: Queries): Unit = {
    val v = searchView(ref)
    val aggJson = """{"langs":{"terms":{"field":"lang","size":10}}}"""
    def topDocs(q: RQ, req: Long): Option[Double] =
      op("interactive", if (req < 0) "warmup" else "search.topdocs", req) {
        val t0 = System.nanoTime()
        val pq = tracer.span("search.parse", req)(parse(q))
        parseUs += (System.nanoTime() - t0) / 1e3
        s.searcher.topDocs(pq, K)
      }(h => Check.topDocs(v, ref, q, K, hitsOf(h))).map(_._2)
    def agg(q: RQ, req: Long): Option[Double] =
      op("interactive", if (req < 0) "warmup" else "agg.aggregate", req)(s.searcher.aggregate(parse(q), aggJson))(
        j => Check.langAgg(v, ref, q, langBuckets(j))).map(_._2)

    // warm-up (JIT, codegen, Parquet footers) with queries that are not measured
    qs.warm.foreach { case (td, cnt, ag) =>
      td.take(1).foreach(topDocs(_, -1)); cnt.take(1).foreach(count(s, v, _, -1))
      if (a.trace) agg(ag, -1)
    }

    val plannerSearcher = if (a.trace) Some(new Searcher(spark, s.index)) else None
    val searchMs = ArrayBuffer.empty[Double]
    val aggMs = ArrayBuffer.empty[Double]
    val untracedMs = ArrayBuffer.empty[Double]
    def traced(q: RQ, req: Long): Unit = {
      interactiveTerms(req) = math.max(1, q.terms.size)
      topDocs(q, req).foreach(searchMs += _)
    }
    // the traced run also times each topDocs string untraced (listener
    // unregistered), alternately before and after its traced call, so the
    // overhead figure compares the same queries at the same warmth
    def untraced(q: RQ, req: Long): Unit = {
      tracer.paused = true
      try topDocs(q, req).foreach(untracedMs += _) finally tracer.paused = false
    }
    qs.rounds.zipWithIndex.foreach { case ((td, cnt, ag), r) =>
      td.zipWithIndex.foreach { case (q, i) =>
        val req = r * 100L + i
        if (!a.trace) topDocs(q, req).foreach(searchMs += _)
        else if ((r + i) % 2 == 0) { untraced(q, req); traced(q, req) }
        else { traced(q, req); untraced(q, req) }
        // planning alone, on a second searcher, after the timed calls so it warms nothing for them
        plannerSearcher.foreach(ps => tracer.span("search.plan", req)(ps.plan(parse(q))))
        if (cnt.contains(q)) count(s, v, q, r * 100L + 50 + i).foreach(countMs += _)
      }
      if (a.trace) agg(ag, r * 100L + 99).foreach(aggMs += _)
    }
    log(s"interactive: ${qs.rounds.size} rounds")
    samples("topDocs", searchMs)
    if (searchMs.nonEmpty) e2e("search_p50_ms") = (Stats.median(searchMs.toSeq), "ms")
    if (aggMs.nonEmpty) layer("agg.p50_ms") = (Stats.median(aggMs.toSeq), "ms")
    if (a.trace && untracedMs.nonEmpty && searchMs.nonEmpty) {
      traceOverheadPct = 100.0 * (Stats.median(searchMs.toSeq) / Stats.median(untracedMs.toSeq) - 1.0)
      log(f"topDocs median traced ${Stats.median(searchMs.toSeq)}%.1f ms, untraced ${Stats.median(untracedMs.toSeq)}%.1f ms")
    }
  }

  /** Counts a boolean query the searcher has just planned: the total a
    * results page shows beside its top ten.
    */
  private def count(s: Setup, v: TextRef#View, q: RQ, req: Long): Option[Double] =
    op("interactive", if (req < 0) "warmup" else "search.count", req)(s.searcher.count(parse(q)))(
      n => Check.count(v, q, n)).map(_._2)

  /** Counts each boolean query of the interactive rounds once more, after
    * the batch phase, so the count samples come from two stretches of the
    * run and a burst of host contention moves fewer of them: with all
    * counts at the end of the round, `count_p50_ms` read IQR/median 0.28
    * (5 counts) and 0.20 (10) over ten `head_terms` seeds. The second
    * count of a query takes the same path as the first: the searcher
    * caches doc freqs, not counts.
    */
  private def recount(s: Setup, ref: TextRef, qs: Queries): Unit = {
    val v = searchView(ref)
    for (((_, cnt, _), r) <- qs.rounds.zipWithIndex; (q, i) <- cnt.zipWithIndex)
      count(s, v, q, r * 100L + 70 + i).foreach(countMs += _)
    samples("count", countMs)
    if (countMs.nonEmpty) e2e("count_p50_ms") = (Stats.median(countMs.toSeq), "ms")
  }

  /** Fixed-size batches of the query log, each scored (and, in the traced
    * run, counted).
    */
  private def batch(s: Setup, ref: TextRef, qs: Queries): Unit = {
    val v = searchView(ref)
    val pick = new scala.util.Random(a.seed * 31 + 7)
    val topRates = ArrayBuffer.empty[Double]
    val countRates = ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    val batches = qs.batchLog
    var b = 0
    while (b < batches.size && (b == 0 || (System.nanoTime() - start) / 1e9 < CapSeconds * a.seconds)) {
      val batch = batches(b)
      val sample = Seq.fill(BatchChecked)(pick.nextInt(batch.size)).distinct
      op("batch", "search.batch_topdocs", b)(s.searcher.batchTopDocs(batch.map(parse), K)) { res =>
        if (res.size != batch.size) Some(s"${res.size} results for ${batch.size} queries")
        else sample.iterator.map(i => Check.topDocs(v, ref, batch(i), K, hitsOf(res(i)))).collectFirst { case Some(e) => e }
      }.foreach { case (_, ms) => topRates += batch.size / (ms / 1000.0) }
      if (a.trace) op("batch", "search.batch_count", b)(s.searcher.batchCount(batch.map(parse))) { res =>
        if (res.size != batch.size) Some(s"${res.size} counts for ${batch.size} queries")
        else batch.indices.iterator.map(i => Check.count(v, batch(i), res(i))).collectFirst { case Some(e) => e }
      }.foreach { case (_, ms) => countRates += batch.size / (ms / 1000.0) }
      b += 1
    }
    log(s"batch: $b batches of $BatchSize")
    samples("batchTopDocs queries/s", topRates)
    if (topRates.nonEmpty) e2e("batch_qps") = (topRates.max, "queries/s")
    if (countRates.nonEmpty) layer("search.batch_count_qps") = (countRates.max, "queries/s")
  }

  private def langBuckets(json: String): Map[String, Long] = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val buckets = org.json4s.jackson.JsonMethods.parse(json) \ "langs" \ "buckets"
    buckets.children.map(b => (b \ "key").extract[String] -> (b \ "doc_count").extract[Long]).toMap
  }

  private var segmentsBeforeMerge = 0
  private var segmentsAfterMerge = 0
  private var mergedBytes = 0L
  private var builtSpace: Option[SpaceUsage.SearcherSpaceUsage] = None

  /** Appends, a delete, fresh queries and a merge on the search index (the
    * search phases are done with it). Between steps a new Searcher on the
    * latest commit answers checked queries.
    */
  private def write(s: Setup, st: Staged, ref: TextRef, qs: Queries): Unit = {
    val dir = s.index
    val total = SearchDocs + Appends * AppendDocs
    val deleted = ref.view().matches(qs.deleted)
    val alive = total - deleted.size
    def manifestDocs(want: Long)(m: graft.index.IndexManifest): Option[String] =
      if (m.totalDocs != want) Some(s"manifest holds ${m.totalDocs} docs, want $want") else None
    def searchedDocs(want: Long): Option[String] = {
      val n = new Searcher(spark, dir).count(Query.All)
      if (n != want) Some(s"count(*) = $n, want $want") else None
    }

    val appendMs = ArrayBuffer.empty[Double]
    st.appends.zipWithIndex.foreach { case (df, k) =>
      op("write", "index.append", k) {
        StreamingIndexer.appendBatch(spark, df, dir, IndexConfig(numPartitions = SearchSegments), k.toLong)
      }(manifestDocs(SearchDocs + (k + 1) * AppendDocs)).foreach(appendMs += _._2)
    }
    if (appendMs.size == Appends)
      layer("index.append_docs_per_s") = (Appends * AppendDocs / (appendMs.sum / 1000.0), "docs/s")
    op("write", "index.delete")(Deleter.deleteTerm(spark, dir, "text", in.deletedTerm)) { _ =>
      val n = new Searcher(spark, dir).count(parse(qs.deleted))
      if (n != 0) Some(s"deleted term still matches $n docs") else None
    }.foreach { case (_, ms) => layer("index.delete_ms") = (ms, "ms") }

    // post-delete, pre-merge: deleted docs invisible, statistics unchanged
    val preMerge = ref.view(visible = d => !deleted(d), counted = _ => true)
    val fs = new Searcher(spark, dir)
    segmentsBeforeMerge = fs.manifest.segments.size
    val freshMs = ArrayBuffer.empty[Double]
    qs.fresh.zipWithIndex.foreach { case (q, i) =>
      op("write", "search.fresh_topdocs", i)(fs.topDocs(parse(q), K))(
        h => Check.topDocs(preMerge, ref, q, K, hitsOf(h))).foreach(freshMs += _._2)
    }
    if (freshMs.nonEmpty) layer("search.fresh_topdocs_p50_ms") = (Stats.median(freshMs.toSeq), "ms")

    val m0 = fs.manifest
    val groups = SegmentMerger.plan(m0, math.ceil(m0.segments.size / MergeTo.toDouble).toInt)
    op("write", "index.merge")(SegmentMerger.merge(spark, dir, groups)) { m =>
      manifestDocs(alive)(m).orElse(searchedDocs(alive))
    }.foreach { case (m, ms) =>
      layer("index.merge_s") = (ms / 1000.0, "s")
      segmentsAfterMerge = m.segments.size
      mergedBytes = SpaceUsage.filesystemBytes(spark, dir)
    }
    // once the merge purges them, deleted docs leave the statistics too
    val postMerge = ref.view(visible = d => !deleted(d), counted = d => !deleted(d))
    val ms = new Searcher(spark, dir)
    qs.fresh.take(MergedChecked).zipWithIndex.foreach { case (q, i) =>
      op("write", "search.merged_topdocs", i)(ms.topDocs(parse(q), K))(
        h => Check.topDocs(postMerge, ref, q, K, hitsOf(h)))
    }
  }

  private def vectors(s: Staged): Unit = {
    val ref = new VecRef(s.vecs)
    val emb = s.vecDF
    val annMs = ArrayBuffer.empty[Double]
    val annGot = ArrayBuffer.empty[(Int, Seq[Int])]
    val annQs = in.pick(AnnQueries + 1, Vectors)
    annQs.zipWithIndex.foreach { case (q, i) =>
      // the first call warms the vector path (JIT, codegen) and is not measured:
      // it took about twice as long as the later ones
      op("vector", if (i == 0) "warmup" else "ops.ann", i) {
        PipelineOps.ivfTopK(emb, q.toLong, K, Cells, Probes).collect()
      } { rows =>
        val got = rows.toSeq.map(r => (r.getLong(0).toInt, r.getDouble(1)))
        VecCheck.approx(ref, q, K, got).orElse { annGot += q -> got.map(_._1); None }
      }.foreach { case (_, ms) => if (i > 0) annMs += ms }
    }
    VecCheck.recallGate(ref, K, AnnRecallFloor, annGot.toSeq).foreach { e =>
      correct = false
      log(s"FAILED vector/ops.ann: $e")
      failed("vector") += annGot.size
      annMs.clear()
    }
    samples("ann", annMs)
    if (annMs.nonEmpty) layer("ops.ann_p50_ms") = (Stats.median(annMs.toSeq), "ms")

    val exactRates = ArrayBuffer.empty[Double]
    for (b <- 0 until ExactBatches) {
      val exactQs = in.pick(ExactQueries, Vectors)
      op("vector", "ops.exact_topk", b) {
        PipelineOps.cosineTopKBatch(emb, exactQs.map(_.toLong), K).collect()
      } { rows =>
        val byQ = rows.toSeq.groupBy(_.getLong(0).toInt)
        exactQs.iterator.map { q =>
          val got = byQ.getOrElse(q, Nil).sortBy(_.getLong(3)).map(r => (r.getLong(1).toInt, r.getDouble(2)))
          VecCheck.exact(ref, q, K, exactQs.toSet, got)
        }.collectFirst { case Some(e) => e }
      }.foreach { case (_, ms) => exactRates += ExactQueries / (ms / 1000.0) }
    }
    if (exactRates.nonEmpty) layer("ops.exact_topk_qps") = (exactRates.max, "queries/s")

    val sample = in.pick(GraphSample, Vectors)
    val knnSecs = ArrayBuffer.empty[Double]
    for (g <- 0 until GraphReps) op("vector", "ops.knn_graph", g) {
      PipelineOps.knnGraphIvf(emb, K, Cells, Probes).collect()
    } { rows =>
      val edges = rows.toSeq.map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2)))
      val byV = edges.groupBy(_._1)
      if (byV.size != Vectors) Some(s"${byV.size} vertices have out-edges, want $Vectors")
      else if (byV.exists(_._2.size != K)) Some(s"a vertex has ${byV.find(_._2.size != K).get._2.size} out-edges, want $K")
      else if (edges.exists(e => e._1 == e._2)) Some("self edge")
      else {
        val perV = sample.map(q => q -> byV(q).map(e => (e._2, e._3)).sortBy(-_._2))
        perV.iterator.map { case (q, got) => VecCheck.approx(ref, q, K, got) }.collectFirst { case Some(e) => e }
          .orElse {
            val ids = perV.map { case (q, got) => q -> got.map(_._1) }
            log(f"knnGraphIvf edge recall@$K on $GraphSample vertices: ${VecCheck.meanRecall(ref, K, ids)}%.3f")
            VecCheck.recallGate(ref, K, GraphRecallFloor, ids)
          }
      }
    }.foreach { case (_, ms) => knnSecs += ms / 1000.0 }
    if (knnSecs.nonEmpty) layer("ops.knn_graph_s") = (knnSecs.min, "s")
  }

  // ------------------------------------------------------------ per-layer

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private def gcMs: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble
  }

  private def perLayer(stats: Seq[SpanStats], s: Setup, st: Staged, qs: Queries): Unit = {
    def named(n: String) = stats.filter(_.span.name == n)
    def med(n: String)(f: SpanStats => Double): Double = {
      val xs = named(n)
      if (xs.isEmpty) 0.0 else Stats.median(xs.map(f))
    }
    def sum(n: String)(f: SpanStats => Double): Double = named(n).map(f).sum
    val nSegs = s.searcher.manifest.segments.size
    val batchQs = BatchSize.toDouble

    layer("search.parse_us") = (Stats.median(parseUs.toSeq), "us")
    layer("search.plan_ms") = (med("search.plan")(_.durMs), "ms")
    layer("search.topdocs_jobs") = (med("search.topdocs")(_.jobs), "count")
    layer("search.topdocs_stages") = (med("search.topdocs")(_.stages), "count")
    layer("search.topdocs_tasks") = (med("search.topdocs")(_.tasks.size), "count")
    layer("search.topdocs_self_ms") = (med("search.topdocs")(_.selfMs), "ms")
    layer("search.topdocs_task_cpu_ms") = (med("search.topdocs")(_.taskCpuMs), "ms")
    layer("search.topdocs_scan_bytes") = (med("search.topdocs")(_.inBytes.toDouble), "bytes")
    // posting rows read per (query term x segment); prefix queries count one term
    val termsOfReq = interactiveTerms
    layer("search.scan_rows_per_term_seg") = (med("search.topdocs") { st =>
      st.inRecords.toDouble / (termsOfReq.getOrElse(st.span.req, 1) * nSegs)
    }, "rows")
    layer("search.count_jobs") = (med("search.count")(_.jobs), "count")
    layer("search.count_self_ms") = (med("search.count")(_.selfMs), "ms")
    layer("search.batch_jobs") = (med("search.batch_topdocs")(_.jobs), "count")
    layer("search.batch_self_ms") = (med("search.batch_topdocs")(_.selfMs), "ms")
    layer("search.batch_task_cpu_ms_per_query") = (med("search.batch_topdocs")(_.taskCpuMs / batchQs), "ms")
    layer("search.batch_scan_bytes_per_query") = (med("search.batch_topdocs")(_.inBytes / batchQs), "bytes")
    layer("search.batch_shuffle_bytes_per_query") = (med("search.batch_topdocs")(_.shuffleBytes / batchQs), "bytes")
    layer("search.batch_task_skew") = (med("search.batch_topdocs")(_.taskSkew), "ratio")
    layer("search.batch_count_task_cpu_ms_per_query") = (med("search.batch_count")(_.taskCpuMs / batchQs), "ms")
    layer("search.fresh_topdocs_tasks") = (med("search.fresh_topdocs")(_.tasks.size), "count")
    layer("search.fresh_topdocs_self_ms") = (med("search.fresh_topdocs")(_.selfMs), "ms")

    layer("agg.jobs") = (med("agg.aggregate")(_.jobs), "count")
    layer("agg.task_cpu_ms") = (med("agg.aggregate")(_.taskCpuMs), "ms")
    layer("agg.self_ms") = (med("agg.aggregate")(_.selfMs), "ms")

    // per build: the median of the set-up builds
    layer("index.build_task_cpu_s") = (med("index.build")(_.taskCpuMs) / 1000.0, "s")
    layer("index.build_gc_ms") = (med("index.build")(_.gcMs), "ms")
    layer("index.build_shuffle_bytes") = (med("index.build")(_.shuffleBytes.toDouble), "bytes")
    layer("index.build_task_skew") = (med("index.build")(_.taskSkew), "ratio")
    layer("index.build_bytes_written") = (med("index.build")(_.outBytes.toDouble), "bytes")
    builtSpace.foreach { u =>
      layer("index.postings_bytes") = (u.segments.map(_.postingsBytes).sum.toDouble, "bytes")
      layer("index.positions_bytes") = (u.segments.map(_.positionsBytes).sum.toDouble, "bytes")
      layer("index.termdict_bytes") = (u.segments.map(_.termdictBytes).sum.toDouble, "bytes")
      layer("index.docmap_bytes") = (u.segments.map(_.storeBytes).sum.toDouble, "bytes")
    }
    layer("index.append_task_cpu_s") = (sum("index.append")(_.taskCpuMs) / 1000.0, "s")
    layer("index.append_self_ms") = (sum("index.append")(_.selfMs), "ms")
    layer("index.segments_before_merge") = (segmentsBeforeMerge.toDouble, "count")
    layer("index.segments_after_merge") = (segmentsAfterMerge.toDouble, "count")
    layer("index.merge_task_cpu_s") = (sum("index.merge")(_.taskCpuMs) / 1000.0, "s")
    layer("index.merge_bytes_read") = (sum("index.merge")(_.inBytes.toDouble), "bytes")
    layer("index.merge_bytes_written") = (sum("index.merge")(_.outBytes.toDouble), "bytes")
    layer("index.merge_write_amp") = (sum("index.merge")(_.outBytes.toDouble) / math.max(1L, mergedBytes), "ratio")

    val (tokPerS, decMb, encMb) = microLayers(s, qs)
    layer("analysis.tokens_per_s") = (tokPerS, "tokens/s")
    layer("codec.decode_mb_per_s") = (decMb, "MB/s")
    layer("codec.encode_mb_per_s") = (encMb, "MB/s")

    layer("ops.ivf_train_ms") = (ivfTrainMs(st), "ms")
    layer("ops.ann_jobs") = (med("ops.ann")(_.jobs), "count")
    layer("ops.ann_task_cpu_ms") = (med("ops.ann")(_.taskCpuMs), "ms")
    layer("ops.ann_self_ms") = (med("ops.ann")(_.selfMs), "ms")
    layer("ops.exact_topk_task_cpu_ms") = (med("ops.exact_topk")(_.taskCpuMs), "ms")
    layer("ops.knn_graph_task_cpu_s") = (med("ops.knn_graph")(_.taskCpuMs) / 1000.0, "s")
    layer("ops.knn_graph_shuffle_bytes") = (med("ops.knn_graph")(_.shuffleBytes.toDouble), "bytes")
    layer("ops.knn_graph_task_skew") = (med("ops.knn_graph")(_.taskSkew), "ratio")
    layer("trace.overhead_pct") = (traceOverheadPct, "%")
  }


  /** Single-thread layer rates outside Spark: the analyzer over a fixed doc
    * sample, and the postings codec over the batch log's posting rows.
    */
  private def microLayers(s: Setup, qs: Queries): (Double, Double, Double) = {
    val texts = (0 until 2000).map(i => graft.corpus.WebCorpus.genText(i * Inputs.Stride))
    def rate(minMs: Double)(f: => Long): Double = {
      var units = 0L
      val t0 = System.nanoTime()
      var el = 0.0
      while (el < minMs) { units += f; el = (System.nanoTime() - t0) / 1e6 }
      units / (el / 1000.0)
    }
    texts.foreach(graft.analysis.Analyzer.tokenize(_))
    val tokPerS = rate(500)(texts.map(t => graft.analysis.Analyzer.tokenize(t).size.toLong).sum)

    val terms = qs.batchLog.flatten.flatMap(_.terms).distinct
    import spark.implicits._
    val rows = spark.read.parquet(s"${s.index}/postings")
      .where(col("field") === "text" && col("term").isin(terms: _*))
      .select("docFreq", "postings", "skip").as[(Int, Array[Byte], Array[Byte])].collect()
    val inBytes = rows.map(r => r._2.length + r._3.length).sum.toLong
    val decoded = rows.map(r => graft.codec.PostingsCodec.decodeAll(r._1, r._2, r._3, readFreqs = true))
    val decMb = rate(500) {
      rows.foreach(r => graft.codec.PostingsCodec.decodeAll(r._1, r._2, r._3, readFreqs = true)); inBytes
    } / 1e6
    val encMb = rate(500) {
      decoded.iterator.map { case (docs, tfs, bounds) =>
        val e = graft.codec.PostingsCodec.encode(docs, tfs, null, d => 0.toByte, withFreqs = true)
        (e.postings.length + e.skip.length).toLong
      }.sum
    } / 1e6
    (tokPerS, decMb, encMb)
  }

  private def ivfTrainMs(s: Staged): Double = {
    val t0 = System.nanoTime()
    tracer.span("ops.ivf_train")(PipelineOps.ivfAssignments(s.vecDF, Cells))
    (System.nanoTime() - t0) / 1e6
  }
}

object Run {
  final case class Setup(corpus: DataFrame, index: String, searcher: Searcher, buildMs: Double)
  final case class Staged(appendAll: DataFrame, appends: Seq[DataFrame],
      vecs: Array[Array[Float]], vecDF: DataFrame)
  final case class Queries(rounds: Seq[(Seq[RQ], Seq[RQ], RQ)], warm: Seq[(Seq[RQ], Seq[RQ], RQ)],
      batchLog: Seq[Seq[RQ]], fresh: Seq[RQ], deleted: RQ) {
    def all: Seq[RQ] =
      (rounds ++ warm).flatMap { case (td, cnt, agg) => td ++ cnt :+ agg } ++ batchLog.flatten ++ fresh :+ deleted
  }
}

/** Host contention as the guest sees it: the share of CPU time stolen by the
  * hypervisor over the run, from /proc/stat (0 where that is unavailable).
  */
object Host {
  /** (steal, total) jiffies summed over all CPUs. */
  def cpuTicks(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  } catch { case _: Exception => (0L, 0L) }

  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 <= a._2) 0.0 else 100.0 * (b._1 - a._1) / (b._2 - a._2)
}
