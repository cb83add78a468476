package graft.search

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SerializableWritable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ScanShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.index.{IndexManifest, PostingRow, SegmentFiles, Snapshots}
import graft.index.SegmentFiles.{AllOf, Clause, Terms}

/** Point-in-time searcher over an index directory — the reference's
  * `Searcher` (`/root/reference/src/core/searcher.rs:69`): the manifest is
  * the snapshot. Every kernel-running call takes ONE path, the reference's
  * `search_with_executor` (`searcher.rs:220-236`, SURVEY.md §3.2); a single
  * `topDocs` / `count` is a batch of one, and runs as one Spark job of one
  * stage:
  *
  *   1. driver, no Spark job: dictionary expansion (fuzzy/regex/range/set)
  *      and global doc freqs in ONE filtered read of every segment file's
  *      (field, term, docFreq) columns per batch ([[TermDictionary]] over
  *      [[SegmentFiles]]; doc freqs memoized; N, totalTokens from the
  *      manifest) -> BM25 weights -> compiled queries;
  *   2. executors ([[scan]]): a [[SegmentScan]] leaf, planned without
  *      whole-stage codegen into a [[SegmentScanExec]] whose partitions are
  *      the (segment, query shard) tasks. Each reads its own segment's
  *      files, pruned to its queries' terms and ranges, runs their scorer
  *      DAG + WAND top-k (`collect_segment`; the rayon fan-out,
  *      `src/core/executor.rs:11-37`) and resolves its top docs' urls from
  *      the segment's `__doc__` rows (the store reader);
  *   3. driver: the scan's rows are collected straight off the physical
  *      plan, and each query's per-segment fruits merge in a TopNComputer
  *      (`merge_fruits`, O(segments × k) per query).
  *
  * Every read returns only the query terms' rows (plus the one norms row
  * per text field and segment). Each segment file is decoded once per JVM
  * by its `SegmentReader`, while the cache has room for it, so planning,
  * kernel reads and url fetches after the first open no file.
  * The segment listing is read lazily, at the first query, never by the
  * constructor.
  */
final class Searcher(spark: SparkSession, indexDir: String, asOfSeq: Option[Long] = None)
    extends Serializable {

  val manifest: IndexManifest = asOfSeq match {
    case Some(seq) => Snapshots.readAt(spark, indexDir, seq)
      .getOrElse(throw new IllegalStateException(s"no snapshot $seq at $indexDir (expired?)"))
    case None => IndexManifest.read(spark, indexDir)
      .getOrElse(throw new IllegalStateException(s"no manifest at $indexDir"))
  }

  import TermDictionary.{Walk, walkOf}

  ScanShim.installStrategy(spark, SegmentScanStrategy)

  private def hadoopConf: Configuration = spark.sparkContext.hadoopConfiguration

  /** This snapshot's segment files — only the manifest's segments, so files
    * of other snapshots (pre-merge inputs kept by `merge(keepOld = true)`,
    * newer commits) stay invisible here. Listed once per Searcher.
    */
  private lazy val segmentFiles: Seq[SegmentFiles] =
    SegmentFiles.list(hadoopConf, indexDir, manifest.segmentIds)
  private lazy val filesBySeg: Map[Int, SegmentFiles] = segmentFiles.map(f => f.segment -> f).toMap
  private lazy val bConf = spark.sparkContext.broadcast(new SerializableWritable(hadoopConf))

  /** Driver-side read of `segs`' rows matching `clauses`, the segments in
    * parallel; `f` sees one row at a time, in no fixed order.
    */
  private def readRows(segs: Seq[SegmentFiles], columns: Seq[String], clauses: Seq[Clause])(
      f: PostingRow => Unit): Unit = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    val conf = hadoopConf
    val lock = new Object
    segs.map(seg => Future(seg.read(conf, columns, clauses)(r => lock.synchronized(f(r))))(
      ExecutionContext.global)).foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
  }

  /** Doc-map view over the segment table (field == __doc__ rows), pinned to
    * this manifest's segments. Fast fields declared at build time
    * (`IndexConfig.fast*Fields`) flatten from the typed map columns into
    * named columns — the reference's fast-field reader surface
    * (`src/fastfield/mod.rs`): sort / filter / aggregate over matches
    * without touching postings or the source table.
    */
  lazy val docmapDF: DataFrame = {
    val base = spark.read.parquet(s"$indexDir/postings")
      .where(col("segment").isin(manifest.segmentIds: _*) && col("field") === PostingRow.DocField)
    val withFf = manifest.fastFields.foldLeft(base) { (df, ff) =>
      val m = ff.ftype match {
        case "long"    => "ffLongs"
        case "double"  => "ffDoubles"
        case "string"  => "ffStrings"
        case "longs"   => "ffLongArrays"
        case "strings" => "ffStringArrays"
        case other => throw new IllegalStateException(s"unknown fast-field type '$other'")
      }
      df.withColumn(ff.name, element_at(col(m), ff.name))
    }
    withFf.select(Seq(col("segment"), col("docFreq").as("docId"), col("term").as("url"),
      col("ts").as("warc_ts"), col("lang")) ++ manifest.fastFields.map(f => col(f.name)): _*)
  }

  /** Tombstoned (field, term) pairs applicable per segment (opstamp rule);
    * their postings ride along in every kernel read so tasks can assemble
    * the dead-doc set without an extra job.
    */
  private val deleteTermsBySeg: Map[Int, Seq[(String, String)]] =
    manifest.segments
      .map(m => m.segment -> manifest.deletesFor(m)
        .filter(_.field != graft.index.DeleteTerm.QueryField)
        .map(d => (d.field, d.term)))
      .filter(_._2.nonEmpty).toMap

  /** Delete-by-QUERY tombstones (`IndexWriter::delete_query` analog),
    * applicable per segment: parsed with the index's recorded analyzer and
    * compiled once per snapshot, then shipped to kernel tasks where each
    * segment evaluates them against its own postings to extend the dead-doc
    * set — lazy per-segment resolution, no doc-id lists cross the network.
    */
  private lazy val deleteQueriesBySeg: Map[Int, Seq[CQuery]] = {
    val bySeg = manifest.segments
      .map(m => m.segment -> manifest.deletesFor(m)
        .filter(_.field == graft.index.DeleteTerm.QueryField).map(_.term))
      .filter(_._2.nonEmpty)
    if (bySeg.isEmpty) Map.empty
    else {
      val parser = new QueryParser(manifest.textField,
        analyzer = manifest.textAnalyzer, fieldAnalyzers = manifest.textFieldAnalyzers)
      val distinctQs = bySeg.flatMap(_._2).distinct
      val planned = distinctQs.zip(planAll(distinctQs.map(parser.parse))).toMap
      bySeg.map { case (s, qs) => s -> qs.map(planned) }.toMap
    }
  }
  private lazy val deleteCqsAll: Seq[CQuery] =
    deleteQueriesBySeg.values.flatten.toSeq.distinct
  private lazy val allDeleteTerms: Set[(String, String)] =
    deleteTermsBySeg.values.flatten.toSet ++
      deleteCqsAll.flatMap(CQuery.termsOf)

  /** Everything a kernel task needs besides its rows and queries — fixed
    * per snapshot, so it is broadcast once ([[Searcher.makeContext]] reads
    * it; `explain` / `resolveDeadDocs` use it driver-side).
    */
  private lazy val kernelState = Searcher.KernelState(
    manifest.segments.map(m => m.segment -> m.numDocs).toMap,
    deleteTermsBySeg, manifest.textField, deleteQueriesBySeg)
  private lazy val bKernelState = spark.sparkContext.broadcast(kernelState)

  private val dictionary = new TermDictionary(clauses => f =>
    readRows(segmentFiles, SegmentFiles.DictColumns, clauses)(f))

  /** Per-text-field token totals (the BM25 average-field-length statistic,
    * `Bm25Weight::for_terms` avg_fieldnorm): summed from each field's norms
    * rows, memoized per snapshot. Only consulted for non-primary fields.
    */
  private lazy val fieldTokenTotals: Map[String, Long] = {
    val tot = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    readRows(segmentFiles, SegmentFiles.DictColumns, Seq(AllOf(PostingRow.NormsField)))(r =>
      tot(r.term) += r.totalTf)
    tot.toMap
  }

  /** The rows a kernel task reads: the compiled queries' terms and typed
    * ranges, every tombstone's own term and range rows (tasks assemble the
    * dead-doc set from them), the norms rows (one per text field per
    * segment) and `extra`.
    */
  private def kernelClauses(cqs: Seq[CQuery], extra: Seq[Clause] = Nil): Seq[Clause] =
    (cqs.flatMap(CQuery.termsOf).toSet ++ allDeleteTerms).groupMap(_._1)(_._2)
      .map { case (f, ts) => Terms(f, ts) }.toSeq ++
      Seq(AllOf(PostingRow.NormsField)) ++ extra ++
      (cqs ++ deleteCqsAll).flatMap(CQuery.rangesOf).distinct
        .map(r => SegmentFiles.Range(r.field, r.lo, r.hi, r.loInclusive, r.hiInclusive))

  // ------------------------------------------------------------- planning

  /** Resolve term-expansion queries against the walked dictionary (the
    * automaton-walk stage) and drop unknown terms.
    */
  private def expand(q: Query, walked: Map[Walk, Seq[String]]): Query = q match {
    case _: Query.Fuzzy | _: Query.Regexp | _: Query.TermRange | _: Query.Prefix =>
      constSet(walkOf(q).field, leafTerms(q, walked))
    case Query.TermSet(f, ts) => constSet(f, ts.distinct)
    case Query.PhrasePrefix(f, ts, max) =>
      val expansions = walked(Walk(Query.Prefix(f, ts.last), max))
      if (expansions.isEmpty) Query.Nothing
      else Query.Bool(expansions.map(e => Occur.Should -> Query.Phrase(f, ts.init :+ e)))
    case Query.RegexPhrase(f, pats, slop, max) =>
      // one dictionary walk per slot; a slot with zero expansions means the
      // phrase cannot match (regex_phrase_weight.rs:76-80). The expansion cap
      // is across all slots, as in the reference (:81-86).
      var budget = max
      val slots = pats.map { p =>
        val terms = walked(Walk(Query.Regexp(f, p), max + 1)).take(budget + 1)
        if (terms.size > budget)
          throw new IllegalArgumentException(s"regex phrase exceeded max expansions $max")
        budget -= terms.size
        terms
      }
      if (slots.exists(_.isEmpty)) Query.Nothing
      else Query.MultiPhrase(f, slots, pats, slop)
    case Query.Bool(cs, msm) => Query.Bool(cs.map { case (o, c) => (o, expand(c, walked)) }, msm)
    case Query.Boost(i, b) => Query.Boost(expand(i, walked), b)
    case Query.ConstScore(i, s) => Query.ConstScore(expand(i, walked), s)
    case Query.DisjunctionMax(ds, t) => Query.DisjunctionMax(ds.map(expand(_, walked)), t)
    case other => other
  }

  /** The terms a leaf expansion query resolves to. Fuzzy matching with
    * transpositions is restricted-Damerau (OSA), the reference's
    * Levenshtein-DFA option; its walk uses the superset `levenshtein <= 2d`
    * (a transposition is two plain edits) and exact OSA filters the capped
    * candidate list.
    */
  private def leafTerms(q: Query, walked: Map[Walk, Seq[String]]): Seq[String] = q match {
    case Query.Fuzzy(_, t, d, prefix, true) =>
      walked(walkOf(q)).filter(x => (prefix && x.startsWith(t)) || Searcher.osaDistance(x, t) <= d)
    case _ => walked(walkOf(q))
  }

  /** The dictionary walks `q` needs before it can be planned. */
  private def walksOf(q: Query): Seq[Walk] = q match {
    case _: Query.Fuzzy | _: Query.Regexp | _: Query.TermRange | _: Query.Prefix => Seq(walkOf(q))
    case Query.PhrasePrefix(f, ts, max) => Seq(Walk(Query.Prefix(f, ts.last), max))
    case Query.RegexPhrase(f, pats, _, max) => pats.map(p => Walk(Query.Regexp(f, p), max + 1))
    case Query.Bool(cs, _) => cs.flatMap(c => walksOf(c._2))
    case Query.Boost(i, _) => walksOf(i)
    case Query.ConstScore(i, _) => walksOf(i)
    case Query.DisjunctionMax(ds, _) => ds.flatMap(walksOf)
    case _ => Nil
  }

  private def constSet(field: String, terms: Seq[String]): Query =
    if (terms.isEmpty) Query.Nothing
    else Query.ConstScore(
      Query.Bool(terms.map(t => Occur.Should -> Query.Term(field, t))), 1.0f)

  /** The dictionary terms an expanding query (Prefix, Regexp, Fuzzy,
    * TermRange) resolves to — distinct, in UTF-8 order, capped as the query
    * caps them — with their global doc freqs memoized for [[docFreqs]].
    */
  def dictionaryTerms(q: Query): Seq[String] = q match {
    case _: Query.Fuzzy | _: Query.Regexp | _: Query.TermRange | _: Query.Prefix =>
      leafTerms(q, dictionary.walk(Set.empty, walksOf(q)))
    case other => throw new IllegalArgumentException(s"not a dictionary walk: $other")
  }

  /** Global doc freqs for a set of terms (`Searcher::doc_freq`,
    * searcher.rs:133, summed across segments), memoized per snapshot: one
    * driver-side dictionary read for the terms not yet seen.
    */
  def docFreqs(terms: Set[(String, String)]): Map[(String, String), Long] =
    dictionary.docFreqs(terms)

  private def collectTerms(q: Query): Set[(String, String)] = q match {
    case Query.Term(f, t, _) => Set(f -> t)
    case Query.Phrase(f, ts, _) => ts.map(f -> _).toSet
    case Query.MultiPhrase(f, slots, pats, _) =>
      // slot terms feed the kernels' reads; the literal patterns feed the
      // BM25 weight stats (regex_phrase_query.rs:145-149)
      (slots.flatten ++ pats).map(f -> _).toSet
    // before expansion: the literal terms an expanding query will need
    case Query.TermSet(f, ts) => ts.map(f -> _).toSet
    case Query.PhrasePrefix(f, ts, _) => ts.init.map(f -> _).toSet
    case Query.RegexPhrase(f, pats, _, _) => pats.map(f -> _).toSet
    case Query.Bool(cs, _) => cs.flatMap(c => collectTerms(c._2)).toSet
    case Query.Boost(i, _) => collectTerms(i)
    case Query.ConstScore(i, _) => collectTerms(i)
    case Query.DisjunctionMax(ds, _) => ds.flatMap(collectTerms).toSet
    case _ => Set.empty
  }

  /** Plan many queries off ONE dictionary read (every expansion and every
    * literal term's doc freq); duplicate queries plan once and share the
    * compiled object graph.
    */
  def planAll(qs: Seq[Query]): Seq[CQuery] = {
    val uniq = qs.distinct
    val walked = dictionary.walk(uniq.flatMap(collectTerms).toSet, uniq.flatMap(walksOf))
    val expanded = uniq.map(expand(_, walked))
    val dfs = docFreqs(expanded.flatMap(collectTerms).toSet)
    val compiled = uniq.zip(expanded.map(q => planWith(q, dfs))).toMap
    qs.map(compiled)
  }

  /** Query -> stats-bound CQuery (the Weight construction). */
  def plan(q: Query): CQuery = planAll(Seq(q)).head

  private def planWith(q: Query, dfs: Map[(String, String), Long]): CQuery = {
    val n = manifest.totalDocs
    val totTokens = manifest.totalTokens
    // each text field's BM25 length stats are its own (multi-field schema);
    // unknown fields (json paths) share the primary text field's
    def totFor(f: String): Long =
      if (f == manifest.textField) totTokens else fieldTokenTotals.getOrElse(f, totTokens)
    def go(q: Query, boost: Float): CQuery = q match {
      case Query.Term(f, t, b) =>
        val df = dfs((f, t))
        if (df == 0) CQuery.CEmpty
        else CQuery.CTerm(f, t,
          Bm25.forOneTerm(df, n, totFor(f).toFloat / n.toFloat).boostBy(boost * b))
      case Query.Phrase(f, ts, slop) =>
        val freqs = ts.map(t => dfs((f, t)))
        if (freqs.contains(0L)) CQuery.CEmpty
        else CQuery.CPhrase(f, ts, Bm25.forTerms(freqs, n, totFor(f)).boostBy(boost), slop)
      case Query.MultiPhrase(f, slots, pats, slop) =>
        // weight from the literal patterns' doc freqs — usually 0, giving the
        // constant-idf weight the reference produces (regex_phrase_query.rs:149)
        val freqs = pats.map(p => dfs((f, p)))
        CQuery.CMultiPhrase(f, slots, Bm25.forTerms(freqs, n, totFor(f)).boostBy(boost), slop)
      case Query.Bool(cs, msm) =>
        val must = cs.collect { case (Occur.Must, c) => go(c, boost) }
        val should = cs.collect { case (Occur.Should, c) => go(c, boost) }
        val mustNot = cs.collect { case (Occur.MustNot, c) => go(c, 0.0f) }
        CQuery.CBool(must, should, mustNot, msm)
      case Query.Boost(i, b) => go(i, boost * b)
      case Query.ConstScore(i, s) => CQuery.CConst(go(i, 0.0f), s * boost)
      case Query.DisjunctionMax(ds, t) => CQuery.CDisjMax(ds.map(go(_, boost)), t)
      case Query.TypedRange(f, lo, hi, li, hie) => CQuery.CRange(f, lo, hi, li, hie, boost)
      case Query.All => CQuery.CAll
      case Query.Nothing => CQuery.CEmpty
      case other => throw new IllegalStateException(s"unexpanded query: $other")
    }
    go(q, 1.0f)
  }

  // ------------------------------------------------------------- execution

  /** Query shards per segment for a batch of `nQueries` (none for none). A
    * merged index can have fewer segments than the cluster has cores — one
    * task per segment would leave most of a 1000-executor cluster idle on a
    * 2-segment index — so a batch is split into up to 8 shards to fill the
    * cores. `spark.graft.queryShards` forces the count (at most one shard
    * per query).
    */
  private def queryShardCount(nQueries: Int): Int = {
    val n = spark.conf.getOption(Searcher.QueryShardsKey) match {
      case Some(v) =>
        val forced = v.trim.toIntOption.getOrElse(0)
        require(forced >= 1, s"${Searcher.QueryShardsKey} must be an integer >= 1, got '$v'")
        forced
      case None =>
        val nseg = math.max(manifest.segments.size, 1)
        math.min(8, (spark.sparkContext.defaultParallelism + nseg - 1) / nseg)
    }
    math.min(nQueries, n)
  }

  /** The one executor fan-out behind every kernel-running call: a
    * [[SegmentScan]] of one task per (segment, query shard), where the i-th
    * query that can match (not `CEmpty`) belongs to shard i % nShards. Each
    * task reads its own segment's files, pruned to [[kernelClauses]] of ITS
    * shard's queries plus `extra`, and runs `kernel(task, queries)`, whose
    * rows have the columns of `columns`. No query that can match, or no
    * segment, is a scan of no task.
    *
    * A shard is the same segment files, a subset of the queries: sharding
    * costs only the rows shared across shards (norms, tombstones, common
    * terms) read once per shard. Results are bit-identical at any shard
    * count: every query sees the complete postings of its own terms.
    */
  private def scan(queries: Seq[(CQuery, Int)], columns: Seq[(String, DataType)],
      extra: Seq[Clause] = Nil)(
      kernel: (Searcher.SegmentTask, Iterator[(CQuery, Int)]) => Iterator[InternalRow]): LogicalPlan = {
    val live = queries.filter(_._1 != CQuery.CEmpty)
    val nShards = queryShardCount(live.size)
    val shards = Array.tabulate(nShards) { s =>
      val mine = live.indices.filter(_ % nShards == s).map(live)
      ScanShard(mine, kernelClauses(mine.map(_._1), extra))
    }
    val output = columns.map { case (name, t) =>
      AttributeReference(name, t, nullable = !t.isInstanceOf[NumericType])() }
    SegmentScan(output, ScanSpec(indexDir, segmentFiles.toArray, shards, bKernelState, bConf, kernel))
  }

  /** Top-k for a batch: each segment's task collects every query's
    * top-(offset + k) fruits (a doc ranked k-th globally can be the
    * (offset + k)-th of one segment) with their urls, and the driver merges
    * each query's fruits and drops the first `offset`. Ranks number the
    * page (offset + 1 ...).
    */
  private def topK(qs: Seq[Query], k: Int, offset: Int): Seq[Array[SearchHit]] = {
    require(offset >= 0, "offset must be >= 0")
    val kk = k + offset
    val fruits = ScanShim.collect(spark, scan(planAll(qs).zipWithIndex,
        Seq("query" -> IntegerType, "addr" -> LongType, "score" -> FloatType, "url" -> StringType)) {
      (task, mine) =>
        val segFruits = mine.flatMap { case (cq, qi) =>
          val topN = new TopNComputer(kk)
          QueryKernel.topK(cq, task.ctx, kk, topN, task.segment.toLong << 32)
          topN.intoSortedVec().iterator.map { case (score, addr) => (qi, addr, score) }
        }.toArray
        val urls = task.urls(segFruits.iterator.map(f => (f._2 & 0xffffffffL).toInt).toSet)
        segFruits.iterator.map { case (qi, addr, score) =>
          InternalRow(qi, addr, score, UTF8String.fromString(urls((addr & 0xffffffffL).toInt)))
        }
    })
    // merge fruits: pushes must arrive in ascending global address order
    val byQuery = fruits.groupBy(_.getInt(0))
    qs.indices.map { qi =>
      val fs = byQuery.getOrElse(qi, Array.empty[InternalRow])
      val urlOf = fs.iterator.map(f => f.getLong(1) -> f.getUTF8String(3).toString).toMap
      val merged = new TopNComputer(kk)
      fs.sortBy(_.getLong(1)).foreach(f => merged.push(f.getFloat(2), f.getLong(1)))
      merged.intoSortedVec().drop(offset).zipWithIndex.map { case ((score, addr), rank) =>
        SearchHit(offset + rank + 1, urlOf(addr), score, (addr >>> 32).toInt,
          (addr & 0xffffffffL).toInt)
      }
    }
  }

  /** Top-k by BM25: per-segment WAND kernels + driver-side fruit merge. */
  def topDocs(q: Query, k: Int): Array[SearchHit] = topDocs(q, k, 0)

  /** Top-k with pagination — the reference's `TopDocs::and_offset`
    * (`src/collector/top_score_collector.rs:155-173`).
    */
  def topDocs(q: Query, k: Int, offset: Int): Array[SearchHit] = topK(Seq(q), k, offset).head

  /** Batched top-k: MANY queries in ONE kernel job — the bulk-scoring path
    * (scoring a query log / training-pair generation). One dictionary read
    * plans every query, one task per (segment, query shard) scores and
    * fetches, one collect, per-query driver merges: per-query driver latency
    * amortizes away.
    */
  def batchTopDocs(qs: Seq[Query], k: Int): Seq[Array[SearchHit]] = topK(qs, k, 0)

  /** Matching-doc count; single-term queries take the doc_freq fast path
    * (`src/query/weight.rs:78-85`) off the memoized doc freqs, no kernel.
    */
  def count(q: Query): Long = q match {
    case Query.Term(f, t, _) if manifest.deletes.isEmpty => docFreqs(Set(f -> t))(f -> t)
    case _ => batchCount(Seq(q)).head
  }

  /** Many counts in ONE kernel job: each segment's task counts every query
    * of its shard, the driver sums the tiny per-segment counts.
    */
  def batchCount(qs: Seq[Query]): Seq[Long] = {
    val counts = ScanShim.collect(spark, scan(planAll(qs).zipWithIndex,
        Seq("query" -> IntegerType, "count" -> LongType)) { (task, mine) =>
      mine.map { case (cq, qi) => InternalRow(qi, QueryKernel.count(cq, task.ctx)) }
    }).groupMapReduce(_.getInt(0))(_.getLong(1))(_ + _)
    qs.indices.map(counts.getOrElse(_, 0L))
  }

  /** Stored-field fetch by doc address — the reference's `Searcher::doc`
    * (`src/core/searcher.rs:~60`): one pruned docmap lookup returning the
    * row store's fields (url, warc_ts, lang + declared fast fields).
    */
  def doc(segment: Int, docId: Int): Option[org.apache.spark.sql.Row] =
    docmapDF.where(col("segment") === segment && col("docId") === docId)
      .collect().headOption

  /** Search with aggregations in ONE request — the reference's
    * `AggregationCollector` run (`src/aggregation/collector.rs`): the ES
    * JSON agg tree evaluates over the query's matched doc set, bucket keys
    * and metric inputs reading docmap fast fields. Returns the nested ES
    * result JSON (`AggRequest.runJson`).
    *
    * Filter sub-aggregations honor the reference's contract that their
    * `query_string` is an ENGINE query (`bucket/filter.rs:170-193`, parsed
    * with the index's own parser/analyzer): each filter bucket resolves to
    * the query's matched doc set and applies as a semi join on
    * (segment, docId) — never a SQL predicate.
    */
  def aggregate(q: Query, aggJson: String,
      bucketLimit: Int = graft.agg.AggRequest.DefaultBucketLimit): String = {
    val parser = new QueryParser(manifest.textField,
      analyzer = manifest.textAnalyzer, fieldAnalyzers = manifest.textFieldAnalyzers)
    val aggs = graft.agg.AggRequest.parse(aggJson).map { case (n, node) =>
      n -> graft.agg.AggRequest.transformFilters(node, pred => {
        val fset = allMatches(parser.parse(pred), scored = false)
          .select("segment", "docId")
        df => df.join(fset, Seq("segment", "docId"), "left_semi")
      })
    }
    graft.agg.AggRequest.runJsonNodes(
      allMatches(q, scored = false).join(docmapDF, Seq("segment", "docId")),
      aggs, bucketLimit)
  }

  /** All matching docs with scores, as a DataFrame (segment, docId, score).
    * Exhaustive (no pruning) — the oracle-checkable full result relation.
    */
  def allMatches(q: Query, scored: Boolean = true): DataFrame =
    ScanShim.ofRows(spark, scan(Seq(plan(q) -> 0),
        Seq("segment" -> IntegerType, "docId" -> IntegerType, "score" -> FloatType)) { (task, mine) =>
      val seg = task.segment
      mine.flatMap { case (c, _) =>
        QueryKernel.allMatches(c, task.ctx, scored).map { case (d, s) => InternalRow(seg, d, s) }
      }
    })

  /** The reference's docs-and-positions iteration surface
    * (`examples/iterating_docs_and_positions.rs`;
    * `InvertedIndexReader::read_postings`, `src/index/inverted_index_reader.rs`):
    * the full posting stream of one term — every alive (segment, docId,
    * termFreq, positions) — as a DataFrame. One task per segment decodes
    * that term's single posting row off its pruned read, so a hot term's
    * corpus-wide stream never funnels through the driver; positions are the
    * analyzer's 0-based token ordinals (gap semantics included). The field
    * must be positions-indexed (analyzed TEXT/JSON — the reference's
    * `IndexRecordOption::WithFreqsAndPositions`).
    */
  def termDocsAndPositions(field: String, term: String): DataFrame =
    ScanShim.ofRows(spark, scan(Seq(plan(Query.Term(field, term)) -> 0),
        Seq("segment" -> IntegerType, "docId" -> IntegerType, "termFreq" -> IntegerType,
          "positions" -> ArrayType(IntegerType, containsNull = false))) { (task, _) =>
      val (seg, ctx) = (task.segment, task.ctx)
      val p = ctx.fresh(field, term)
      if (p == null) Iterator.empty
      else new Iterator[InternalRow] {
        private def skipDead(): Unit =
          while (p.doc != graft.codec.PostingsCodec.Terminated && ctx.isDeleted(p.doc)) p.advance()
        skipDead()
        override def hasNext: Boolean = p.doc != graft.codec.PostingsCodec.Terminated
        override def next(): InternalRow = {
          val out = InternalRow(seg, p.doc, p.termFreq, new GenericArrayData(p.positionsForCurrent()))
          p.advance()
          skipDead()
          out
        }
      }
    })

  /** `TopDocs::tweak_score` / `order_by_fast_field` analog
    * (`src/collector/top_score_collector.rs`): matched docs joined to the
    * docmap's stored/fast fields, re-ranked by an arbitrary Column over
    * (score, url, warc_ts, lang, ...). Declarative top-k: Catalyst compiles
    * the orderBy+limit to TakeOrderedAndProject (per-partition heaps + one
    * tiny final merge — the distributed collector shape).
    */
  def topDocsBy(q: Query, k: Int, sortCols: Seq[Column]): DataFrame =
    allMatches(q, scored = true)
      .join(docmapDF, Seq("segment", "docId"))
      .orderBy(sortCols: _*)
      .limit(k)

  /** Score explanation for one (segment, docId) address — the reference's
    * `Query::explain` (`src/query/query.rs`, `weight.rs:75`). The one
    * segment's kernel rows are read on the driver (the query terms'
    * postings for that segment only) and the scorer DAG is replayed
    * locally; None when the doc does not match.
    */
  def explain(q0: Query, segment: Int, docId: Int): Option[Explanation] = {
    val cq = plan(q0)
    if (cq == CQuery.CEmpty) return None
    val rows = Array.newBuilder[PostingRow]
    readRows(filesBySeg.get(segment).toSeq, SegmentFiles.KernelColumns, kernelClauses(Seq(cq)))(rows += _)
    QueryKernel.explain(cq, Searcher.makeContext(rows.result().iterator, kernelState, segment), docId)
  }

  /** Explain by stored key (url): resolves the address from the segments'
    * `__doc__` rows.
    */
  def explain(q0: Query, url: String): Option[Explanation] = {
    val addrs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    readRows(segmentFiles, SegmentFiles.DocColumns, Seq(Terms(PostingRow.DocField, Set(url))))(r =>
      addrs += r.segment -> r.docFreq)
    addrs.sortBy(a => manifest.segmentIds.indexOf(a._1)).headOption
      .flatMap { case (s, d) => explain(q0, s, d) }
  }

  /** Driver-side dead-doc resolution for the merge purge: the full dead set
    * (term tombstones + delete-query tombstones) per requested segment, off
    * a driver read of the tombstones' own term/range/norms rows — the same
    * per-segment assembly the kernel tasks do, replayed locally so the
    * merger never needs its own resolution logic.
    */
  def resolveDeadDocs(segments: Seq[Int]): Map[Int, Array[Int]] = {
    val affected = segments.filter(s =>
      deleteTermsBySeg.contains(s) || deleteQueriesBySeg.contains(s))
    if (affected.isEmpty) return Map.empty
    val clauses = kernelClauses(Nil)
    affected.map { s =>
      val rows = Array.newBuilder[PostingRow]
      readRows(filesBySeg.get(s).toSeq, SegmentFiles.KernelColumns, clauses)(rows += _)
      s -> Searcher.makeContext(rows.result().iterator, kernelState, s).deleted
    }.filter(_._2.nonEmpty).toMap
  }

  /** Hierarchical facet collector (`src/collector/facet_collector.rs:47-183`):
    * counts of `root`'s DIRECT children over the docs matching `q`. A doc
    * with facet `/a/b/c` counts toward child `/a/b` of root `/a` because the
    * builder indexes every ancestor prefix as its own term — so each child's
    * count is |postings(child) ∩ matches|, computed per segment inside the
    * kernel task (the facet rows ride the same pruned read as the query
    * terms) and summed across segments on the driver, which returns the
    * (facet, count) rows as a local DataFrame.
    */
  def facetCounts(q0: Query, field: String, root: String): DataFrame = {
    import spark.implicits._
    val prefix = (if (root.endsWith("/")) root.dropRight(1) else root) + "/"
    ScanShim.collect(spark, scan(Seq(plan(q0) -> 0), Seq("facet" -> StringType, "count" -> LongType),
        Seq(SegmentFiles.Prefix(field, prefix))) { (task, mine) =>
      val matched = new java.util.BitSet(task.ctx.numDocs)
      mine.foreach { case (c, _) =>
        QueryKernel.allMatches(c, task.ctx, scored = false).foreach { case (d, _) => matched.set(d) }
      }
      task.rows.iterator
        .filter(r => r.field == field && r.term.startsWith(prefix) &&
          r.term.indexOf('/', prefix.length) < 0)
        .map { r =>
          val (docs, _, _) = graft.codec.PostingsCodec
            .decodeAll(r.docFreq, r.postings, r.skip, readFreqs = true)
          var c = 0L
          docs.foreach(d => if (matched.get(d)) c += 1)
          (r.term, c)
        }
        .collect { case (t, c) if c > 0 => InternalRow(UTF8String.fromString(t), c) }
    }).groupMapReduce(_.getUTF8String(0).toString)(_.getLong(1))(_ + _).toSeq.toDF("facet", "count")
  }

  /** Space-usage report for this snapshot's segments — the reference's
    * `Searcher::space_usage` (`src/space_usage/mod.rs`): per-segment,
    * per-field byte accounting (termdict / postings+skip / positions /
    * fieldnorms / store / deletes), one distributed aggregate.
    */
  def spaceUsage: graft.index.SpaceUsage.SearcherSpaceUsage =
    graft.index.SpaceUsage.of(spark, indexDir, manifest)
}


final case class SearchHit(rank: Int, url: String, score: Float, segment: Int, docId: Int)

object Searcher {

  /** Session conf forcing the query-shard count of batched kernel jobs. */
  private val QueryShardsKey = "spark.graft.queryShards"

  /** Per-snapshot state of every kernel task: segment sizes, tombstones
    * (terms and compiled delete queries, per segment) and the primary text
    * field, whose norms serve fields without their own (json paths).
    */
  private[search] final case class KernelState(numDocsBySeg: Map[Int, Int],
      deleteTermsBySeg: Map[Int, Seq[(String, String)]], primaryField: String,
      deleteQueriesBySeg: Map[Int, Seq[CQuery]])


  /** One kernel task's segment: its files, its assembled context and rows. */
  private[search] final case class SegmentTask(files: SegmentFiles, conf: Configuration,
      ctx: QueryKernel.SegmentContext, rows: Array[PostingRow]) {
    def segment: Int = files.segment
    /** Stored urls of `docIds`, read from this segment's `__doc__` rows. */
    def urls(docIds: Set[Int]): Map[Int, String] =
      if (docIds.isEmpty) Map.empty else files.urls(conf, docIds)
  }

  /** Time-travel reader: the index exactly as of commit `seq` (Iceberg-style
    * snapshot read over the `manifests/` log). Requires the snapshot to be
    * retained — merges run with `keepOld = true` keep old segment files
    * until `Snapshots.expire`.
    */
  def atSnapshot(spark: SparkSession, indexDir: String, seq: Long): Searcher =
    new Searcher(spark, indexDir, Some(seq))

  /** Longest literal prefix of a regex pattern. The reference's regex query
    * walks the FST only under the automaton's common prefix
    * (`tantivy-fst` `Stream` over an `Automaton`,
    * `src/query/automaton_weight.rs:37-55`); here the walk
    * reads only the prefix's term range, which the Parquet statistics and
    * column indexes over the sorted `term` column prune to — the dictionary
    * walk touches only the prefix's range instead of the whole vocabulary. Conservative: stops at the first metacharacter,
    * and drops the last literal when a quantifier makes it optional.
    */
  def literalPrefix(p: String): String = {
    val meta = ".[({*+?|^$\\"
    val sb = new StringBuilder
    var i = 0
    var done = false
    while (i < p.length && !done) {
      val c = p.charAt(i)
      if (meta.indexOf(c.toInt) >= 0) {
        if ((c == '*' || c == '+' || c == '?' || c == '{') && sb.nonEmpty)
          sb.setLength(sb.length - 1)
        done = true
      } else { sb.append(c); i += 1 }
    }
    // a later TOP-LEVEL alternation voids the prefix: in `ab|cd` the branch
    // `cd` does not start with `ab`. Group-nested pipes (`ab(c|d)`) are fine.
    // Conservative about char classes: a '|' inside [] also voids it.
    var depth = 0
    var esc = false
    var j = i
    while (j < p.length) {
      val c = p.charAt(j)
      if (esc) esc = false
      else if (c == '\\') esc = true
      else if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (c == '|' && depth == 0) return ""
      j += 1
    }
    sb.toString
  }

  /** Restricted-Damerau (optimal string alignment) edit distance — the
    * metric of the reference's transposition-cost-one Levenshtein automaton.
    */
  def osaDistance(a: String, b: String): Int = {
    val m = a.length
    val n = b.length
    if (m == 0) return n
    if (n == 0) return m
    val d = Array.ofDim[Int](m + 1, n + 1)
    var i = 0
    while (i <= m) { d(i)(0) = i; i += 1 }
    var j = 0
    while (j <= n) { d(0)(j) = j; j += 1 }
    i = 1
    while (i <= m) {
      j = 1
      while (j <= n) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        var v = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1), d(i - 1)(j - 1) + cost)
        if (i > 1 && j > 1 && a.charAt(i - 1) == b.charAt(j - 2) &&
            a.charAt(i - 2) == b.charAt(j - 1))
          v = math.min(v, d(i - 2)(j - 2) + 1)
        d(i)(j) = v
        j += 1
      }
      i += 1
    }
    d(m)(n)
  }

  /** Executor-side: assemble one segment's kernel context from its posting
    * rows (static — keeps the Searcher instance out of task closures).
    */
  private[search] def makeContext(rows: Iterator[PostingRow], state: KernelState, seg: Int)
      : QueryKernel.SegmentContext = {
    val byKey = new scala.collection.mutable.HashMap[(String, String), PostingRow]()
    val byField = new scala.collection.mutable.HashMap[String, scala.collection.mutable.ArrayBuffer[PostingRow]]()
    // norms rows are keyed by their field name in `term`; the primary text
    // field's array doubles as the fallback for fields without own norms
    // (json paths score with the document's text norms)
    val normsByField = new scala.collection.mutable.HashMap[String, Array[Byte]]()
    var norms: Array[Byte] = null
    rows.foreach { r =>
      if (r.field == PostingRow.NormsField) {
        normsByField(r.term) = r.postings
        if (norms == null || r.term == state.primaryField) norms = r.postings
      } else {
        byKey((r.field, r.term)) = r
        if (!r.field.startsWith("__"))
          byField.getOrElseUpdate(r.field, new scala.collection.mutable.ArrayBuffer[PostingRow]()) += r
      }
    }
    val numDocs = state.numDocsBySeg.getOrElse(seg, if (norms != null) norms.length else 0)
    // dead-doc set from the tombstoned terms' own postings (sorted, deduped)
    val deleted: Array[Int] = state.deleteTermsBySeg.get(seg) match {
      case None => Array.emptyIntArray
      case Some(dts) =>
        val buf = new scala.collection.mutable.ArrayBuffer[Int]()
        dts.foreach { case (f, t) =>
          byKey.get((f, t)).foreach { r =>
            val (docs, _, _) =
              graft.codec.PostingsCodec.decodeAll(r.docFreq, r.postings, r.skip, readFreqs = true)
            buf ++= docs
          }
        }
        val arr = buf.toArray
        java.util.Arrays.sort(arr)
        var w = 0
        var i = 0
        while (i < arr.length) {
          if (w == 0 || arr(i) != arr(w - 1)) { arr(w) = arr(i); w += 1 }
          i += 1
        }
        if (w == arr.length) arr else java.util.Arrays.copyOf(arr, w)
    }
    // skip arrays parse once per term, shared by every cursor a query batch
    // opens on it (cursor setup O(1))
    val parsedCache = new scala.collection.mutable.HashMap[(String, String), graft.codec.ParsedSkip]()
    @inline def cursor(r: PostingRow): graft.codec.SegmentPostings = {
      val ps = parsedCache.getOrElseUpdate((r.field, r.term),
        new graft.codec.ParsedSkip(r.skip, r.docFreq))
      new graft.codec.SegmentPostings(r.postings, ps, r.positions, readFreqs = true)
    }
    val postingsFor: (String, String) => graft.codec.SegmentPostings =
      (f, t) => byKey.get((f, t)) match {
        case Some(r) => cursor(r)
        case None => null
      }
    // segment-local dictionary range walk: the pruned read already
    // restricted rows to the union of the batch's term + range conditions,
    // so re-filtering by THIS range's bounds is exact
    val rangeFor: (String, Option[String], Option[String], Boolean, Boolean) =>
        Array[graft.codec.SegmentPostings] =
      (f, lo, hi, loInc, hiInc) => byField.get(f) match {
        case None => Array.empty[graft.codec.SegmentPostings]
        case Some(rs) =>
          rs.iterator.filter(r => SegmentFiles.inBounds(r.term, lo, hi, loInc, hiInc))
            .map(cursor).toArray
      }
    val nbf = normsByField.toMap
    def build(dead: Array[Int]) =
      new QueryKernel.SegmentContext(numDocs, norms, postingsFor, dead, rangeFor, nbf)
    // delete-by-QUERY tombstones: evaluate each compiled query against this
    // segment's own postings (unscored scorer walk — the same lazy local
    // resolution as term tombstones, just with a richer matcher) and fold
    // the matches into the dead set
    state.deleteQueriesBySeg.getOrElse(seg, Nil) match {
      case Nil => build(deleted)
      case qs =>
        val ctx0 = build(deleted)
        val extra = scala.collection.mutable.ArrayBuffer.empty[Int]
        qs.foreach { q =>
          QueryKernel.allMatches(q, ctx0, scored = false).foreach(extra += _._1)
        }
        if (extra.isEmpty) ctx0
        else build((deleted ++ extra).distinct.sorted)
    }
  }
}
