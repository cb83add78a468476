package graft.search

import scala.reflect.ClassTag
import org.apache.spark.Partitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.KryoSerializer
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{IndexManifest, PostingRow, Snapshots}

/** Point-in-time searcher over an index directory — the reference's
  * `Searcher` (`/root/reference/src/core/searcher.rs:69`): the manifest is
  * the snapshot. Every kernel-running call takes ONE path, the reference's
  * `search_with_executor` (`searcher.rs:220-236`, SURVEY.md §3.2); a single
  * `topDocs` / `count` is a batch of one:
  *
  *   1. driver: dictionary expansion (fuzzy/regex/range/set) + global stats
  *      (doc freqs via one pruned aggregate per batch, memoized; N,
  *      totalTokens from the manifest) -> BM25 weights -> broadcast
  *      compiled queries;
  *   2. executors ([[fanOut]]): one pruned scan of the batch's rows, routed
  *      by an exact partitioner to one task per (segment, query shard);
  *      each task runs its queries' scorer DAG + WAND top-k
  *      (`collect_segment`; the rayon fan-out, `src/core/executor.rs:11-37`);
  *   3. driver: TopNComputer merge of each query's per-segment fruits
  *      (`merge_fruits`, O(segments × k) per query), then one broadcast
  *      join back to the docmap for stored fields.
  *
  * Everything reaching Parquet is pruned: only query terms' rows (plus the
  * one norms row per segment) are ever read — filter pushdown on the sorted
  * `term` column is the FST lookup analog.
  */
final class Searcher(spark: SparkSession, indexDir: String, asOfSeq: Option[Long] = None)
    extends Serializable {

  val manifest: IndexManifest = asOfSeq match {
    case Some(seq) => Snapshots.readAt(spark, indexDir, seq)
      .getOrElse(throw new IllegalStateException(s"no snapshot $seq at $indexDir (expired?)"))
    case None => IndexManifest.read(spark, indexDir)
      .getOrElse(throw new IllegalStateException(s"no manifest at $indexDir"))
  }

  import spark.implicits._

  // lazy vals: the Parquet FileIndex (file listing + schema) is resolved once
  // per Searcher snapshot and reused by every query — re-listing per query
  // costs a driver job once the segment count crosses the parallel-discovery
  // threshold.
  // The scan is pinned to THIS manifest's segment set (a partition filter on
  // the `segment` directory column): with snapshot retention, the postings
  // dir can hold segments from other snapshots (pre-merge inputs kept by
  // `merge(keepOld = true)`, or newer commits) that must stay invisible here.
  private lazy val postingsDF: DataFrame = spark.read.parquet(s"$indexDir/postings")
    .where(col("segment").isin(manifest.segmentIds: _*))
  /** Doc-map view over the same segment table (field == __doc__ rows).
    * Fast fields declared at build time (`IndexConfig.fast*Fields`) flatten
    * from the typed map columns into named columns — the reference's
    * fast-field reader surface (`src/fastfield/mod.rs`): sort / filter /
    * aggregate over matches without touching postings or the source table.
    */
  lazy val docmapDF: DataFrame = {
    val base = postingsDF
      .where(col("field") === PostingRow.DocField)
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
    * their postings ride along in every pruned kernel read so executors can
    * assemble the dead-doc set without an extra job.
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

  /** Per-text-field token totals (the BM25 average-field-length statistic,
    * `Bm25Weight::for_terms` avg_fieldnorm): summed from each field's norms
    * rows in one tiny pruned aggregate, memoized per snapshot. Only
    * consulted for non-primary fields, so single-text-field workloads never
    * pay the job.
    */
  private lazy val fieldTokenTotals: Map[String, Long] =
    postingsDF.where(col("field") === PostingRow.NormsField)
      .groupBy("term").agg(sum("totalTf"))
      .as[(String, Long)].collect().toMap

  /** OR-condition matching a set of (field, term) pairs. */
  private def termsCond(terms: Set[(String, String)]): Column =
    if (terms.isEmpty) lit(false)
    else terms.groupBy(_._1).map { case (f, ts) =>
      col("field") === f && col("term").isin(ts.map(_._2).toSeq: _*)
    }.reduce(_ || _)

  /** OR-condition matching the typed-range predicates of compiled queries —
    * rides the same pruned scan (the sorted `term` column makes these
    * row-group range prunes, the dictionary-range analog of the FST walk).
    */
  private def rangesCond(cqs: Iterable[CQuery]): Option[Column] = {
    val rs = cqs.flatMap(CQuery.rangesOf).toSeq.distinct
    if (rs.isEmpty) None
    else Some(rs.map { r =>
      val preds = Seq(Some(col("field") === r.field),
        r.lo.map(v => if (r.loInclusive) col("term") >= v else col("term") > v),
        r.hi.map(v => if (r.hiInclusive) col("term") <= v else col("term") < v)).flatten
      preds.reduce(_ && _)
    }.reduce(_ || _))
  }

  /** The pruned read of a kernel task: the compiled queries' terms and
    * typed ranges, every tombstone's own term and range rows (tasks
    * assemble the dead-doc set from them), the norms rows (one per text
    * field per segment) and `extra`.
    */
  private def kernelCond(cqs: Seq[CQuery], extra: Option[Column] = None): Column =
    (Seq(termsCond(cqs.flatMap(CQuery.termsOf).toSet ++ allDeleteTerms),
      col("field") === PostingRow.NormsField) ++ extra ++ rangesCond(cqs ++ deleteCqsAll))
      .reduce(_ || _)

  // ------------------------------------------------------------- planning

  /** Resolve term-expansion queries against the term dictionary (the
    * automaton-walk stage) and drop unknown terms.
    */
  private def expand(q: Query): Query = q match {
    case Query.Fuzzy(f, t, d, prefix, transp) =>
      // transposition-cost-one = restricted-Damerau (OSA), the reference's
      // Levenshtein-DFA option. OSA has no SQL builtin, but lev <= 2*osa
      // (a transposition is two plain edits), so the pushed-down dictionary
      // pre-filter `levenshtein <= 2d` is a superset; exact OSA filters the
      // (tiny) candidate list driver-side.
      val maxLev = if (transp) 2 * d else d
      val levPred = expr(s"levenshtein(term, ${sqlLit(t)}) <= $maxLev")
      val pred = if (prefix) col("term").startsWith(t) || levPred else levPred
      var terms = expandTerms(f, pred)
      if (transp)
        terms = terms.filter(x => (prefix && x.startsWith(t)) || Searcher.osaDistance(x, t) <= d)
      constSet(f, terms)
    case Query.Regexp(f, p) =>
      constSet(f, expandTerms(f, regexPred(p)))
    case Query.TermRange(f, lo, hi, loInc, hiInc) =>
      val preds = Seq(
        lo.map(v => if (loInc) col("term") >= v else col("term") > v),
        hi.map(v => if (hiInc) col("term") <= v else col("term") < v)).flatten
      val pred = if (preds.isEmpty) lit(true) else preds.reduce(_ && _)
      constSet(f, expandTerms(f, pred))
    case Query.Prefix(f, p, max) =>
      constSet(f, expandTerms(f, col("term").startsWith(p), max))
    case Query.TermSet(f, ts) => constSet(f, ts.distinct)
    case Query.PhrasePrefix(f, ts, max) =>
      val expansions = expandTerms(f, col("term").startsWith(ts.last), max)
      if (expansions.isEmpty) Query.Nothing
      else Query.Bool(expansions.map(e => Occur.Should -> Query.Phrase(f, ts.init :+ e)))
    case Query.RegexPhrase(f, pats, slop, max) =>
      // one dictionary walk per slot; a slot with zero expansions means the
      // phrase cannot match (regex_phrase_weight.rs:76-80). The expansion cap
      // is across all slots, as in the reference (:81-86).
      var budget = max
      val slots = pats.map { p =>
        val terms = expandTerms(f, regexPred(p), budget + 1)
        if (terms.size > budget)
          throw new IllegalArgumentException(s"regex phrase exceeded max expansions $max")
        budget -= terms.size
        terms
      }
      if (slots.exists(_.isEmpty)) Query.Nothing
      else Query.MultiPhrase(f, slots, pats, slop)
    case Query.Bool(cs, msm) => Query.Bool(cs.map { case (o, c) => (o, expand(c)) }, msm)
    case Query.Boost(i, b) => Query.Boost(expand(i), b)
    case Query.ConstScore(i, s) => Query.ConstScore(expand(i), s)
    case Query.DisjunctionMax(ds, t) => Query.DisjunctionMax(ds.map(expand), t)
    case other => other
  }

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Anchored regex dictionary predicate, with the pattern's literal prefix
    * pushed down as `startsWith` so the sorted term column's row-group stats
    * prune the walk (the reference's automaton-prefix FST seek,
    * `automaton_weight.rs:37-55`).
    */
  private def regexPred(p: String): Column = {
    val pred = col("term").rlike(s"^(?:$p)$$")
    val pre = Searcher.literalPrefix(p)
    if (pre.isEmpty) pred else col("term").startsWith(pre) && pred
  }

  private def constSet(field: String, terms: Seq[String]): Query =
    if (terms.isEmpty) Query.Nothing
    else Query.ConstScore(
      Query.Bool(terms.map(t => Occur.Should -> Query.Term(field, t))), 1.0f)

  /** Dictionary scan: distinct terms of `field` matching `pred` (capped).
    * Reads only the (field, term) columns — Parquet column pruning.
    */
  def expandTerms(field: String, pred: Column, max: Int = 1024): Seq[String] =
    postingsDF
      .where(col("field") === field && !col("field").startsWith("__") && pred)
      .select("term").distinct().orderBy("term").limit(max)
      .as[String].collect().toSeq

  // memoized per-snapshot: the manifest is immutable, so a term's global df
  // never changes for this Searcher — repeat batches over warm terms skip
  // the stats job entirely
  private val dfCache = scala.collection.concurrent.TrieMap.empty[(String, String), Long]

  /** Global doc freqs for a set of terms: one pruned scan + tiny aggregate
    * for the terms not yet memoized (`Searcher::doc_freq`, searcher.rs:133,
    * summed across segments).
    */
  def docFreqs(terms: Set[(String, String)]): Map[(String, String), Long] = {
    if (terms.isEmpty) return Map.empty[(String, String), Long].withDefaultValue(0L)
    val missing = terms.filterNot(dfCache.contains)
    if (missing.nonEmpty) {
      val fields = missing.map(_._1).toSeq
      val termList = missing.map(_._2).toSeq
      val found = postingsDF
        .where(col("field").isin(fields: _*) && col("term").isin(termList: _*))
        .groupBy("field", "term").agg(sum("docFreq").as("df"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      missing.foreach(t => dfCache(t) = found.getOrElse(t, 0L))
    }
    terms.iterator.map(t => t -> dfCache(t)).toMap.withDefaultValue(0L)
  }

  private def collectTerms(q: Query): Set[(String, String)] = q match {
    case Query.Term(f, t, _) => Set(f -> t)
    case Query.Phrase(f, ts, _) => ts.map(f -> _).toSet
    case Query.MultiPhrase(f, slots, pats, _) =>
      // slot terms feed the kernels' pruned scan; the literal patterns feed
      // the BM25 weight stats (regex_phrase_query.rs:145-149)
      (slots.flatten ++ pats).map(f -> _).toSet
    case Query.Bool(cs, _) => cs.flatMap(c => collectTerms(c._2)).toSet
    case Query.Boost(i, _) => collectTerms(i)
    case Query.ConstScore(i, _) => collectTerms(i)
    case Query.DisjunctionMax(ds, _) => ds.flatMap(collectTerms).toSet
    case _ => Set.empty
  }

  /** Plan many queries with ONE stats job (shared doc-freq aggregate);
    * duplicate queries plan once and share the compiled object graph (the
    * broadcast then serializes each distinct weight once).
    */
  def planAll(qs: Seq[Query]): Seq[CQuery] = {
    val uniq = qs.distinct
    val expanded = uniq.map(expand)
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

  /** Query shards per segment for a batch of `nQueries`. A merged index can
    * have fewer segments than the cluster has cores — one task per segment
    * would leave most of a 1000-executor cluster idle on a 2-segment index —
    * so a batch is split into up to 8 shards to fill the cores.
    * `spark.graft.queryShards` forces the count (at most one shard per query).
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
    math.max(1, math.min(nQueries, n))
  }

  /** The one executor fan-out behind every kernel-running call: a pruned
    * read of [[kernelCond]], routed by an exact partitioner to one task per
    * (segment, query shard), where `kernel(segment, ctx, rows, queries)`
    * runs over the segment's context, its raw rows and the (query, tag)
    * pairs of the task's shard (the i-th query belongs to shard
    * i % nShards).
    *
    * The partitioner keys on the manifest's segment ordinal: Spark's hashed
    * exchange puts n keys into n buckets with collisions (measured on a
    * 32-segment index, one task carried 3 segments, 3.2 s, while others
    * idled at a 1.1 s median). Each (segment, shard) task receives only the
    * rows its own queries' terms/ranges touch, plus the norms and tombstone
    * rows every kernel needs, so sharding adds only cross-shard term overlap
    * and nShards copies of those shared rows to the exchange. Results are
    * bit-identical at any shard count: every query sees the complete
    * postings of its own terms.
    */
  private def fanOut[T: Encoder : ClassTag](queries: Seq[(CQuery, Int)],
      extra: Option[Column] = None)(
      kernel: (Int, QueryKernel.SegmentContext, Array[PostingRow], Iterator[(CQuery, Int)]) =>
        Iterator[T]): Dataset[T] = {
    val cqs = queries.map(_._1)
    val nShards = queryShardCount(cqs.size)
    val segIds = manifest.segmentIds.toArray
    val ord = segIds.zipWithIndex.toMap
    val rows = postingsDF.where(kernelCond(cqs, extra)).as[PostingRow].rdd
    val keyed: RDD[(Int, PostingRow)] =
      if (nShards == 1) rows.map(r => (ord.getOrElse(r.segment, 0), r))
      else {
        val termShards = cqs.zipWithIndex
          .flatMap { case (cq, i) => CQuery.termsOf(cq).map(_ -> i % nShards) }
          .groupBy(_._1).map { case (t, ss) => t -> ss.map(_._2).distinct.toArray }
        val shardRanges = Array.tabulate(nShards)(s =>
          cqs.indices.filter(_ % nShards == s).flatMap(i => CQuery.rangesOf(cqs(i))).toArray)
        val bRoute = spark.sparkContext.broadcast(
          (termShards, shardRanges, allDeleteTerms, deleteCqsAll.flatMap(CQuery.rangesOf).toArray))
        rows.flatMap { r =>
          val (t2s, ranges, delTerms, delRanges) = bRoute.value
          val base = ord.getOrElse(r.segment, 0) * nShards
          val shards =
            if (r.field == PostingRow.NormsField || delTerms.contains((r.field, r.term)) ||
                delRanges.exists(Searcher.covers(_, r))) Iterator.range(0, nShards)
            else {
              val direct = t2s.getOrElse((r.field, r.term), Array.emptyIntArray)
              direct.iterator ++ Iterator.range(0, nShards).filter(s =>
                !direct.contains(s) && ranges(s).exists(Searcher.covers(_, r)))
            }
          shards.map(s => (base + s, r))
        }
      }
    val nParts = math.max(segIds.length, 1) * nShards
    val shuffled = new ShuffledRDD[Int, PostingRow, PostingRow](keyed, new Partitioner {
      override def numPartitions: Int = nParts
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    })
    // Kryo for this one exchange: the default RDD shuffle serializer (Java)
    // measured 4-5x slower writing PostingRow's byte-array blobs
    shuffled.setSerializer(new KryoSerializer(spark.sparkContext.getConf))
    val bState = bKernelState
    val bQueries = spark.sparkContext.broadcast(queries)
    spark.createDataset(shuffled.mapPartitionsWithIndex { (p, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val seg = segIds(p / nShards)
        val segRows = it.map(_._2).toArray
        val mine = bQueries.value.iterator.zipWithIndex
          .collect { case (q, i) if i % nShards == p % nShards => q }
        kernel(seg, Searcher.makeContext(segRows.iterator, bState.value, seg), segRows, mine)
      }
    })
  }

  /** Top-k for a batch: each segment's task collects every query's
    * top-(offset + k) fruits (a doc ranked k-th globally can be the
    * (offset + k)-th of one segment), the driver merges each query's fruits
    * and drops the first `offset`, and one doc-fetch join serves every
    * query's page. Ranks number the page (offset + 1 ...).
    */
  private def topK(qs: Seq[Query], k: Int, offset: Int): Seq[Array[SearchHit]] = {
    require(offset >= 0, "offset must be >= 0")
    val live = planAll(qs).zipWithIndex.filter(_._1 != CQuery.CEmpty)
    val kk = k + offset
    val fruits =
      if (live.isEmpty) Array.empty[(Int, Long, Float)]
      else fanOut(live) { (seg, ctx, _, mine) =>
        mine.flatMap { case (cq, qi) =>
          val topN = new TopNComputer(kk)
          QueryKernel.topK(cq, ctx, kk, topN, seg.toLong << 32)
          topN.intoSortedVec().iterator.map { case (score, addr) => (qi, addr, score) }
        }
      }.collect()
    // merge fruits: pushes must arrive in ascending global address order
    val addrRows = fruits.groupBy(_._1).toSeq.flatMap { case (qi, fs) =>
      val merged = new TopNComputer(kk)
      fs.sortBy(_._2).foreach { case (_, addr, score) => merged.push(score, addr) }
      merged.intoSortedVec().drop(offset).zipWithIndex.map { case ((score, addr), rank) =>
        (qi, (addr >>> 32).toInt, (addr & 0xffffffffL).toInt, score, offset + rank + 1)
      }
    }
    if (addrRows.isEmpty) return qs.map(_ => Array.empty[SearchHit])
    // fetch stored fields: broadcast the tiny pages against the docmap
    val addrDF = spark.createDataFrame(addrRows).toDF("qi", "segment", "docId", "score", "rank")
    val fetched = docmapDF
      .where(col("segment").isin(addrRows.map(_._2).distinct: _*))
      .join(broadcast(addrDF), Seq("segment", "docId"))
      .select("qi", "rank", "url", "score", "segment", "docId")
      .collect()
      .groupBy(_.getInt(0))
    qs.indices.map(qi => fetched.getOrElse(qi, Array.empty[org.apache.spark.sql.Row])
      .map(r => SearchHit(r.getInt(1), r.getString(2), r.getFloat(3), r.getInt(4), r.getInt(5)))
      .sortBy(_.rank))
  }

  /** Top-k by BM25: per-segment WAND kernels + driver-side fruit merge. */
  def topDocs(q: Query, k: Int): Array[SearchHit] = topDocs(q, k, 0)

  /** Top-k with pagination — the reference's `TopDocs::and_offset`
    * (`src/collector/top_score_collector.rs:155-173`).
    */
  def topDocs(q: Query, k: Int, offset: Int): Array[SearchHit] = topK(Seq(q), k, offset).head

  /** Batched top-k: MANY queries in ONE kernel job — the bulk-scoring path
    * (scoring a query log / training-pair generation). One shared stats
    * aggregate, one pruned scan of the union of all query terms, one task
    * per (segment, query shard), one collect, per-query driver merges, one
    * doc-fetch join: per-query driver latency amortizes away.
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
    val live = planAll(qs).zipWithIndex.filter(_._1 != CQuery.CEmpty)
    val counts =
      if (live.isEmpty) Map.empty[Int, Long]
      else fanOut(live) { (_, ctx, _, mine) =>
        mine.map { case (cq, qi) => (qi, QueryKernel.count(cq, ctx)) }
      }.collect().groupMapReduce(_._1)(_._2)(_ + _)
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
  def allMatches(q: Query, scored: Boolean = true): DataFrame = {
    val cq = plan(q)
    if (cq == CQuery.CEmpty)
      return Seq.empty[(Int, Int, Float)].toDF("segment", "docId", "score")
    fanOut(Seq(cq -> 0)) { (seg, ctx, _, mine) =>
      mine.flatMap { case (c, _) =>
        QueryKernel.allMatches(c, ctx, scored).map { case (d, s) => (seg, d, s) }
      }
    }.toDF("segment", "docId", "score")
  }

  /** The reference's docs-and-positions iteration surface
    * (`examples/iterating_docs_and_positions.rs`;
    * `InvertedIndexReader::read_postings`, `src/index/inverted_index_reader.rs`):
    * the full posting stream of one term — every alive (segment, docId,
    * termFreq, positions) — as a DataFrame. One task per segment decodes
    * that term's single posting row off the pruned scan, so a hot term's
    * corpus-wide stream never funnels through the driver; positions are the
    * analyzer's 0-based token ordinals (gap semantics included). The field
    * must be positions-indexed (analyzed TEXT/JSON — the reference's
    * `IndexRecordOption::WithFreqsAndPositions`).
    */
  def termDocsAndPositions(field: String, term: String): DataFrame =
    fanOut(Seq(plan(Query.Term(field, term)) -> 0)) { (seg, ctx, _, _) =>
      val p = ctx.fresh(field, term)
      if (p == null) Iterator.empty
      else new Iterator[(Int, Int, Int, Array[Int])] {
        private def skipDead(): Unit =
          while (p.doc != graft.codec.PostingsCodec.Terminated && ctx.isDeleted(p.doc)) p.advance()
        skipDead()
        override def hasNext: Boolean = p.doc != graft.codec.PostingsCodec.Terminated
        override def next(): (Int, Int, Int, Array[Int]) = {
          val out = (seg, p.doc, p.termFreq, p.positionsForCurrent())
          p.advance()
          skipDead()
          out
        }
      }
    }.toDF("segment", "docId", "termFreq", "positions")

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
    * segment's kernel rows are collected to the driver (a pruned read of the
    * query terms' postings for that segment only) and the scorer DAG is
    * replayed locally; None when the doc does not match.
    */
  def explain(q0: Query, segment: Int, docId: Int): Option[Explanation] = {
    val cq = plan(q0)
    if (cq == CQuery.CEmpty) return None
    val rows = postingsDF.where(col("segment") === segment && kernelCond(Seq(cq)))
      .as[PostingRow].collect()
    QueryKernel.explain(cq, Searcher.makeContext(rows.iterator, kernelState, segment), docId)
  }

  /** Explain by stored key (url): resolves the address via the docmap. */
  def explain(q0: Query, url: String): Option[Explanation] =
    docmapDF.where(col("url") === url).select("segment", "docId").collect()
      .headOption.flatMap(r => explain(q0, r.getInt(0), r.getInt(1)))

  /** Driver-side dead-doc resolution for the merge purge: the full dead set
    * (term tombstones + delete-query tombstones) per requested segment, off
    * ONE pruned read of the tombstones' own term/range/norms rows — the
    * same per-segment assembly the kernel tasks do, replayed locally so the
    * merger never needs its own resolution logic.
    */
  def resolveDeadDocs(segments: Seq[Int]): Map[Int, Array[Int]] = {
    val affected = segments.filter(s =>
      deleteTermsBySeg.contains(s) || deleteQueriesBySeg.contains(s))
    if (affected.isEmpty) return Map.empty
    val rows = postingsDF.where(col("segment").isin(affected: _*) && kernelCond(Nil))
      .as[PostingRow].collect()
      .groupBy(_.segment)
    affected.map { s =>
      s -> Searcher.makeContext(rows.getOrElse(s, Array.empty[PostingRow]).iterator,
        kernelState, s).deleted
    }.filter(_._2.nonEmpty).toMap
  }

  /** Hierarchical facet collector (`src/collector/facet_collector.rs:47-183`):
    * counts of `root`'s DIRECT children over the docs matching `q`. A doc
    * with facet `/a/b/c` counts toward child `/a/b` of root `/a` because the
    * builder indexes every ancestor prefix as its own term — so each child's
    * count is |postings(child) ∩ matches|, computed per segment inside the
    * kernel task (the facet rows ride the same pruned scan as the query
    * terms) and summed across segments by one tiny groupBy.
    */
  def facetCounts(q0: Query, field: String, root: String): DataFrame = {
    val cq = plan(q0)
    if (cq == CQuery.CEmpty) return Seq.empty[(String, Long)].toDF("facet", "count")
    val prefix = (if (root.endsWith("/")) root.dropRight(1) else root) + "/"
    fanOut(Seq(cq -> 0), Some(col("field") === field && col("term").startsWith(prefix))) {
      (_, ctx, rows, mine) =>
        val matched = new java.util.BitSet(ctx.numDocs)
        mine.foreach { case (c, _) =>
          QueryKernel.allMatches(c, ctx, scored = false).foreach { case (d, _) => matched.set(d) }
        }
        rows.iterator
          .filter(r => r.field == field && r.term.startsWith(prefix) &&
            r.term.indexOf('/', prefix.length) < 0)
          .map { r =>
            val (docs, _, _) = graft.codec.PostingsCodec
              .decodeAll(r.docFreq, r.postings, r.skip, readFreqs = true)
            var c = 0L
            docs.foreach(d => if (matched.get(d)) c += 1)
            (r.term, c)
          }
          .filter(_._2 > 0)
    }.toDF("facet", "cnt")
      .groupBy("facet").agg(sum("cnt").as("count"))
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

  private def inBounds(term: String, lo: Option[String], hi: Option[String],
      loInc: Boolean, hiInc: Boolean): Boolean =
    lo.forall(v => if (loInc) term >= v else term > v) &&
      hi.forall(v => if (hiInc) term <= v else term < v)

  private def covers(rg: CQuery.CRange, r: PostingRow): Boolean =
    rg.field == r.field && inBounds(r.term, rg.lo, rg.hi, rg.loInclusive, rg.hiInclusive)

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
    * `/root/reference/src/query/automaton_weight.rs:37-55`); the Spark analog
    * is a `startsWith` predicate alongside the `rlike`, which the Parquet
    * scan turns into min/max row-group pruning over the sorted `term`
    * column — the dictionary walk touches only the prefix's range instead of
    * the whole vocabulary. Conservative: stops at the first metacharacter,
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
    // segment-local dictionary range walk: the pruned scan already
    // restricted rows to the union of the batch's term + range conditions,
    // so re-filtering by THIS range's bounds is exact
    val rangeFor: (String, Option[String], Option[String], Boolean, Boolean) =>
        Array[graft.codec.SegmentPostings] =
      (f, lo, hi, loInc, hiInc) => byField.get(f) match {
        case None => Array.empty[graft.codec.SegmentPostings]
        case Some(rs) =>
          rs.iterator.filter(r => inBounds(r.term, lo, hi, loInc, hiInc)).map(cursor).toArray
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
