package graft.index

import org.apache.spark.{SparkConf, TaskContext}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.analysis.Analyzer
import graft.codec.PostingsCodec

/** Index build configuration (the schema: which columns feed which storages,
  * mirroring the reference's per-field options — `text` is TEXT with
  * freqs+positions, `key`/`lang` are raw-indexed, `ts` is a fast field kept
  * columnar in the docmap; cf. `/root/reference/src/schema/text_options.rs:12`,
  * FIXTURES.md §1).
  *
  * `maxDocsPerSegment` is the memory-budget flush analog
  * (`src/indexer/index_writer.rs:195`): a partition streaming more docs than
  * this cuts additional segments, keeping build memory O(segment), not
  * O(partition).
  */
final case class IndexConfig(
    numPartitions: Int,
    keyField: String = "url",
    textField: String = "text",
    /** EXTRA analyzed text fields beyond [[textField]] — the reference's
      * multi-TEXT-field schema (e.g. title + body,
      * `src/schema/schema.rs` add_text_field): each gets its own postings
      * with positions, its own fieldnorms row and its own BM25 length
      * statistics, and is queryable by name in any engine query
      * (`Query.Term("title", ...)`, phrases, boolean mixes across fields).
      * All text fields share [[textAnalyzer]]; a doc with a null value
      * simply lacks the field (norm 0, no postings).
      */
    textFields: Seq[String] = Nil,
    /** Per-field analyzer overrides for [[textFields]] entries (the
      * reference's per-field `TextOptions.set_tokenizer`): fields absent
      * here analyze with [[textAnalyzer]]. Recorded in the manifest so the
      * query parser can analyze each field with its own chain
      * (`QueryParser(fieldAnalyzers = manifest.textFieldAnalyzers)`).
      */
    textFieldAnalyzers: Map[String, String] = Map.empty,
    langField: String = "lang",
    tsField: String = "warc_ts",
    /** Docs per in-memory segment arena (the posting-arena size guard).
      * Each concurrent build task holds one arena, so arenas must be sized
      * to a worker CORE's memory share, not to the whole heap — BENCH.md's
      * 10M windows measured the failure directly (312k-doc arenas × 4
      * concurrent tasks = GC-bound, build scaling eff 0.624; ~104k-doc
      * arenas = 0.979). 150k ≈ the green band's ceiling for the
      * benchmark's ~550-char docs; raise it only together with per-core
      * memory.
      */
    maxDocsPerSegment: Int = 150000,
    /** Byte-denominated companion to [[maxDocsPerSegment]]: a chunk also cuts
      * when its accumulated analyzed-text bytes reach this budget, so the
      * guard is corpus-shape-independent — a corpus of 10× longer docs
      * cuts 10× smaller (by count) segments instead of GC-thrashing inside
      * the doc-count band. Default 80 MiB ≈ the doc-count band at the
      * benchmark geometry (150k docs × ~550 chars), so the two bands agree
      * where the doc-count band was calibrated and the bytes band takes
      * over for longer-doc corpora. The effective cut is whichever band
      * fills first; `Long.MaxValue` disables.
      */
    arenaBandBytes: Long = 80L << 20,
    /** Numeric columns indexed as TYPED terms: each value becomes one
      * order-preserving `TypedTerms.encodeLong` term in the field's own term
      * space (the reference's u64/i64/date term encoding,
      * `src/schema/field_type.rs:53-74`) — `Query.longRange`/`longTerm` then
      * range-scan the dictionary inside boolean engine queries.
      */
    longFields: Seq[String] = Nil,
    /** IP-address columns (string v4/v6 literals) indexed as TYPED terms:
      * each value becomes one order-preserving 128-bit term — v4 mapped into
      * v6 space like the reference (`src/schema/ip_options.rs`,
      * `common::u128_to_monotonic`) — so `Query.ipTerm`/`ipRange` range-scan
      * the dictionary inside boolean engine queries.
      */
    ipFields: Seq[String] = Nil,
    /** Binary columns indexed as TYPED terms: each byte-array value becomes
      * exactly one term — the bytes themselves, hex-printed so lexicographic
      * term order equals unsigned byte order (the reference's indexed Bytes
      * field, `src/schema/bytes_options.rs`, `src/schema/field_type.rs:241`)
      * — so `Query.bytesTerm`/`bytesRange` work inside boolean engine
      * queries (digest / fingerprint lookups without a join back to source).
      */
    bytesFields: Seq[String] = Nil,
    /** JSON columns indexed as dynamic fields: every leaf becomes a
      * path-prefixed term (`JsonTerms` layout — string tokens analyzed with
      * positions, numbers/bools typed) so `path:value` queries and numeric
      * path ranges work without a declared schema
      * (`src/postings/json_postings_writer.rs`). Unparseable JSON indexes
      * nothing for that doc (lenient, pipeline-friendly).
      */
    jsonFields: Seq[String] = Nil,
    /** Hierarchical facet columns (`/a/b/c` paths, comma-separated for
      * multi-valued): every ancestor prefix indexes as its own term
      * (`src/schema/facet.rs` + the FacetTokenizer), so counting a subtree
      * is one term's doc frequency and child counting is a prefix scan.
      */
    facetFields: Seq[String] = Nil,
    /** PreTokenizedString ingestion (`src/tokenizer/tokenized_string.rs:127`):
      * when set, this array<string> column supplies the text field's tokens
      * verbatim — the analyzer is bypassed, positions are the array indices.
      * Lets pipeline users index with their own (e.g. BPE) tokenization.
      */
    preTokenizedField: Option[String] = None,
    /** Multi-valued main TEXT field — the reference's repeated `add_text`
      * on one field (examples/basic_search.rs "Frankenstein"/"The Modern
      * Prometheus"): when set, this array<string> column's values are
      * analyzed one by one and token positions continue across values with
      * POSITION_GAP = 1 (`src/postings/postings_writer.rs:18,158`), so a
      * phrase can never match across a value boundary; the fieldnorm is
      * the total kept-token count over all values. Takes precedence over
      * [[textField]] as the text source.
      */
    textValuesField: Option[String] = None,
    /** `IndexSettings.docstore_compression` analog
      * (`src/index/index_meta.rs:248-261`: none|lz4|zstd): the Parquet codec
      * for the index files. Parquet's block compression replaces the
      * reference's doc-store block codec; `uncompressed`, `snappy`, `lz4`,
      * `zstd`, `gzip` accepted.
      */
    compression: String = "snappy",
    /** General FAST fields (`src/fastfield/mod.rs`): source columns stored
      * columnar in the docmap rows (NOT indexed — combine with `longFields`
      * to also get typed terms on the same column). The Searcher flattens
      * each into a named, typed docmap column for sort / filter / agg over
      * matches. Types: long covers ints/dates/bools (the reference's u64
      * monotonic mapping), double is f64, string is str.
      */
    fastLongFields: Seq[String] = Nil,
    fastDoubleFields: Seq[String] = Nil,
    fastStringFields: Seq[String] = Nil,
    /** Multi-valued fast fields: source ARRAY columns stored per doc
      * (tags-style; `Cardinality::Multivalued` in the reference columnar).
      */
    fastLongArrayFields: Seq[String] = Nil,
    fastStringArrayFields: Seq[String] = Nil,
    /** Named analyzer for the text field — the reference's per-field
      * tokenizer assignment (`TextOptions.set_tokenizer`,
      * `src/schema/text_options.rs`): `default`, `raw`, `whitespace`, or
      * `<lang>_stem` (Snowball; `en_stem` etc.). Recorded in the manifest so
      * the query parser analyzes with the SAME chain.
      */
    textAnalyzer: String = "default") {
  def rawFields: Seq[String] = Seq(keyField, langField)
}

/** Normalized input row for the builder (public: Catalyst codegen
  * instantiates it in generated deserializers). `longs` holds the typed
  * numeric field values aligned with `IndexConfig.longFields` (nulls
  * absent); `jsons` the raw JSON strings of `IndexConfig.jsonFields`.
  */
final case class InDoc(key: String, text: String, lang: String, ts: java.sql.Timestamp,
    longs: Map[String, Long], jsons: Map[String, String], facets: Map[String, String],
    preToks: Seq[String],
    texts: Map[String, String] = null,
    ffLongs: Map[String, Long] = null, ffDoubles: Map[String, Double] = null,
    ffStrings: Map[String, String] = null,
    ffLongArrays: Map[String, Seq[Long]] = null,
    ffStringArrays: Map[String, Seq[String]] = null,
    ips: Map[String, String] = null,
    /** bytes-field values pre-encoded to hex terms by Catalyst (`lower(hex)`
      * stays in codegen; the hex string IS the term — `TypedTerms.encodeBytes`).
      */
    bytesHex: Map[String, String] = null,
    /** multi-valued text source values (null unless `textValuesField` set) */
    textVals: Seq[String] = null)

object IndexBuilder {

  /** chunk ordinal cap per partition — segment id = pid * ChunksPerPartition + chunk */
  val ChunksPerPartition = 4096

  /** Build (or resume) an inverted index over `source`.
    *
    * Spark trace (SURVEY.md §3.1): repartition(numPartitions, hash(key)) →
    * sortWithinPartitions(key) → mapPartitions(tokenize + encode segment) →
    * write postings/docmap Parquet partitioned by segment → atomic manifest
    * publish. Partitioning and sort are deterministic in the key alone, so
    * docIds — and therefore scores and ranks — are identical at any
    * parallelism (local[8] ≡ local[32]; the N-vs-4N prerequisite).
    *
    * Resume: segments already in the manifest are skipped (their input
    * partition is still scanned — the shuffle is lineage — but tokenize,
    * encode and write are not redone); leftover files of unfinished segments
    * are deleted before the build so append stays exactly-once.
    */
  def build(spark: SparkSession, source: DataFrame, indexDir: String, cfg: IndexConfig,
      resume: Boolean = true, segmentBase: Int = 0): IndexManifest =
    // one writer per index dir (the reference's INDEX_WRITER_LOCK held for
    // the IndexWriter's lifetime): the manifest RMW at commit would drop a
    // concurrent mutator's update otherwise
    WriterLock.withLock(spark, indexDir) {
      buildLocked(spark, source, indexDir, cfg, resume, segmentBase)
    }

  private def buildLocked(spark: SparkSession, source: DataFrame, indexDir: String,
      cfg: IndexConfig, resume: Boolean, segmentBase: Int): IndexManifest = {
    import spark.implicits._

    val prior = if (resume) IndexManifest.read(spark, indexDir) else None
    val done: Set[Int] = prior.map(_.segments.map(_.segment).toSet).getOrElse(Set.empty)
    prior.foreach { p =>
      require(p.numPartitions == cfg.numPartitions,
        s"resume with different numPartitions (${p.numPartitions} != ${cfg.numPartitions}) would re-map docIds")
      require(p.textAnalyzer == cfg.textAnalyzer,
        s"resume with different analyzer ('${p.textAnalyzer}' != '${cfg.textAnalyzer}') would mix term spaces")
      require(p.textFields == cfg.textFields && p.textFieldAnalyzers == cfg.textFieldAnalyzers,
        "resume with different textFields / per-field analyzers would mix term spaces")
    }

    // clean partial output of segments that never made it into the manifest
    // (restricted to this build's segment-id range so streaming appends never
    // touch other batches' output)
    cleanUnfinished(spark, indexDir, done, segmentBase,
      segmentBase + cfg.numPartitions.toLong * ChunksPerPartition)

    // unused feature columns ship as NULL, not empty collections — the
    // deserializer then skips per-row Map/Seq materialization entirely
    // (three maps + a seq per doc measurably drag the hot build path)
    val longsCol =
      if (cfg.longFields.isEmpty) lit(null).cast("map<string,bigint>")
      else map_filter(
        map(cfg.longFields.flatMap(f => Seq(lit(f), col(f).cast("long"))): _*),
        (_, v) => v.isNotNull)
    val jsonsCol =
      if (cfg.jsonFields.isEmpty) lit(null).cast("map<string,string>")
      else map_filter(
        map(cfg.jsonFields.flatMap(f => Seq(lit(f), col(f).cast("string"))): _*),
        (_, v) => v.isNotNull)
    val facetsCol =
      if (cfg.facetFields.isEmpty) lit(null).cast("map<string,string>")
      else map_filter(
        map(cfg.facetFields.flatMap(f => Seq(lit(f), col(f).cast("string"))): _*),
        (_, v) => v.isNotNull)
    def ffMap(fields: Seq[String], sqlType: String) =
      if (fields.isEmpty) lit(null).cast(s"map<string,$sqlType>")
      else map_filter(
        map(fields.flatMap(f => Seq(lit(f), col(f).cast(sqlType))): _*),
        (_, v) => v.isNotNull)
    // null-lenient ingestion (web corpora carry nulls): a null text indexes
    // as an empty field (the reference's doc-without-field), a null key
    // becomes "" (still addressable); lang/ts stay null in the docmap
    val in: Dataset[InDoc] = source.select(
        coalesce(col(cfg.keyField).cast("string"), lit("")).as("key"),
        // with a multi-valued source the scalar text column need not exist
        (if (cfg.textValuesField.isDefined) lit("")
         else coalesce(col(cfg.textField).cast("string"), lit(""))).as("text"),
        // the built-in lang/ts fast-field columns are optional on the
        // source (same null-lenient rule as a null value: absent == null)
        (if (source.columns.contains(cfg.langField)) col(cfg.langField).cast("string")
         else lit(null).cast("string")).as("lang"),
        (if (source.columns.contains(cfg.tsField)) col(cfg.tsField).cast("timestamp")
         else lit(null).cast("timestamp")).as("ts"),
        longsCol.as("longs"),
        jsonsCol.as("jsons"),
        facetsCol.as("facets"),
        cfg.preTokenizedField
          .map(f => coalesce(col(f).cast("array<string>"), typedlit(Seq.empty[String])))
          .getOrElse(lit(null).cast("array<string>")).as("preToks"),
        cfg.textValuesField
          .map(f => coalesce(col(f).cast("array<string>"), typedlit(Seq.empty[String])))
          .getOrElse(lit(null).cast("array<string>")).as("textVals"),
        ffMap(cfg.textFields, "string").as("texts"),
        ffMap(cfg.fastLongFields, "bigint").as("ffLongs"),
        ffMap(cfg.fastDoubleFields, "double").as("ffDoubles"),
        ffMap(cfg.fastStringFields, "string").as("ffStrings"),
        ffMap(cfg.fastLongArrayFields, "array<bigint>").as("ffLongArrays"),
        ffMap(cfg.fastStringArrayFields, "array<string>").as("ffStringArrays"),
        ffMap(cfg.ipFields, "string").as("ips"),
        (if (cfg.bytesFields.isEmpty) lit(null).cast("map<string,string>")
         else map_filter(
           map(cfg.bytesFields.flatMap(f =>
             Seq(lit(f), lower(hex(col(f).cast("binary"))))): _*),
           (_, v) => v.isNotNull)).as("bytesHex"))
      .as[InDoc]

    val parted = in
      .repartition(cfg.numPartitions, col("key"))
      .sortWithinPartitions("key")

    val bcCfg = spark.sparkContext.broadcast(cfg)
    val bcDone = spark.sparkContext.broadcast(done)
    val bcBase = spark.sparkContext.broadcast(segmentBase)

    // ONE job, one pass: postings + doc-map + norms, one sorted Parquet per
    // segment. The per-segment stats ride out of the same job on an
    // accumulator (updates reach the driver only from SUCCESSFUL tasks, so
    // entries correspond 1:1 with committed task output; speculative twins
    // dedupe by segment id) and are kept only in the manifest, as the
    // reference keeps them only in `meta.json`.
    val statsAcc = spark.sparkContext
      .collectionAccumulator[SegStats]("graft.segmentStats")
    val postings = parted.mapPartitions { it =>
      val cfg = bcCfg.value
      val pid = TaskContext.getPartitionId()
      chunked(it, cfg.maxDocsPerSegment, cfg.arenaBandBytes)
        .zipWithIndex.flatMap { case (chunk, ci) =>
        // segment-id layout allots ChunksPerPartition ids per partition; a
        // partition overflowing it would silently collide with the next
        // partition's id range (and break cleanUnfinished's range math)
        require(ci < ChunksPerPartition,
          s"partition $pid produced more than $ChunksPerPartition segments " +
            "(raise numPartitions or maxDocsPerSegment)")
        val segId = bcBase.value + pid * ChunksPerPartition + ci
        if (bcDone.value.contains(segId)) Iterator.empty
        else {
          val (rows, stats) = buildSegment(segId, chunk, cfg)
          statsAcc.add(stats)
          rows
        }
      }
    }
    postings.toDF()
      .write.mode("append").partitionBy("segment")
      .option("compression", cfg.compression)
      .parquet(s"$indexDir/postings")

    // assemble manifest: this commit's segments from the accumulator, prior
    // commits' from the prior manifest (never resurrect uncommitted orphans)
    val newCommitSeq = prior.map(_.commitSeq + 1).getOrElse(1L)
    val priorSegs: Seq[SegmentMeta] = prior.map(_.segments).getOrElse(Nil)
    import scala.jdk.CollectionConverters._
    val fresh = statsAcc.value.asScala.toSeq.sorted.distinctBy(_._1)
      .map { case (segment, numDocs, totalTokens, buildMillis, postingsBytes) =>
        SegmentMeta(
          segment = segment,
          numDocs = numDocs,
          totalTokens = totalTokens,
          postingsBytes = postingsBytes,
          buildMillis = buildMillis,
          docsPerSec = numDocs.toDouble * 1000.0 / buildMillis,
          mergeFanIn = 1,
          // opstamp: segments published by THIS commit are stamped with it
          // (deletes recorded earlier do not apply to them)
          createdSeq = newCommitSeq)
      }
    val metas = (priorSegs ++ fresh).sortBy(_.segment)

    // Derived heap sizing (BENCH.md r4 guard windows): each concurrent
    // build task holds one posting arena whose live set is a large multiple
    // of its analyzed-text bytes — 10M-doc runs measured 2 GiB/task
    // DEGRADED (eff 0.725) and 8 GiB/task green for ~84 MiB-text arenas.
    // Estimate the largest arena from the measured token counts
    // (~7 bytes/token incl. separators) and surface the remaining
    // deployment parameter as a manifest warning when heap-per-task sits
    // below 48x that estimate (between the measured red 24x and green
    // ~100x points) — the warning cannot fail a build, only record that
    // this heap/concurrency pairing measured degraded at scale.
    val maxSegTokens = if (metas.isEmpty) 0L else metas.map(_.totalTokens).max
    val (heapBytes, concurrency) = taskHeap(spark.sparkContext.getConf,
      Runtime.getRuntime.maxMemory(), spark.sparkContext.defaultParallelism, metas.size)
    val warnings = heapWarning(maxSegTokens, concurrency, heapBytes).toSeq

    val manifest = IndexManifest(
      version = IndexManifest.FormatVersion,
      commitSeq = newCommitSeq,
      keyField = cfg.keyField,
      textField = cfg.textField,
      rawFields = cfg.rawFields,
      numPartitions = cfg.numPartitions,
      segments = metas,
      deletes = prior.map(_.deletes).getOrElse(Nil),
      fastFields =
        cfg.fastLongFields.map(FastField(_, "long")) ++
        cfg.fastDoubleFields.map(FastField(_, "double")) ++
        cfg.fastStringFields.map(FastField(_, "string")) ++
        cfg.fastLongArrayFields.map(FastField(_, "longs")) ++
        cfg.fastStringArrayFields.map(FastField(_, "strings")),
      textAnalyzer = cfg.textAnalyzer,
      textFields = cfg.textFields,
      textFieldAnalyzers = cfg.textFieldAnalyzers,
      warnings = warnings,
      compression = cfg.compression)
    warnings.foreach(w => println(s"[graft-build WARN] $w"))
    IndexManifest.write(spark, indexDir, manifest)
    manifest
  }

  /** The heap of a JVM that runs build tasks and how many of them it runs
    * at once (at most `segments`), for [[heapWarning]]: on a cluster with
    * `spark.executor.cores` set, an executor's — `spark.executor.memory` of
    * heap and `spark.executor.cores / spark.task.cpus` slots; otherwise (local
    * mode, or executors that take all of a worker's cores, a count the conf
    * does not hold) the driver's own heap and `defaultParallelism` slots.
    */
  private[graft] def taskHeap(conf: SparkConf, driverHeap: Long, defaultParallelism: Int,
      segments: Int): (Long, Int) = {
    val master = conf.get("spark.master", "local")
    val local = master == "local" || master.startsWith("local[")
    val (heap, slots) =
      if (local || !conf.contains("spark.executor.cores")) (driverHeap, defaultParallelism)
      else (conf.getSizeAsBytes("spark.executor.memory", "1g"),
        conf.getInt("spark.executor.cores", 1) / conf.getInt("spark.task.cpus", 1))
    (heap, math.min(slots, segments))
  }

  /** Derived heap-to-arena sizing rule (pure — ArenaGuardSpec pins it at
    * the measured 10M-window geometries): estimate the largest posting
    * arena's analyzed-text bytes from its token count (~7 bytes/token incl.
    * separators) and advise when heap-per-concurrent-task is under 48x
    * that — between the measured red point (2 GiB/task at a ~84 MiB arena,
    * build eff 0.725, BENCH.md r4 guard-1) and the measured green one
    * (8 GiB/task, eff 0.878+, guard-3 / window B). Advisory only.
    */
  private[graft] def heapWarning(maxSegTokens: Long, concurrency: Int,
      heapBytes: Long): Option[String] = {
    val estArenaBytes = maxSegTokens * 7L
    val conc = math.max(1, concurrency)
    val heapPerTask = heapBytes / conc
    if (estArenaBytes > 0 && heapPerTask < 48L * estArenaBytes)
      Some(s"heap/task ${heapPerTask >> 20} MiB < 48x the largest segment " +
        s"arena (~${estArenaBytes >> 20} MiB analyzed text, " +
        s"$conc concurrent tasks): 10M-doc windows measured degraded " +
        "4-core build efficiency below this band (BENCH.md r4 guard-1) — " +
        "raise executor heap or lower maxDocsPerSegment/arenaBandBytes")
    else None
  }

  /** Lazily split an iterator into chunks of at most `size` docs AND at most
    * ~`byteBudget` analyzed-text bytes (whichever band fills first; always at
    * least one doc per chunk, so a single over-budget doc still indexes).
    */
  private def chunked(it: Iterator[InDoc], chunkSize: Int,
      byteBudget: Long): Iterator[Seq[InDoc]] =
    new Iterator[Seq[InDoc]] {
      def hasNext: Boolean = it.hasNext
      def next(): Seq[InDoc] = {
        val buf = new scala.collection.mutable.ArrayBuffer[InDoc](math.min(chunkSize, 1 << 16))
        var bytes = 0L
        while (it.hasNext && buf.length < chunkSize && bytes < byteBudget) {
          val d = it.next()
          buf += d
          bytes += docTextBytes(d)
        }
        buf.toSeq
      }
    }

  /** Analyzed-text size of one input doc (chars ≈ bytes for the guard's
    * purpose): main text plus multi-valued text plus extra text fields —
    * the inputs whose token arenas dominate build memory.
    */
  private def docTextBytes(d: InDoc): Long = {
    var n = if (d.text != null) d.text.length.toLong else 0L
    if (d.textVals != null) {
      val i = d.textVals.iterator
      while (i.hasNext) { val v = i.next(); if (v != null) n += v.length }
    }
    if (d.texts != null)
      d.texts.valuesIterator.foreach(v => if (v != null) n += v.length)
    if (d.preToks != null) {
      val i = d.preToks.iterator
      while (i.hasNext) { val v = i.next(); if (v != null) n += v.length + 1 }
    }
    n
  }

  /** Growable int buffer for posting accumulation. */
  private final class IntVec(initial: Int = 8) {
    var arr = new Array[Int](initial)
    var len = 0
    def +=(v: Int): Unit = {
      if (len == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
      arr(len) = v
      len += 1
    }
    def incrLast(): Unit = arr(len - 1) += 1
    def toArray: Array[Int] = java.util.Arrays.copyOf(arr, len)
  }

  /** (segment, numDocs, totalTokens, buildMillis, postingsBytes) of one
    * built segment, the manifest's [[SegmentMeta]] numbers.
    */
  private type SegStats = (Int, Int, Long, Long, Long)

  /** One segment: the in-RAM term->postings recorder of the reference
    * (`src/postings/postings_writer.rs:59-90`) as a partition-local hash map,
    * then term-sorted encode — no shuffle inside a segment build. Returns
    * its rows and its manifest numbers.
    */
  private def buildSegment(segId: Int, docs: Seq[InDoc],
      cfg: IndexConfig): (Iterator[PostingRow], SegStats) = {
    val t0 = System.currentTimeMillis()
    val numDocs = docs.length
    val norms = new Array[Byte](numDocs)
    var totalTokens = 0L

    final case class Acc(docsV: IntVec, tfsV: IntVec, posV: IntVec) { var lastDoc: Int = -1 }
    val text = new java.util.HashMap[String, Acc]()
    val raw = new java.util.HashMap[(String, String), IntVec]()
    val json = new java.util.HashMap[(String, String), Acc]()
    // extra analyzed text fields: own postings + own norms + own token totals
    val extra = new java.util.HashMap[(String, String), Acc]()
    val extraNorms: Map[String, Array[Byte]] =
      cfg.textFields.map(f => f -> new Array[Byte](numDocs)).toMap
    val extraTokens = new scala.collection.mutable.HashMap[String, Long]()
    @inline def accAdd(m: java.util.HashMap[(String, String), Acc], key: (String, String),
        docId: Int, position: Int): Unit = {
      var acc = m.get(key)
      if (acc == null) { acc = Acc(new IntVec(), new IntVec(), new IntVec()); m.put(key, acc) }
      if (acc.lastDoc != docId) {
        acc.docsV += docId
        acc.tfsV += 1
        acc.lastDoc = docId
      } else acc.tfsV.incrLast()
      acc.posV += position
    }

    var docId = 0
    val preTokenized = cfg.preTokenizedField.isDefined
    val analyzerChain = Analyzer.chain(cfg.textAnalyzer)
    val extraChains: Map[String, String => scala.collection.mutable.ArrayBuffer[graft.analysis.Token]] =
      cfg.textFields.map(f =>
        f -> Analyzer.chain(cfg.textFieldAnalyzers.getOrElse(f, cfg.textAnalyzer))).toMap
    // default-chain docs take the allocation-free foreachTerm walk (no Token
    // objects / buffers — the build stage is memory-bandwidth-bound at 4N);
    // named analyzers and pre-tokenized input keep the materializing chain
    val fastDefault = !preTokenized && cfg.textValuesField.isEmpty &&
      cfg.textAnalyzer == "default"
    docs.foreach { d =>
      @inline def addTextTerm(term: String, position: Int): Unit = {
        var acc = text.get(term)
        if (acc == null) { acc = Acc(new IntVec(), new IntVec(), new IntVec()); text.put(term, acc) }
        if (acc.lastDoc != docId) {
          acc.docsV += docId
          acc.tfsV += 1
          acc.lastDoc = docId
        } else acc.tfsV.incrLast()
        acc.posV += position
      }
      val nKept: Int =
        if (d.textVals != null) {
          // multi-valued text: each value analyzed on its own, positions
          // continue across values with POSITION_GAP = 1 — start =
          // end_position + token.position, end = max(start + 1), then +1
          // gap after the value (postings_writer.rs:139-158); the norm is
          // the total kept-token count over all values
          var endPos = 0
          var total = 0
          d.textVals.foreach { v =>
            val ts = analyzerChain(if (v == null) "" else v)
            var j = 0
            var maxEnd = endPos
            while (j < ts.length) {
              val start = endPos + ts(j).position
              addTextTerm(ts(j).text, start)
              if (start + 1 > maxEnd) maxEnd = start + 1
              j += 1
            }
            total += ts.length
            endPos = maxEnd + 1
          }
          total
        } else if (fastDefault) Analyzer.foreachTerm(d.text)(addTextTerm)
        else {
          val toks: scala.collection.Seq[graft.analysis.Token] =
            if (preTokenized)
              d.preToks.iterator.zipWithIndex
                .map { case (t, i) => graft.analysis.Token(t, i, 0, 0) }.toIndexedSeq
            else analyzerChain(d.text)
          var i = 0
          while (i < toks.length) {
            addTextTerm(toks(i).text, toks(i).position)
            i += 1
          }
          toks.length
        }
      norms(docId) = graft.index.FieldNorms.fieldNormToId(nKept.toLong)
      totalTokens += nKept
      // extra text fields: per-field analyzer chain, per-field postings + norms
      if (d.texts != null) d.texts.foreach { case (f, v) =>
        val ftoks = extraChains(f)(v)
        var j = 0
        while (j < ftoks.length) {
          accAdd(extra, (f, ftoks(j).text), docId, ftoks(j).position)
          j += 1
        }
        extraNorms(f)(docId) = graft.index.FieldNorms.fieldNormToId(ftoks.length.toLong)
        extraTokens(f) = extraTokens.getOrElse(f, 0L) + ftoks.length
      }
      // raw fields: whole value = one term (RawTokenizer); typed long fields:
      // one order-preserving encoded term per value
      Seq(cfg.keyField -> d.key, cfg.langField -> d.lang).foreach { case (f, v) =>
        if (v != null) {
          var vec = raw.get((f, v))
          if (vec == null) { vec = new IntVec(); raw.put((f, v), vec) }
          vec += docId
        }
      }
      if (d.longs != null) d.longs.foreach { case (f, v) =>
        val key = (f, TypedTerms.encodeLong(v))
        var vec = raw.get(key)
        if (vec == null) { vec = new IntVec(); raw.put(key, vec) }
        vec += docId
      }
      // ip fields: order-preserving 128-bit term per value (unparseable
      // addresses index nothing — lenient like json)
      if (d.ips != null) d.ips.foreach { case (f, v) =>
        val enc = try TypedTerms.encodeIp(v) catch { case _: Exception => null }
        if (enc != null) {
          val key = (f, enc)
          var vec = raw.get(key)
          if (vec == null) { vec = new IntVec(); raw.put(key, vec) }
          vec += docId
        }
      }
      // bytes fields: the value's hex IS the term (encoded Catalyst-side)
      if (d.bytesHex != null) d.bytesHex.foreach { case (f, enc) =>
        val key = (f, enc)
        var vec = raw.get(key)
        if (vec == null) { vec = new IntVec(); raw.put(key, vec) }
        vec += docId
      }
      // facet fields: each path emits itself + every ancestor, deduped per
      // doc (multi-valued paths share ancestors)
      if (d.facets != null) d.facets.foreach { case (f, pathsStr) =>
        val seen = new java.util.HashSet[String]()
        pathsStr.split(',').iterator.map(_.trim).filter(_.nonEmpty).foreach { p =>
          Analyzer.facetTokens(p).foreach { t =>
            if (seen.add(t.text)) {
              var vec = raw.get((f, t.text))
              if (vec == null) { vec = new IntVec(); raw.put((f, t.text), vec) }
              vec += docId
            }
          }
        }
      }
      // json fields: one analyzed+typed term per leaf token, positions
      // running across the whole document's traversal order
      if (d.jsons != null) d.jsons.foreach { case (f, js) =>
        val terms =
          try JsonTerms.leafTerms(org.json4s.jackson.JsonMethods.parse(js), Analyzer.terms)
          catch { case _: Exception => Seq.empty[String] }
        var p = 0
        terms.foreach { t =>
          accAdd(json, (f, t), docId, p)
          p += 1
        }
      }
      docId += 1
    }

    var postingsBytes = 0L
    val textRows = {
      import scala.jdk.CollectionConverters._
      text.entrySet().asScala.toArray.sortBy(_.getKey).iterator.map { e =>
        val acc = e.getValue
        val enc = PostingsCodec.encode(
          acc.docsV.toArray, acc.tfsV.toArray, acc.posV.toArray,
          d => norms(d), withFreqs = true)
        postingsBytes += enc.postings.length + enc.skip.length + enc.positions.length
        PostingRow(segId, cfg.textField, e.getKey, enc.docFreq, enc.totalTf,
          enc.postings, enc.skip, enc.positions)
      }
    }
    val extraRows = {
      import scala.jdk.CollectionConverters._
      extra.entrySet().asScala.toArray.sortBy(e => (e.getKey._1, e.getKey._2)).iterator.map { e =>
        val (f, t) = e.getKey
        val acc = e.getValue
        val fn = extraNorms(f)
        val enc = PostingsCodec.encode(
          acc.docsV.toArray, acc.tfsV.toArray, acc.posV.toArray,
          dd => fn(dd), withFreqs = true)
        postingsBytes += enc.postings.length + enc.skip.length + enc.positions.length
        PostingRow(segId, f, t, enc.docFreq, enc.totalTf, enc.postings, enc.skip, enc.positions)
      }
    }
    val rawRows = {
      import scala.jdk.CollectionConverters._
      raw.entrySet().asScala.toArray.sortBy(e => (e.getKey._1, e.getKey._2)).iterator.map { e =>
        val (f, v) = e.getKey
        val ds = e.getValue.toArray
        val enc = PostingsCodec.encode(ds, Array.fill(ds.length)(1), null, null, withFreqs = false)
        postingsBytes += enc.postings.length + enc.skip.length
        PostingRow(segId, f, v, enc.docFreq, enc.totalTf, enc.postings, enc.skip, enc.positions)
      }
    }
    val jsonRows = {
      import scala.jdk.CollectionConverters._
      json.entrySet().asScala.toArray.sortBy(e => (e.getKey._1, e.getKey._2)).iterator.map { e =>
        val (f, t) = e.getKey
        val acc = e.getValue
        val enc = PostingsCodec.encode(
          acc.docsV.toArray, acc.tfsV.toArray, acc.posV.toArray,
          dd => norms(dd), withFreqs = true)
        postingsBytes += enc.postings.length + enc.skip.length + enc.positions.length
        PostingRow(segId, f, t, enc.docFreq, enc.totalTf, enc.postings, enc.skip, enc.positions)
      }
    }

    // doc-map rows (row store + fast fields) ride in the same table
    val docRows = docs.iterator.zipWithIndex.map { case (d, i) =>
      PostingRow.docRow(segId, i, d.key, d.ts, d.lang, d.ffLongs, d.ffDoubles, d.ffStrings,
        d.ffLongArrays, d.ffStringArrays)
    }
    // buffer rows (they must be fully computed before t1 anyway for metrics)
    val body = (docRows ++ textRows ++ extraRows ++ rawRows ++ jsonRows).toArray
    val t1 = System.currentTimeMillis()
    val normsRow = PostingRow(segId, PostingRow.NormsField, cfg.textField,
      numDocs, totalTokens, norms, Array.emptyByteArray, Array.emptyByteArray)
    val extraNormsRows = cfg.textFields.map { f =>
      PostingRow(segId, PostingRow.NormsField, f, numDocs, extraTokens.getOrElse(f, 0L),
        extraNorms(f), Array.emptyByteArray, Array.emptyByteArray)
    }
    (body.iterator ++ Iterator(normsRow) ++ extraNormsRows.iterator,
      (segId, numDocs, totalTokens, math.max(t1 - t0, 1), postingsBytes))
  }

  private def cleanUnfinished(spark: SparkSession, indexDir: String, done: Set[Int],
      lo: Int, hi: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    // an on-disk segment dir that is absent from the current manifest but
    // referenced by a retained snapshot (the manifests/ log) is NOT partial
    // output — it is live history kept by merge(keepOld=true). It must not
    // be deleted here, and this build must not append into its id either
    // (the new rows would alias the snapshot's files), so collide loudly.
    lazy val retained = Snapshots.referencedSegments(spark, indexDir)
    for (sub <- Seq("postings")) {
      val dir = new org.apache.hadoop.fs.Path(s"$indexDir/$sub")
      val fs = dir.getFileSystem(conf)
      if (fs.exists(dir)) {
        fs.listStatus(dir).foreach { st =>
          val name = st.getPath.getName
          if (name.startsWith("segment=")) {
            val id = name.stripPrefix("segment=").toInt
            if (id >= lo && id < hi && !done.contains(id)) {
              require(!retained.contains(id),
                s"segment id $id is retained by a snapshot (manifests/ log) but not in the " +
                  "current manifest: building into its id range would corrupt the snapshot. " +
                  "Use a segmentBase above retained ids (StreamingIndexer stride) or " +
                  "Snapshots.expire first.")
              fs.delete(st.getPath, true)
            }
          } else if (!name.startsWith("_")) {
            // top-level stray files (e.g. _SUCCESS is fine; others cleaned)
          }
        }
      }
    }
  }
}
