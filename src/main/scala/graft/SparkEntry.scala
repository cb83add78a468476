package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{IndexBuilder, IndexConfig, FieldNorms}
import graft.ops.{OracleSql, PipelineOps}
import graft.search.{Occur, Query, Searcher}

/** Driver contract: one `queries` entry per operator (SURVEY.md §2), each
  * with DuckDB oracle SQL. Search-semantics queries run through the real
  * engine (index build -> Searcher kernels) and emit integer doc ids; all
  * float-emitting queries compute in double on both sides and round to 4dp
  * (engine-internal f32 BM25 rank-identity is pinned by `sbt test`, which is
  * the tantivy-parity gate — FIXTURES.md §3).
  */
object SparkEntry {

  // ---------------------------------------------------------------- tables

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")
  private def events(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")

  /** Deterministic "dirty web page" shell for the Gopher/C4 rule queries:
    * the corpus' flat word stream re-lined 7 words per line, with
    * residue-keyed decorations — bullet `- ` (i%7) / header `# ` (i%23)
    * prefixes, ellipsis `...` (i%11) vs terminal `.` (i%3≠0) vs bare line
    * endings — plus planted javascript (doc%19), `var x = {` (doc%13) and
    * lorem-ipsum (doc%17) tail lines. Pure integer arithmetic on
    * (doc_id, line index), so `OracleSql.DirtyShellDuck` rebuilds the
    * byte-identical string in DuckDB.
    */
  private[graft] val dirtyShellSpark: String =
    "concat(" +
      "array_join(transform(sequence(0, cast((size(split(text, ' ')) + 6) div 7 as int) - 1), " +
      "i -> concat(" +
      "case when (doc_id + i) % 7 = 0 then '- ' when (doc_id + i) % 23 = 0 then '# ' else '' end, " +
      "array_join(slice(split(text, ' '), cast(i * 7 + 1 as int), 7), ' '), " +
      "case when (doc_id + i) % 11 = 0 then '...' when (doc_id + i) % 3 = 0 then '' else '.' end" +
      ")), '\\n'), " +
      "case when doc_id % 19 = 0 then concat('\\n', 'please enable javascript to view this page.') else '' end, " +
      "case when doc_id % 13 = 0 then concat('\\n', 'var x = {') else '' end, " +
      "case when doc_id % 17 = 0 then concat('\\n', 'lorem ipsum dolor sit amet.') else '' end)"

  /** Deterministically messy synthetic url shell (k = doc_id % 120 drives
    * every decoration) shared by the url dedup/recrawl queries; the DuckDB
    * oracles construct the CANONICAL form arithmetically, so the
    * parse/normalize path is independently checked.
    */
  private def withMessyUrl(df: DataFrame): DataFrame =
    df.withColumn("k", expr("doc_id % 120")).withColumn("url", expr(
      "concat(case when k % 2 = 0 then 'HTTP' else 'https' end, '://', " +
      "'WWW.Host', k % 7, '.Example.COM', " +
      "case when k % 4 = 0 then ':80' when k % 4 = 1 then ':8080' else '' end, " +
      "'/Dir/p', k % 10, " +
      "case when k % 3 = 0 then '/' else '' end, " +
      "case cast(k % 5 as int) when 0 then '?utm_source=feed&x=1' " +
      "when 1 then '?x=1&utm_campaign=c' when 2 then '?gclid=abc' " +
      "when 3 then '?x=1&y=2' else '' end, " +
      "case when doc_id % 11 = 0 then '#Sec2' else '' end)"))

  /** Synthetic host link graph shared by q_pagerank and q_host_priors:
    * each doc's home host `h(doc_id%40)` links to three arithmetic
    * targets — the SAME formula `OracleSql.pageRank` replays.
    */
  private def hostEdges(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("n_chars"), explode(expr("sequence(0, 2)")).as("j"))
      .select(concat(lit("h"), (col("doc_id") % 40).cast("string")).as("src"),
        concat(lit("h"),
          ((col("doc_id") * 7 + col("j") * 11 + col("n_chars")) % 40).cast("string")).as("dst"))

  // one index per sf dir, built once per JVM (the Searcher is a snapshot)
  private val indexCache = scala.collection.concurrent.TrieMap.empty[String, String]

  private[graft] def searcherFor(spark: SparkSession, sfDir: String): Searcher = {
    val indexDir = indexCache.getOrElseUpdate(sfDir, {
      // salt = synthetic-input construction revision: bumping it retires
      // stale on-disk indexes whose derived columns (attrs/facet/ts) predate
      // the current shape
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest((sfDir + "#in5").getBytes("UTF-8")).map("%02x".format(_)).mkString
      val dir = s"/tmp/graft-index-$digest"
      val existing = graft.index.IndexManifest.read(spark, dir)
      if (existing.exists(_.version != graft.index.IndexManifest.FormatVersion)) {
        // stale on-disk format from an older library build: rebuild
        val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      }
      if (graft.index.IndexManifest.read(spark, dir).isEmpty) {
        // deterministic per-doc timestamp (doc_id % 720 hours into 2025-01)
        // so date ranges are non-trivial; indexed both as a fast field (ts)
        // and as typed micros terms for in-engine range queries
        val in = docs(spark, sfDir)
          .withColumn("warc_ts",
            expr("timestampadd(HOUR, cast(doc_id % 720 as int), timestamp'2025-01-01 00:00:00')"))
          .withColumn("ts_micros", expr("unix_micros(warc_ts)"))
          // deterministic dynamic-schema JSON column (mirrors the documents
          // columns so DuckDB oracles stay expressible)
          .withColumn("attrs", concat(lit("{\"meta\": {\"src\": \""), col("source"),
            lit("\", \"n\": "), col("n_chars"),
            // optional key on a deterministic subset -> ExistsQuery non-trivial
            when(col("n_chars") % 3 === 0,
              concat(lit(", \"opt\": "), col("n_chars"))).otherwise(lit("")),
            lit("}}")))
          .withColumn("facet", concat(lit("/"), col("source"), lit("/"), col("lang")))
          // second analyzed text field (multi-field schema): the doc's first
          // three tokens — oracle-expressible as toks[1:3] in DuckDB
          .withColumn("title",
            expr(s"array_join(slice(${graft.ops.PipelineOps.TokensExprSpark}, 1, 3), ' ')"))
          // 4-byte content digest as an indexed BYTES field (the reference's
          // indexed Bytes field type) — oracle recomputes md5 in DuckDB
          .withColumn("dig", expr("unhex(substr(md5(cast(text as binary)), 1, 8))"))
          // deterministic ip column: v4 from doc_id octets, every 9th doc v6
          .withColumn("ip", expr(
            "CASE WHEN doc_id % 9 = 0 THEN concat('2001:db8::', lower(hex(doc_id))) " +
            "ELSE concat('10.', cast((doc_id div 256) % 256 as int), '.', " +
            "cast(doc_id % 256 as int), '.7') END"))
        IndexBuilder.build(spark, in, dir, IndexConfig(
          numPartitions = 4, keyField = "doc_id", textField = "text",
          langField = "lang", tsField = "warc_ts",
          textFields = Seq("title"),
          longFields = Seq("n_chars", "ts_micros"),
          jsonFields = Seq("attrs"),
          ipFields = Seq("ip"),
          bytesFields = Seq("dig"),
          facetFields = Seq("facet"),
          fastLongFields = Seq("n_chars"),
          fastStringFields = Seq("source")))
      }
      dir
    })
    new Searcher(spark, indexDir)
  }

  /** The resolved (and, if needed, freshly built) index dir for a testdata
    * scale factor — for probes that read the index files directly.
    */
  private[graft] def indexDirFor(spark: SparkSession, sfDir: String): String = {
    searcherFor(spark, sfDir)
    indexCache(sfDir)
  }

  /** Engine query -> DataFrame of matching doc_ids (via docmap join). */
  private def engineMatches(spark: SparkSession, sfDir: String, q: Query): DataFrame = {
    val s = searcherFor(spark, sfDir)
    s.allMatches(q, scored = false)
      .join(s.docmapDF, Seq("segment", "docId"))
      .select(col("url").cast("long").as("doc_id"))
  }

  // ---------------------------------------------------------------- entry

  /** Flagship: BM25 top-10 via the full engine (build + WAND + fetch). */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val s = searcherFor(spark, "/root/testdata/sf0.001")
    val q = Query.should(Query.Term("text", "spark"), Query.Term("text", "table"),
      Query.Term("text", "vector"))
    s.topDocs(q, 10).toSeq
      .map(h => (h.rank, h.url.toLong, h.score.toDouble))
      .toDF("rank", "doc_id", "score")
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- inverted-index search semantics (engine-backed; integer outputs)
    "q_search_term" -> ((s, d) => engineMatches(s, d, Query.Term("text", "spark"))),
    "q_search_and" -> ((s, d) => engineMatches(s, d,
      Query.must(Query.Term("text", "spark"), Query.Term("text", "table")))),
    "q_search_or" -> ((s, d) => engineMatches(s, d,
      Query.should(Query.Term("text", "vector"), Query.Term("text", "stream")))),
    "q_search_not" -> ((s, d) => engineMatches(s, d, Query.Bool(Seq(
      Occur.Must -> Query.Term("text", "table"),
      Occur.MustNot -> Query.Term("text", "spark"))))),
    "q_search_phrase" -> ((s, d) => engineMatches(s, d, Query.Phrase("text", Seq("fast", "table")))),
    "q_search_regexphrase" -> ((s, d) => engineMatches(s, d,
      Query.RegexPhrase("text", Seq("fa.t", "tab.*")))),
    "q_search_phraseprefix" -> ((s, d) => engineMatches(s, d,
      Query.PhrasePrefix("text", Seq("fast", "tab"), maxExpansions = 1024))),
    "q_search_slop" -> ((s, d) => engineMatches(s, d,
      Query.Phrase("text", Seq("fast", "table"), slop = 1))),
    "q_search_prefix" -> ((s, d) => engineMatches(s, d, Query.Prefix("text", "str"))),
    "q_search_fuzzy" -> ((s, d) => engineMatches(s, d, Query.Fuzzy("text", "spark", 1))),
    "q_search_regexp" -> ((s, d) => engineMatches(s, d, Query.Regexp("text", "ta.le"))),
    "q_search_termset" -> ((s, d) => engineMatches(s, d,
      Query.TermSet("text", Seq("spark", "vector", "window")))),
    "q_search_disjmax" -> ((s, d) => engineMatches(s, d,
      Query.DisjunctionMax(Seq(Query.Term("text", "spark"), Query.Term("text", "table")), 0.5f))),
    "q_search_msm" -> ((s, d) => engineMatches(s, d, Query.Bool(Seq(
      Occur.Should -> Query.Term("text", "spark"),
      Occur.Should -> Query.Term("text", "table"),
      Occur.Should -> Query.Term("text", "vector")), minShouldMatch = 2))),
    // boost/const-score with EXACT float scores (integer-valued constants
    // survive the f32->double cast bit-exactly, so the oracle can hash-match)
    "q_search_boost" -> ((s, d) => {
      val sr = searcherFor(s, d)
      val q = Query.Bool(Seq(
        Occur.Should -> Query.ConstScore(Query.Term("text", "spark"), 3.0f),
        Occur.Should -> Query.Boost(Query.ConstScore(Query.Term("text", "table"), 1.0f), 2.0f)))
      sr.allMatches(q, scored = true)
        .join(sr.docmapDF, Seq("segment", "docId"))
        .select(col("url").cast("long").as("doc_id"), col("score").cast("double").as("score"))
    }),
    "q_search_range" -> ((s, d) => engineMatches(s, d,
      Query.TermRange("text", Some("table"), Some("tables")))),
    // typed numeric/date term ranges INSIDE a boolean engine query (the
    // order-preserving term-encoding path; kernels walk their own dictionary)
    "q_search_range_numeric" -> ((s, d) => engineMatches(s, d,
      Query.must(Query.Term("text", "spark"),
        Query.longRange("n_chars", Some(500L), Some(1500L))))),
    "q_search_range_date" -> ((s, d) => {
      def utcMicros(iso: String) = java.time.Instant.parse(iso).toEpochMilli * 1000L
      engineMatches(s, d, Query.must(Query.Term("text", "table"),
        Query.longRange("ts_micros",
          Some(utcMicros("2025-01-10T00:00:00Z")),
          Some(utcMicros("2025-01-20T00:00:00Z")), loInclusive = true, hiInclusive = false)))
    }),
    // dynamic JSON field terms via the parser's path:value syntax
    "q_search_json" -> ((s, d) => engineMatches(s, d,
      new graft.search.QueryParser("text", jsonFields = Set("attrs"), conjunctionByDefault = true)
        .parse("text:table AND attrs.meta.src:src3"))),
    "q_search_json_range" -> ((s, d) => engineMatches(s, d,
      new graft.search.QueryParser("text", jsonFields = Set("attrs"), conjunctionByDefault = true)
        .parse("text:table AND attrs.meta.n:[800 TO 2000}"))),
    // ExistsQuery via the parser's field:* syntax on a json subpath present
    // on a deterministic subset of docs
    "q_search_exists" -> ((s, d) => engineMatches(s, d,
      new graft.search.QueryParser("text", jsonFields = Set("attrs"))
        .parse("attrs.meta.opt:*"))),
    // docs-and-positions iteration (iterating_docs_and_positions.rs): the
    // full posting stream of 'spark' — (doc, tf, every 0-based position) —
    // decoded per segment; the oracle recomputes positions from the token
    // list arithmetically
    "q_term_positions" -> ((s, d) => {
      val sr = searcherFor(s, d)
      sr.termDocsAndPositions("text", "spark")
        .join(sr.docmapDF, Seq("segment", "docId"))
        .select(col("url").cast("long").as("doc_id"),
          col("termFreq").cast("long").as("tf"),
          explode(col("positions")).as("pos0"))
        .select(col("doc_id"), col("tf"), col("pos0").cast("long").as("pos"))
    }),
    // typed IP term range inside the engine (v6-mapped 128-bit order)
    "q_search_range_ip" -> ((s, d) => engineMatches(s, d,
      Query.ipRange("ip", Some("10.0.100.0"), Some("10.1.200.255")))),
    // typed bytes field: md5-prefix digest range inside a boolean query
    // (digest < 0x30000000 AND text:spark)
    "q_search_bytes" -> ((s, d) => engineMatches(s, d,
      Query.must(Query.Term("text", "spark"),
        Query.bytesRange("dig", None, Some(Array[Byte](0x30, 0, 0, 0)),
          hiInclusive = false)))),
    // multi-TEXT-field schema: the title field (first 3 tokens) has its own
    // postings/norms/stats; cross-field boolean mixes title and body terms
    "q_search_multifield" -> ((s, d) => engineMatches(s, d,
      Query.must(Query.Term("title", "spark"), Query.Term("text", "table")))),
    // multi-default-field parser: the unfielded leg fans out SHOULD over
    // (title, text) — the reference's `(title:toto text:toto)` shape
    // (query_parser.rs compute_logical_ast_from_leaf_lenient); fielded leg
    // stays pinned to its field
    "q_parser_multifield" -> ((s, d) => engineMatches(s, d,
      new graft.search.QueryParser("text", defaultFields = Seq("title", "text"),
        conjunctionByDefault = true).parse("title:spark table"))),
    "q_count_matrix" -> ((s, d) => {
      import s.implicits._
      val sr = searcherFor(s, d)
      val labels = Seq("spark", "vector", "spark_and_table", "vector_or_stream", "all_docs")
      val counts = sr.batchCount(Seq(
        Query.Term("text", "spark"),
        Query.Term("text", "vector"),
        Query.must(Query.Term("text", "spark"), Query.Term("text", "table")),
        Query.should(Query.Term("text", "vector"), Query.Term("text", "stream")),
        Query.All))
      labels.zip(counts).toDF("label", "cnt")
    }),

    // delete-by-query lifecycle (IndexWriter::delete_query analog,
    // `src/indexer/index_writer.rs:698`): ephemeral index -> tombstone an
    // engine query -> merge physically purges -> surviving doc ids off the
    // post-merge docmap. Oracle = docs NOT matching the deleted query.
    "q_delete_query" -> ((s, d) => {
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest((d + "#delq1").getBytes("UTF-8")).map("%02x".format(_)).mkString
      val dir = s"/tmp/graft-delq-$digest"
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val in = docs(s, d).withColumn("warc_ts", lit("2025-01-01 00:00:00").cast("timestamp"))
      IndexBuilder.build(s, in, dir,
        IndexConfig(numPartitions = 4, keyField = "doc_id"))
      graft.index.Deleter.deleteQuery(s, dir, "spark AND table")
      graft.index.SegmentMerger.mergeUntilStable(s, dir,
        graft.index.SegmentMerger.LogMergePolicy(minNumSegments = 2, maxFanIn = 16))
      new Searcher(s, dir).docmapDF
        .select(col("url").cast("long").as("doc_id"))
    }),

    // --- snippets + more-like-this (engine-backed; no SQL-expressible
    // oracle -> rows-only driver check; semantics pinned by specs)
    // snippets: docs selected by the oracle-replicable double-BM25 ranking
    // (4dp-rounded order, doc_id tiebreak) so the driver hash-checks the doc
    // set and rank; snippet VALIDITY (non-empty, highlighted, verbatim
    // substring of the doc) rides as boolean gates — the fragment-selection
    // algorithm itself is pinned by SnippetsSpec reference fixtures
    "q_snippets" -> ((s, d) => {
      import s.implicits._
      val terms = Set("spark", "table")
      val top = bm25Df(s, docs(s, d), terms.toSeq)
        .orderBy(col("bm25").desc, col("doc_id")).limit(10)
        .select("doc_id").as[Long].collect().toSeq
      val byId = docs(s, d).where(col("doc_id").isin(top: _*))
        .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
      top.zipWithIndex.map { case (id, i) =>
        val text = byId(id)
        val sn = graft.search.Snippets.snippet(text, terms)
        val plain = sn.replace("<b>", "").replace("</b>", "")
        (i + 1L, id, sn.nonEmpty && text.contains(plain),
          sn.contains("<b>") == terms.exists(t => text.toLowerCase.contains(t)))
      }.toDF("rank", "doc_id", "verbatim", "highlighted")
    }),
    // MLT top-10 gate: exactly 10 hits, every hit shares a token with the
    // seed doc and scores > 0 (the doc ranking itself is engine f32 BM25 —
    // pinned by MoreLikeThisSpec; the oracle checks the invariants)
    "q_mlt" -> ((s, d) => {
      import s.implicits._
      val sr = searcherFor(s, d)
      val seed = docs(s, d).where(col("doc_id") === 0L).select("text").head().getString(0)
      val seedToks = graft.analysis.Analyzer.terms(seed).toSet
      val q = graft.search.MoreLikeThis.query(sr, "text", seed,
        graft.search.MoreLikeThis.Config(minTermFreq = 1, minDocFreq = 2))
      val hits = sr.topDocs(q, 10)
      val ids = hits.map(_.url.toLong).toSeq
      val toksById = docs(s, d).where(col("doc_id").isin(ids: _*))
        .select(col("doc_id"), expr(graft.ops.PipelineOps.TokensExprSpark).as("toks"))
        .as[(Long, Seq[String])].collect().toMap
      hits.toSeq.map { h =>
        val shares = toksById(h.url.toLong).exists(seedToks.contains)
        (h.rank.toLong, shares && h.score > 0.0f)
      }.toDF("rank", "shares_seed")
    }),

    // --- BM25 at the DataFrame level, double precision (SQL-parity scoring)
    "q_bm25_scores" -> ((s, d) => bm25Df(s, docs(s, d), Seq("spark", "vector"))),

    // --- text analysis
    "q_token_count" -> ((s, d) => PipelineOps.tokenCounts(docs(s, d))),
    // concat-and-chunk sequence packing at 2048 tokens (two-level prefix
    // sum — no global single-partition window; oracle states the same rule
    // as one running-sum window)
    "q_pack_sequences" -> ((s, d) => PipelineOps.packSequences(docs(s, d), 2048)),
    // overlapping token-window chunking (RAG prep): W=16, stride=8
    "q_chunk_windows" -> ((s, d) => PipelineOps.chunkWindows(docs(s, d), 16, 8)),
    // content-token count after built-in English stop removal: the Spark
    // side's stop set comes from the packaged resource
    // (Analyzer.stopWordsFor), the oracle hardcodes the public Lucene list
    // independently — a resource regression flips the row red
    "q_stop_tokens" -> ((s, d) => {
      val arr = graft.analysis.Analyzer.stopWordsFor("en").get.toSeq.sorted
        .map(w => s"'$w'").mkString(",")
      PipelineOps.withTokens(docs(s, d)).select(col("doc_id"),
        expr(s"cast(size(filter(toks, x -> NOT x IN ($arr))) as bigint)")
          .as("n_content_tokens"))
    }),
    "q_lang_id" -> ((s, d) => PipelineOps.langId(docs(s, d))),
    "q_quality" -> ((s, d) => PipelineOps.qualityScore(docs(s, d))),
    "q_fingerprint" -> ((s, d) => PipelineOps.fingerprint(docs(s, d))),

    // --- dedup
    "q_dedup_exact" -> ((s, d) => PipelineOps.dedupExact(docs(s, d))),
    "q_dedup_jaccard" -> ((s, d) => PipelineOps.ngramJaccardPairs(docs(s, d), 0.5)),
    "q_dedup_minhash" -> ((s, d) => PipelineOps.dedupMinHash(docs(s, d), 0.5)),
    "q_dedup_resolve" -> ((s, d) => PipelineOps.dedupResolve(docs(s, d),
      PipelineOps.dedupMinHash(docs(s, d), 0.5).select(col("ia"), col("ib")))),

    // --- curation (quality filters / decontamination / mixture sampling)
    "q_repetition" -> ((s, d) => PipelineOps.repetitionScore(docs(s, d))),
    // Gopher rule battery / C4 line rules over a deterministic "dirty
    // shell": the flat word stream is re-lined 7 words per line with
    // residue-keyed bullets / ellipses / terminal punctuation plus planted
    // javascript / lorem-ipsum / '{' lines; the oracle rebuilds the same
    // shell arithmetically in DuckDB (OracleSql.DirtyShellDuck)
    "q_gopher_quality" -> ((s, d) => PipelineOps.gopherQuality(
      docs(s, d).withColumn("dirty", expr(dirtyShellSpark)), "dirty")),
    // full Gopher Table-A1 repetition battery over the dirty shell
    "q_gopher_repetition" -> ((s, d) => PipelineOps.gopherRepetition(
      docs(s, d).withColumn("dirty", expr(dirtyShellSpark)), "dirty")),
    "q_c4_filter" -> ((s, d) => PipelineOps.c4LineFilter(
        docs(s, d).withColumn("dirty", expr(dirtyShellSpark)), "dirty")
      .select(col("doc_id"), col("n_lines"), col("n_kept_lines"), col("keep"),
        md5(col("clean_text")).as("clean_fp"))),
    "q_contamination" -> ((s, d) => {
      val dd = docs(s, d)
      PipelineOps.contamination(dd, dd.where(col("doc_id") % 97 === 0), 3)
    }),
    // composed funnel: first-failing-stage attribution over the dirty
    // shell, bench = the doc_id % 97 subset of the same dirty corpus
    "q_curation_funnel" -> ((s, d) => {
      val dd = docs(s, d).withColumn("text", expr(dirtyShellSpark))
      PipelineOps.curationFunnel(dd, dd.where(col("doc_id") % 97 === 0))
    }),
    "q_strat_sample" -> ((s, d) => PipelineOps.stratifiedSample(docs(s, d), "lang",
      Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1)).select(col("doc_id"), col("lang"))),
    // deterministic train/val/test split: per-row md5 permille buckets,
    // no shuffle, membership a pure function of (doc_id, salt)
    "q_hash_split" -> ((s, d) => PipelineOps.hashSplit(docs(s, d))),
    // reproducible global shuffle: training-order position via the
    // two-level bucket prefix sum (oracle = plain ROW_NUMBER full sort)
    "q_global_shuffle" -> ((s, d) => PipelineOps.globalShuffle(docs(s, d))),
    // per-domain capping over a deterministic synthetic url (97 hosts);
    // Spark extracts the host back out of the url by regex, the oracle
    // constructs it arithmetically
    "q_domain_cap" -> ((s, d) => PipelineOps.domainCap(
      docs(s, d).withColumn("url", expr(
        "concat('https://h', cast(doc_id % 97 as int), '.example/p', doc_id)")), 5)),
    // PII scrubbing over text with deterministically planted email/IP
    // suffixes; the oracle builds the redacted string constructively
    // (no regex), so the regex path is independently checked
    "q_pii_redact" -> ((s, d) => PipelineOps.piiRedact(
      docs(s, d).withColumn("pii_text", expr(
        "concat(text, " +
        "case when doc_id % 3 != 0 then concat(' contact user', doc_id, '@example.com') else '' end, " +
        "case when doc_id % 2 = 0 then concat(' from 10.', cast(doc_id % 256 as int), '.0.', cast(doc_id % 100 as int)) else '' end)")),
      textCol = "pii_text")),
    // corpus-wide paragraph (fixed token window) dedup — CCNet line rule
    "q_para_dedup" -> ((s, d) => PipelineOps.paragraphDedup(docs(s, d))),
    // URL canonicalization + exact dedup over a deterministically messy
    // synthetic url (k = doc_id % 120 drives every decoration); the oracle
    // constructs the canonical form arithmetically, so the parse/normalize
    // path is independently checked
    "q_url_dedup" -> ((s, d) => PipelineOps.urlDedup(withMessyUrl(docs(s, d)))),
    // recrawl dedup: same messy urls + a synthetic fetch timestamp; keep
    // the newest fetch per canonical url (ties -> lowest doc_id)
    "q_recrawl_dedup" -> ((s, d) => PipelineOps.recrawlDedup(
        withMessyUrl(docs(s, d)).withColumn("warc_ts", expr(
          "timestampadd(HOUR, cast(doc_id % 7 as int), timestamp'2025-01-01 00:00:00')")))
      .select(col("doc_id"), col("canonical_url"),
        expr("unix_micros(warc_ts)").as("ts_micros"), col("n_fetches"))),
    // exact-k per-stratum sample (md5-hash order, 30 per lang)
    "q_strat_sample_exact" -> ((s, d) =>
      PipelineOps.stratifiedSampleExact(docs(s, d), "lang", 30)
        .select("doc_id", "lang")),
    // Flesch reading ease over the dirty shell (real sentence structure)
    "q_readability" -> ((s, d) => PipelineOps.readability(
      docs(s, d).withColumn("dirty", expr(dirtyShellSpark)), "dirty")),
    // UT1-style domain blocklist: mixed-case 4-label hosts; blocklist =
    // parent domains (every 3rd hostN) + two exact w-hosts under host1.
    // The oracle matches by suffix-LIKE — independent of the op's
    // suffix-explode equi-join.
    "q_url_blocklist" -> ((s, d) => {
      val bl = s.range(0, 11)
        .select(concat(lit("Host"), col("id"), lit(".Example.com")).as("domain"))
        .where(col("id") % 3 === 0)
        .unionByName(s.range(0, 5)
          .select(concat(lit("w"), col("id"), lit(".host1.example.com")).as("domain"))
          .where(col("id") % 2 === 1))
      PipelineOps.urlBlocklistFilter(
        docs(s, d).withColumn("url", expr(
          "concat('https://W', doc_id % 5, '.Host', doc_id % 11, '.Example.COM', '/p', doc_id)")),
        bl)
    }),
    // HTML -> text extraction over deterministically messy synthetic markup
    // (script/style/comment/entity arms keyed on doc_id); the oracle
    // constructs the expected extraction arithmetically from the same
    // contract, so the regex strip/decode/collapse chain is independently
    // checked (see OracleSql.htmlExtract)
    "q_html_extract" -> ((s, d) => PipelineOps.htmlExtract(
      docs(s, d).withColumn("html_text", expr(
        "concat('<!DOCTYPE html><html><HEAD profile=\"x\"><TITLE>Doc ', doc_id, " +
        "'</TITLE><style type=\"text/css\">p { margin: 0; }</style></head><body>', " +
        "case when doc_id % 3 = 0 then '<script>var x = 1 < 2 && true; " +
        "document.write(\"<b>boiler</b>\");</script>' else '' end, " +
        "'<!-- nav comment --><div class=\"nav\">Home &amp; " +
        "<a href=\"/about?a=1&amp;b=2\">About</a>&nbsp;|&nbsp;Links</div><p>', " +
        "text, '</p>', " +
        "case when doc_id % 5 = 0 then '<pre>&lt;tag&gt; &quot;q&quot; &#39;s&#39;</pre>' else '' end, " +
        "'</body></html>')")))
      .select("doc_id", "extracted_text")),
    // corpus-trained unigram-LM surprise (CCNet head/middle/tail signal)
    "q_lm_surprise" -> ((s, d) => PipelineOps.lmSurprise(docs(s, d))),
    // bigram conditional surprise (the n=2 step toward the CCNet 5-gram
    // KenLM filter; integer-exact floor-log2 conditional bits)
    "q_bigram_lm" -> ((s, d) => PipelineOps.bigramSurprise(docs(s, d))),
    // hybrid retrieval: RRF fusion of the BM25 sparse leg and the dense
    // cosine leg (Cormack et al. 2009; the standard RAG hybrid combiner)
    "q_hybrid_rrf" -> ((s, d) => PipelineOps.rrfFuse(Seq(
      "sparse" -> bm25Df(s, docs(s, d), Seq("spark", "vector")),
      "dense" -> PipelineOps.cosineTopK(embeddings(s, d), 0L, 50)), 10)),
    // span-level decontamination (GPT-3 appendix-C rule): benchmark =
    // doc_id % 97 = 0 slice, corpus = the rest; collided 3-gram spans are
    // surgically removed, the oracle rebuilds the text relationally
    "q_decontam_spans" -> ((s, d) => {
      val dd = docs(s, d)
      PipelineOps.decontaminateSpans(
        dd.where(col("doc_id") % 97 =!= 0), dd.where(col("doc_id") % 97 === 0), 3)
    }),
    // token-budgeted shard assignment (soft budget, doc_id order): the
    // oracle recomputes shard_id from a plain running-sum window
    "q_token_shards" -> ((s, d) =>
      PipelineOps.tokenShards(docs(s, d), tokensPerShard = 2000)),
    // BPE apply with the single merge ('t','h'): with one non-cascading
    // pair the greedy piece count is arithmetically len - occurrences,
    // which DuckDB recomputes via replace() — checks the greedy scan on
    // real corpus words while BpeSpec pins cascades/rank priority
    "q_bpe_tokens" -> ((s, d) => {
      val dd = docs(s, d)
      val pieces = PipelineOps.bpeEncode(dd, Seq(("t", "h")))
        .select(col("doc_id"), col("n_bpe_tokens").as("n_pieces"))
      PipelineOps.withTokens(dd)
        .select(col("doc_id"), explode(col("toks")).as("tok"))
        .groupBy("doc_id").agg(sum(length(col("tok"))).cast("long").as("n_chars"))
        .join(pieces, "doc_id")
    }),
    // BPE vocabulary TRAINING (Sennrich 2016): the first 3 learned merges
    // with their pair counts; the oracle replays the same sequential
    // training loop, one merge per round
    "q_bpe_train" -> ((s, d) => PipelineOps.bpeTrainDf(docs(s, d), 3)),
    // quality-classifier inference: weight table derived deterministically
    // from the corpus vocabulary (w = tokhash % 2001 - 1000) so the oracle
    // can rebuild the exact same model; integer-exact linear score + bias
    "q_quality_classifier" -> ((s, d) => {
      val dd = docs(s, d)
      val weights = PipelineOps.withTokens(dd)
        .select(explode(col("toks")).as("tok")).distinct()
        .withColumn("w", expr(s"${PipelineOps.TokHashSpark} % 2001 - 1000"))
      PipelineOps.classifierScore(dd, weights, bias = 17L)
    }),
    // exact-substring SELF-dedup (ExactSubstr, Lee et al. 2021): every
    // occurrence of a corpus-duplicated >=20-token span is removed; the
    // oracle recomputes it from raw 20-gram strings (no md5)
    "q_substr_dedup" -> ((s, d) =>
      PipelineOps.exactSubstrDedup(docs(s, d), minLen = 20)),
    // crawl-text normalization: deterministic dirty shell (tabs, space
    // runs, decomposed e+U+0301, BEL/DEL controls) around each doc, then
    // the codegen NFC+control+collapse pass; oracle = DuckDB's own
    // nfc_normalize + RE2 chain
    "q_norm_text" -> ((s, d) => {
      val dirty = docs(s, d).withColumn("dirty",
        expr("concat('  a', chr(9), chr(9), 'b  ', text, " +
          "'  cafe\u0301', chr(7), chr(127), ' z  ')"))
      PipelineOps.normalizeText(dirty, "dirty")
        .select(col("doc_id"), col("norm_text"))
    }),
    // DSIR importance weights: target LM = the 'en' slice vs the raw corpus
    "q_dsir_weights" -> ((s, d) =>
      PipelineOps.dsirWeights(docs(s, d), col("lang") === "en")),
    // Bloom-prefiltered incremental dedup: new batch = planted exact dups
    // (doc_id%5, ids +1e9) + modified docs (doc_id%7, ids +2e9); result
    // must equal the plain anti-join bit for bit
    "q_bloom_newdocs" -> ((s, d) => {
      val dd = docs(s, d)
      val newBatch = dd.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
        .unionByName(dd.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000000L).as("doc_id"),
            concat(col("text"), lit(" novel suffix")).as("text")))
      PipelineOps.bloomNewDocs(newBatch, dd)
    }),
    // fuzzy incremental dedup: new batch = exact copies (doc_id%5, +1e9 —
    // always dropped) + word-reversed copies (doc_id%7, +2e9 — shingles
    // are order-sensitive, survive); oracle replays banding + verify
    "q_minhash_newdocs" -> ((s, d) => {
      val dd = docs(s, d)
      val newBatch = dd.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
        .unionByName(dd.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000000L).as("doc_id"),
            expr("concat_ws(' ', reverse(split(text, ' ')))").as("text")))
      PipelineOps.minHashNewDocs(newBatch, dd, 0.5)
    }),
    "q_simhash" -> ((s, d) => PipelineOps.simHash(docs(s, d))),

    // --- similarity
    "q_cosine_topk" -> ((s, d) => PipelineOps.cosineTopK(embeddings(s, d), 0L, 10)),
    // batch retrieval: 3 query vectors answered in ONE corpus pass
    "q_cosine_topk_batch" -> ((s, d) =>
      PipelineOps.cosineTopKBatch(embeddings(s, d), Seq(0L, 1L, 2L), 5)),
    // SemDeDup: exact cosine near-dup pairs -> clusters -> canonical
    "q_sem_dedup" -> ((s, d) => PipelineOps.semDedup(embeddings(s, d), 0.35)),
    // the one-argument 100 TB path: IVF-celled candidate pairs (the
    // SemDeDup paper's k-means-within-cluster recipe) through the SAME
    // closure; driver row = agreement/refinement gates vs the exact twin
    "q_sem_dedup_ivf" -> ((s, d) => {
      val e = embeddings(s, d)
      // both twins feed TWO consumers each (agreement + kept joins below);
      // eager localCheckpoint materializes each ONCE — node-sized
      // (vec_id, canonical, kept) frames — instead of re-running the n^2
      // pair kernel + CC closure per consumer
      val exact = PipelineOps.semDedup(e, 0.35).localCheckpoint()
      val ivf = PipelineOps.semDedup(e, 0.35,
        Some(PipelineOps.embeddingNearDupPairsIvf(e, 0.35, nCentroids = 16)))
        .localCheckpoint()
      // the emitted columns are the DETERMINISTIC invariants only: IVF
      // within-cell pairs are a subset of the exact pairs, so the closure
      // can only SPLIT exact clusters (refines_ok) and every exact-kept
      // doc — the min of its exact cluster — stays min of its IVF
      // sub-cluster (kept_superset_ok). A canonical-label agreement
      // FRACTION is deliberately not gated here: it drifts with the
      // cluster-size distribution of the draw (0.55 at 500 vecs, <0.4 at
      // 2000 where threshold-0.35 noise chains merge 98% of docs) — the
      // quantitative coverage measure lives in RecallGateSpec on
      // clustered data
      val agree = PipelineOps.clusterAgreementStats(
        ivf, exact, "vec_id", "canonical_id", 0)
      val kept = ivf.select(col("vec_id"), col("is_kept").as("a_kept"))
        .join(exact.select(col("vec_id"), col("is_kept").as("x_kept")), "vec_id")
        .agg(sum(when(col("x_kept"), 1L).otherwise(0L)).as("n_kept_exact"),
          min(!col("x_kept") || col("a_kept")).as("kept_superset_ok"))
      agree.drop("agree_ok").crossJoin(broadcast(kept))
    }),
    "q_embed_neardup" -> ((s, d) => PipelineOps.embeddingNearDupPairs(embeddings(s, d), 0.35)),
    // q_ann_lsh keeps its top-10 row shape: the oracle is a FULL DuckDB
    // replay of the multi-probe LSH path (hyperplanes are deterministic
    // contract constants embedded as literals) — row-exact, no gate
    "q_ann_lsh" -> ((s, d) => PipelineOps.annTopK(embeddings(s, d), 0L, 10, 8)),
    // the other ANN variants report driver-checkable recall rows (the
    // q_percentiles_sketch tolerance-gate pattern): the approximate top-k
    // joined against the exact scan, reduced to size / recall-gate /
    // score-consistency booleans plus the exact k-th cosine the oracle
    // recomputes independently. Gates are HONEST regression floors for
    // THIS corpus: the testdata embeddings are isotropic noise with a few
    // planted near-dups, so cell-probe methods are bounded by probe
    // coverage on noise neighbors (measured: ivf 0.40/0.50 across SFs,
    // ivfpq 0.50/0.50) — the >=0.8 design gate on clustered data stays in
    // SimilaritySpec, which is the precise measure
    // IVF-family recall is measured at k=50: recall@10 of ONE query on a
    // noise corpus is a Binomial(10, ~nprobe/C) coin flip, while recall@50
    // concentrates (P[below 60% of the 25% coverage baseline] < 1%), so
    // gate 150 is a STABLE floor across corpus draws (verified at
    // sf0.001/0.01/0.1); the ≥0.8 clustered-data design gate stays in
    // SimilaritySpec
    "q_ann_ivf" -> ((s, d) => {
      val e = embeddings(s, d)
      PipelineOps.recallStats(
        PipelineOps.ivfTopK(e, 0L, 50, nCentroids = 16, nprobe = 4),
        PipelineOps.cosineTopK(e, 0L, 50), Seq("vec_id"), 150)
    }),
    // PQ ADC scan + exact re-rank (Jégou et al. 2011): codes are m=8 bytes
    // per vector — 64x less scan payload than the embedding column. The
    // rerank depth scales with the corpus (FAISS practice — a fixed 50
    // was measured to drop below 0.8 once the table grew 4x) but is CAPPED
    // at 2000 exact re-scores: uncapped n/8 would degrade toward an O(n)
    // exact pass at large n, undercutting the 64x scan-payload win. The
    // cap is above every driver SF's n/8 (sf0.1 = 250), so measured
    // recalls are unchanged; the corpus count it needs is parquet
    // metadata (row-group counts), not a data scan
    "q_ann_pq" -> ((s, d) => {
      val e = embeddings(s, d)
      val rerank = math.min(2000, math.max(50, (e.count() / 8L).toInt))
      PipelineOps.recallStats(PipelineOps.pqTopK(e, 0L, 10, m = 8, rerank = rerank),
        PipelineOps.cosineTopK(e, 0L, 10), Seq("vec_id"), 800)
    }),
    // IVFADC (FAISS IVFx,PQy): coarse cells + residual PQ codes, per-cell
    // query LUTs over nprobe cells only; k=50 + corpus-scaled-and-capped
    // rerank for the same reasons as q_ann_ivf / q_ann_pq
    "q_ann_ivfpq" -> ((s, d) => {
      val e = embeddings(s, d)
      val rerank = math.min(2000, math.max(50, (e.count() / 8L).toInt))
      PipelineOps.recallStats(
        PipelineOps.ivfPqTopK(e, 0L, 50, nCentroids = 16, nprobe = 4, m = 8, rerank = rerank),
        PipelineOps.cosineTopK(e, 0L, 50), Seq("vec_id"), 150)
    }),
    // k-means topic clustering (deterministic Lloyd's: k lowest ids init,
    // 2 update rounds, shared 6dp tie law the oracle replays verbatim)
    "q_kmeans" -> ((s, d) => PipelineOps.kmeansAssign(embeddings(s, d), 4, 2)),
    // cluster-balanced subsample over the label strata (md5-permille rule)
    "q_cluster_sample" -> ((s, d) => PipelineOps.clusterBalancedSample(
      embeddings(s, d).select(col("vec_id"), col("label").cast("long").as("cluster")))),
    // exact kNN graph (block-pair heap kernel; IVF-celled at scale)
    "q_knn_graph" -> ((s, d) => PipelineOps.knnGraph(embeddings(s, d), 3)),
    // approximate kNN graph through IVF cells — the sub-quadratic scale
    // path of q_knn_graph as real code; driver-checkable edge-recall row
    // vs the exact graph (keys = edge endpoints). Gate 0.5 = regression
    // floor on this noise corpus (measured 0.60/0.64 across SFs over 1500
    // edges — low variance); design gate on clustered data in
    // GraphClusterSpec
    "q_knn_graph_ivf" -> ((s, d) => {
      val e = embeddings(s, d)
      PipelineOps.recallStats(
        PipelineOps.knnGraphIvf(e, 3, nCentroids = 16, nprobe = 4),
        PipelineOps.knnGraph(e, 3), Seq("vec_id", "nb_id"), 500)
    }),
    // contrastive pair mining: positives in [0.3,0.9), hard negatives in
    // [0.1,0.3), two of each per anchor
    "q_contrastive_pairs" -> ((s, d) => PipelineOps.contrastivePairs(
      embeddings(s, d), kPos = 2, posLo = 0.3, posHi = 0.9,
      kNeg = 2, negLo = 0.1, negHi = 0.3)),
    // the sub-quadratic candidate source swapped in with one argument
    // (IVF pairs thresholded at the lowest band floor, nprobe=8 probe
    // fan-out — hard negatives are CROSS-cell by nature, so the
    // within-cell-only recipe that serves semDedup is not enough here);
    // driver row = pair-recall gate vs the exact kernel plus the
    // cos-identity check (agreed pairs must carry the SAME 4dp cosine —
    // both paths share the VecBlocks fold). n_approx is dropped: the
    // candidate set is a genuine subset, so the approximate side's row
    // count varies with the draw's cell geometry and is not
    // oracle-replayable. Gate 850 = regression floor on this noise
    // corpus (0.962/0.947/0.949 across sf0.001/0.01/0.1 at nprobe=8,
    // BENCH.md "contrastive pair recall" — nprobe=4 sits at ~0.75, so the
    // floor also pins the probe depth); the >=0.8 design gate on
    // clustered data lives in RecallGateSpec (0.994 measured)
    "q_contrastive_pairs_ivf" -> ((s, d) => {
      val e = embeddings(s, d)
      PipelineOps.recallStats(
        PipelineOps.contrastivePairs(e, kPos = 2, posLo = 0.3, posHi = 0.9,
          kNeg = 2, negLo = 0.1, negHi = 0.3, candidatePairs =
            Some(PipelineOps.embeddingNearDupPairsIvf(e, 0.1, nCentroids = 16,
              nprobe = 8))),
        PipelineOps.contrastivePairs(e, kPos = 2, posLo = 0.3, posHi = 0.9,
          kNeg = 2, negLo = 0.1, negHi = 0.3),
        Seq("vec_id", "pair_id"), 850).drop("n_approx")
    }),
    // mutual-kNN clustering: k-less corpus clustering over mutual edges
    "q_mutual_knn" -> ((s, d) => PipelineOps.mutualKnnClusters(embeddings(s, d), 3)),
    // sub-quadratic candidate source swapped in with one argument (the
    // IVF-celled kNN graph); driver row = mutual-EDGE recall gate vs the
    // exact graph's mutual edges + the closure's structural label
    // invariant. The r4 row gated closure LABEL agreement instead — that
    // measure is draw-FRAGILE (one missed chain edge cascades min-label
    // disagreement across its whole component: measured 0.78/0.83 at
    // driver SFs but 0.066 on a 5x staged draw whose edge recall was
    // 0.83); mutual-edge recall concentrates over thousands of edges and
    // measured 0.70-0.76 across sf0.001/0.01/0.1 AND the 5x staged
    // corpus, so gate 600 is a draw-stable regression floor. nprobe=8
    // (half the cells — still a 2x flop cut). No refinement claim: an IVF
    // edge need not be mutual in the exact graph.
    "q_mutual_knn_ivf" -> ((s, d) => {
      val e = embeddings(s, d)
      val exactG = PipelineOps.knnGraph(e, 3).localCheckpoint()
      val ivfG = PipelineOps.knnGraphIvf(e, 3, nCentroids = 16, nprobe = 8)
        .localCheckpoint()
      val exactM = PipelineOps.mutualEdges(
        exactG.select(col("vec_id"), col("nb_id"), col("cos")))
      val ivfM = PipelineOps.mutualEdges(
        ivfG.select(col("vec_id"), col("nb_id"), col("cos")))
      // the one-argument clustering swap still runs; its labels must be
      // the min member of each cluster — a structural invariant of the
      // closure that holds for ANY edge set (unlike label agreement)
      val ivfClusters = PipelineOps.mutualKnnClusters(e, 3,
        graph = Some(ivfG.select(col("vec_id"), col("nb_id"))))
      val canonicalOk = ivfClusters.groupBy("cluster_id")
        .agg(min("vec_id").as("mn"))
        .agg(min(col("cluster_id") === col("mn")).as("labels_canonical_ok"))
      val exactStats = PipelineOps.mutualKnnClusters(e, 3,
        graph = Some(exactG.select(col("vec_id"), col("nb_id"))))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters_exact"))
      PipelineOps.recallStats(ivfM, exactM, Seq("ia", "ib"), 600)
        .drop("n_approx")
        .crossJoin(broadcast(exactStats))
        .crossJoin(broadcast(canonicalOk))
    }),
    // α=0.7 temperature-rebalanced domain mixture over languages
    "q_mixture_weights" -> ((s, d) => PipelineOps.mixtureWeights(docs(s, d), "lang", 0.7)),
    // within-doc token-distribution entropy + type-token ratio
    "q_token_entropy" -> ((s, d) => PipelineOps.tokenEntropy(docs(s, d))),
    // unicode script mix over a deterministic multiscript shell
    "q_script_mix" -> ((s, d) => PipelineOps.scriptMix(
      docs(s, d).withColumn("text", concat(col("text"),
        when(col("doc_id") % 5 === 0, lit(" привет мир")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" 你好世界")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" γειά σου")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(" مرحبا")).otherwise(lit("")))))),
    // semantic decontamination: every 97th embedding plays the benchmark
    "q_sem_contam" -> ((s, d) => {
      val e = embeddings(s, d)
      PipelineOps.semanticContamination(
        e.where(col("vec_id") % 97 =!= 0), e.where(col("vec_id") % 97 === 0), 0.3)
    }),

    // --- link graph: synthesized host edges (home host -> 3 arithmetic
    // targets per doc) -> PageRank authority prior
    "q_pagerank" -> ((s, d) =>
      PipelineOps.pageRank(hostEdges(docs(s, d)), iters = 3, damping = 0.85)
        .select(col("node"), round(col("rank"), 6).as("rank"))),
    // host-level prior table: volume stats per home host + PageRank join
    "q_host_priors" -> ((s, d) => {
      val doc = docs(s, d)
      PipelineOps.hostPriors(
        doc.withColumn("url",
          concat(lit("https://h"), (col("doc_id") % 40).cast("string"),
            lit("/p"), col("doc_id"))),
        PipelineOps.pageRank(hostEdges(doc), iters = 3, damping = 0.85))
    }),

    // --- aggregations (collector / ES-agg equivalents)
    "q_terms_agg" -> ((s, d) => PipelineOps.withTokens(docs(s, d))
      .select(explode(array_distinct(col("toks"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term")).limit(10)),
    "q_histogram" -> ((s, d) => docs(s, d)
      .select(floor(col("n_chars") / 100.0).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt")).orderBy("bucket")),
    "q_stats" -> ((s, d) => docs(s, d).agg(
      min("n_chars").cast("long").as("min_c"), max("n_chars").cast("long").as("max_c"),
      sum("n_chars").cast("long").as("sum_c"), round(avg("n_chars"), 4).as("avg_c"),
      count(lit(1)).as("cnt"))),
    "q_extended_stats" -> ((s, d) => graft.agg.AggRequest.run(docs(s, d),
      """{"st": {"extended_stats": {"field": "n_chars"}}}""")("st")
      .select(col("st_count").as("cnt"),
        col("st_min").cast("long").as("min_c"), col("st_max").cast("long").as("max_c"),
        round(col("st_avg"), 4).as("avg_c"), col("st_sum").cast("long").as("sum_c"),
        col("st_sum_of_squares").cast("long").as("sum_sq"),
        round(col("st_std_deviation"), 4).as("std_dev"))),
    "q_terms_missing" -> ((s, d) => graft.agg.AggRequest.run(
      docs(s, d).withColumn("langN",
        when(col("doc_id") % 10 === 0, lit(null)).otherwise(col("lang"))),
      """{"by_lang": {"terms": {"field": "langN", "size": 100, "missing": "(none)"}}}""")("by_lang")
      .select(col("by_lang_key").as("lang"), col("doc_count").as("cnt"))),
    "q_histogram_bounds" -> ((s, d) => graft.agg.AggRequest.run(docs(s, d),
      """{"h": {"histogram": {"field": "n_chars", "interval": 500,
        | "extended_bounds": {"min": 0, "max": 6000}}}}""".stripMargin)("h")
      .select(col("h_key").cast("long").as("bucket"), col("doc_count").as("cnt"))),
    // nested agg tree: terms -> (metric + terms(size per parent) -> metric)
    "q_nested_agg" -> ((s, d) => graft.agg.AggRequest.run(docs(s, d),
      """{"by_lang": {"terms": {"field": "lang", "size": 10},
        | "aggs": {"avgc": {"avg": {"field": "n_chars"}},
        |          "by_src": {"terms": {"field": "source", "size": 3},
        |                     "aggs": {"sumc": {"sum": {"field": "n_chars"}}}}}}}""".stripMargin)("by_lang")
      .select(col("by_lang_key").as("lang"), col("by_src_key").as("source"),
        col("doc_count").as("cnt"), col("sumc_sum").cast("long").as("sum_c"),
        col("by_lang_doc_count").as("lang_cnt"), round(col("avgc_avg"), 4).as("avg_c"))),
    // the AggregationCollector shape (src/aggregation/collector.rs): the ES
    // agg tree runs over the ENGINE query's matched doc set, with bucket
    // keys and metric inputs read from fast fields — search + aggs in one
    // request, no source-table access
    "q_agg_over_query" -> ((s, d) => {
      val sr = searcherFor(s, d)
      val matched = sr.allMatches(Query.Term("text", "fast"), scored = false)
        .join(sr.docmapDF, Seq("segment", "docId"))
      graft.agg.AggRequest.run(matched,
        """{"by_src": {"terms": {"field": "source", "size": 5},
          | "aggs": {"avgc": {"avg": {"field": "n_chars"}}}}}""".stripMargin)("by_src")
        .select(col("by_src_key").as("source"), col("doc_count").as("cnt"),
          round(col("avgc_avg"), 4).as("avg_c"))
    }),
    // top_hits as a sub-aggregation in the tree (metric/top_hits.rs)
    "q_agg_top_hits" -> ((s, d) => graft.agg.AggRequest.run(docs(s, d),
      """{"by_lang": {"terms": {"field": "lang", "size": 10},
        | "aggs": {"hits": {"top_hits": {"size": 2,
        |   "sort": [{"n_chars": {"order": "desc"}}, {"doc_id": {"order": "asc"}}],
        |   "_source": ["doc_id", "n_chars"]}}}}}""".stripMargin)("by_lang")
      .select(col("by_lang_key").as("lang"), col("hits_rank").cast("long").as("rank"),
        col("doc_id"), col("n_chars"), col("doc_count").as("cnt"))),
    // terms order: sub-aggregation target (term_agg.rs CustomOrder) — the
    // LIMIT survives or dies by the order, so the oracle checks semantics
    "q_terms_order" -> ((s, d) => graft.agg.AggRequest.run(docs(s, d),
      """{"by_src": {"terms": {"field": "source", "size": 5, "order": {"ac": "desc"}},
        | "aggs": {"ac": {"avg": {"field": "n_chars"}}}}}""".stripMargin)("by_src")
      .select(col("by_src_key").as("source"), col("doc_count").as("cnt"),
        round(col("ac_avg"), 4).as("avg_c"))),
    // per-parent ordering: top-2 sources by sum(n_chars) inside each lang
    "q_terms_order_nested" -> ((s, d) => graft.agg.AggRequest.run(docs(s, d),
      """{"by_lang": {"terms": {"field": "lang", "size": 10, "order": {"_key": "asc"}},
        | "aggs": {"by_src": {"terms": {"field": "source", "size": 2, "order": {"sc": "desc"}},
        |                     "aggs": {"sc": {"sum": {"field": "n_chars"}}}}}}}""".stripMargin)("by_lang")
      .select(col("by_lang_key").as("lang"), col("by_src_key").as("source"),
        col("doc_count").as("cnt"), col("sc_sum").cast("long").as("sum_c"))),
    "q_range_agg" -> ((s, d) => graft.agg.AggRequest.run(docs(s, d),
      """{"r": {"range": {"field": "n_chars",
        | "ranges": [{"to": 1000}, {"from": 1000, "to": 3000}, {"from": 3000}]},
        | "aggs": {"s": {"sum": {"field": "n_chars"}}}}}""".stripMargin)("r")
      .select(col("r_key").as("bucket"), col("doc_count").as("cnt"),
        col("s_sum").cast("long").as("sum_c"))),
    "q_filter_agg" -> ((s, d) => graft.agg.AggRequest.run(docs(s, d),
      """{"f": {"filter": {"query_string": "n_chars >= 1000"},
        | "aggs": {"m": {"avg": {"field": "n_chars"}}}}}""".stripMargin)("f")
      .select(col("doc_count").as("cnt"), round(col("m_avg"), 4).as("avg_c"))),
    "q_tweak_score" -> ((s, d) => {
      import s.implicits._
      val sr = searcherFor(s, d)
      sr.topDocsBy(Query.Term("text", "spark"), 20, Seq(
        (col("url").cast("long") % 97).desc, col("url").cast("long").asc))
        .select(col("url").cast("long").as("doc_id"),
          (col("url").cast("long") % 97).as("tweak"))
    }),
    "q_cardinality" -> ((s, d) => PipelineOps.withTokens(docs(s, d))
      .select(explode(col("toks")).as("tok"))
      .agg(countDistinct("tok").as("n_terms"))),
    "q_top_hits" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy(col("n_chars").desc, col("doc_id"))
      docs(s, d).withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3).select("lang", "doc_id", "n_chars")
    }),
    // hierarchical facet collector: direct children of /src3 over matches
    "q_facet_hierarchy" -> ((s, d) => {
      val sr = searcherFor(s, d)
      sr.facetCounts(Query.Term("text", "table"), "facet", "/src3")
        .select(col("facet"), col("count").as("cnt"))
    }),
    "q_facet_source" -> ((s, d) => docs(s, d).groupBy("source").agg(count(lit(1)).as("cnt"))),
    "q_facet_lang" -> ((s, d) => docs(s, d).groupBy("lang").agg(count(lit(1)).as("cnt"))),
    "q_percentiles" -> ((s, d) => docs(s, d).agg(
      round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
      round(expr("percentile(n_chars, 0.9)"), 4).as("p90"),
      round(expr("percentile(n_chars, 0.99)"), 4).as("p99"))),
    // DDSketch family (reference percentiles.rs sketch): the sketch value
    // must sit within 3*alpha of the exact percentile (alpha=0.01 relative
    // accuracy + rank-vs-interpolation slack) — the driver hash-checks the
    // boolean gates; the strict alpha bound is pinned by DDSketchSpec
    "q_percentiles_sketch" -> ((s, d) => docs(s, d).agg(
      graft.agg.DDSketch.percentilesAgg(col("n_chars"), Seq(50.0, 90.0, 99.0)).as("pcts"),
      expr("percentile(n_chars, 0.5)").as("e50"),
      expr("percentile(n_chars, 0.9)").as("e90"),
      expr("percentile(n_chars, 0.99)").as("e99"))
      .select(
        (abs(col("pcts")(0) - col("e50")) <= col("e50") * 0.03).as("p50_ok"),
        (abs(col("pcts")(1) - col("e90")) <= col("e90") * 0.03).as("p90_ok"),
        (abs(col("pcts")(2) - col("e99")) <= col("e99") * 0.03).as("p99_ok"))),
    "q_range_fastfield" -> ((s, d) => docs(s, d)
      .where(col("n_chars") >= 200 && col("n_chars") < 400).select("doc_id")),
    // general fast fields (src/fastfield/mod.rs): engine matches re-ranked by
    // a columnar doc value, no postings or source-table touch past the match
    "q_fastfield_sort" -> ((s, d) => {
      val sr = searcherFor(s, d)
      sr.topDocsBy(Query.Term("text", "spark"), 15,
          Seq(col("n_chars").desc, col("url").cast("long").asc))
        .select(col("url").cast("long").as("doc_id"), col("n_chars"))
    }),
    // fast-field filter + aggregation over engine matches (FilterCollector
    // on a fast string field feeding a metric on a fast long field)
    "q_fastfield_agg" -> ((s, d) => {
      val sr = searcherFor(s, d)
      sr.allMatches(Query.Term("text", "table"), scored = false)
        .join(sr.docmapDF, Seq("segment", "docId"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("cnt"), sum("n_chars").as("sum_chars"))
    }),

    // --- events: time windows + window functions
    "q_date_histogram" -> ((s, d) => events(s, d)
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("day")),
    "q_window_rank" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id"))
      events(s, d).withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("event_type"), col("event_id"), round(col("value"), 4).as("value"))
    }),
    "q_sessionize" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, d)
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("brk", when(col("prev").isNull ||
          unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("prev").cast("timestamp")) > 1800000000L, 1).otherwise(0))
        .groupBy("user_id").agg(sum("brk").cast("long").as("n_sessions"))
    }),

    // --- relational breadth (scan/filter/agg/join on the star schema)
    "q_agg_pricing" -> ((s, d) => s.read.parquet(s"$d/lineitem.parquet")
      .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")),
    "q_join_enrich" -> ((s, d) => {
      val orders = s.read.parquet(s"$d/orders.parquet")
      val cust = s.read.parquet(s"$d/customer.parquet")
      orders.join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
        .groupBy(col("c_custkey").as("custkey")).agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("custkey")).limit(10)
    }),

    // --- multimodal plumbing: opaque binary column + typed metadata
    "q_binary_meta" -> ((s, d) => docs(s, d)
      .select(col("doc_id"),
        octet_length(encode(col("text"), "UTF-8")).cast("long").as("byte_len"),
        md5(col("text")).as("digest"))),
    // REAL multimodal decode (MediaCodec): synthesized PPM/WAV payloads per
    // doc, decoded back partition-parallel; the oracle recomputes the
    // decoded dimensions/durations from doc_id arithmetic
    "q_media_meta" -> ((s, d) => {
      val mediaUdf = udf((id: Long) => mediaFor(id)) // synthesis scaffolding, not a hot path
      // repartition: the small documents parquet is one split; fan the
      // encode+decode out (real corpora bring their own splits)
      val withMedia = docs(s, d).repartition(s.sparkContext.defaultParallelism)
        .withColumn("media", mediaUdf(col("doc_id")))
      graft.ops.Multimodal.extractMeta(s, withMedia).toDF()
        .select(col("doc_id"), col("kind"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("durationMs").cast("long").as("duration_ms"))
    }),
    // perceptual-hash image dedup over the REAL decode: docs in the same
    // content class carry byte-identical PPMs -> identical dHash; the oracle
    // only knows the class arithmetic, so a broken decode/hash splits or
    // merges clusters and goes red
    "q_image_dedup" -> ((s, d) => {
      val mUdf = udf((id: Long) => imageFor(id))
      val withMedia = docs(s, d).repartition(s.sparkContext.defaultParallelism)
        .withColumn("media", mUdf(col("doc_id")))
      val hashes = graft.ops.Multimodal.imageHashes(s, withMedia)
      val canon = hashes.groupBy("dhash").agg(min("doc_id").as("canonical_id"))
      hashes.join(canon, "dhash").select(col("doc_id"), col("canonical_id"))
    }),
    // real WAV decode -> RMS windows; square-wave amplitude makes the RMS
    // integer-exact so the oracle is pure doc_id arithmetic
    "q_audio_energy" -> ((s, d) => {
      val mUdf = udf((id: Long) => audioFor(id))
      val withMedia = docs(s, d).repartition(s.sparkContext.defaultParallelism)
        .withColumn("media", mUdf(col("doc_id")))
      graft.ops.Multimodal.audioEnergy(s, withMedia, windowMs = 100)
    }),
    // REAL video decode: each doc carries an animated GIF of
    // (2 + doc_id % 4) constant-color 250 ms frames; sampling every 250 ms
    // must emit one row per frame whose decoded red channel matches the
    // synthesis arithmetic — a broken frame walk, delay parse, or pixel
    // decode goes red
    "q_video_frames" -> ((s, d) => {
      import s.implicits._
      val mUdf = udf((id: Long) => videoFor(id))
      // the small documents parquet is one split — fan the per-doc GIF
      // encode+decode out across the cluster (at real corpus sizes the
      // input's own splits provide this)
      val withMedia = docs(s, d).repartition(s.sparkContext.defaultParallelism)
        .withColumn("media", mUdf(col("doc_id")))
      graft.ops.Multimodal.sampleFrames(s, withMedia, everyMs = 250L, maxFrames = 8)
        .map(fr => (fr.doc_id, fr.frameIdx.toLong, fr.ts_ms, (fr.pixels(0) & 0xff).toLong))
        .toDF("doc_id", "frame_idx", "ts_ms", "red")
    }),
    // REAL video container #2: MJPEG-in-AVI through the same sampling pass
    // (RIFF walk + per-frame JDK JPEG decode). MJPEG is lossy, so the red
    // check is a ±2 gate — the same tolerance MediaSpec accepts: the
    // current JDK measures max ±1 YCbCr rounding at quality 1.0, but the
    // rounding is an ImageIO implementation detail, so the driver gate
    // leaves the unit-test headroom rather than pinning the JDK build
    // — frame fan-out, timestamps and dims stay exact arithmetic
    "q_video_frames_avi" -> ((s, d) => {
      import s.implicits._
      val mUdf = udf((id: Long) => aviFor(id))
      val withMedia = docs(s, d).repartition(s.sparkContext.defaultParallelism)
        .withColumn("media", mUdf(col("doc_id")))
      graft.ops.Multimodal.sampleFrames(s, withMedia, everyMs = 250L, maxFrames = 8)
        .map(fr => (fr.doc_id, fr.frameIdx.toLong, fr.ts_ms, (fr.pixels(0) & 0xff).toLong))
        .toDF("doc_id", "frame_idx", "ts_ms", "red")
        .select(col("doc_id"), col("frame_idx"), col("ts_ms"),
          (abs(col("red") - (col("doc_id") + lit(40L) * col("frame_idx")) % 256) <= 2)
            .as("red_ok"))
    })
  )

  /** Animated-GIF clip: (2 + doc_id % 4) frames, 16x12, frame f constant
    * color with red = (doc_id + 40*f) % 256, 250 ms per frame.
    */
  private[graft] def videoFor(id: Long): Array[Byte] = {
    import graft.ops.MediaCodec
    val n = (2 + id % 4).toInt
    val frames = (0 until n).map { f =>
      val rgb = new Array[Byte](16 * 12 * 3)
      var i = 0
      while (i < rgb.length) {
        rgb(i) = if (i % 3 == 0) (((id + 40L * f) % 256).toInt.toByte)
                 else if (i % 3 == 1) ((id * 13 % 256).toInt.toByte)
                 else 64.toByte
        i += 1
      }
      MediaCodec.ImageRgb(16, 12, rgb)
    }
    MediaCodec.encodeAnimatedGif(frames, delayMs = 250)
  }

  /** MJPEG-in-AVI twin of [[videoFor]]: same frame-count/delay/red
    * arithmetic, RIFF/AVI container with per-frame JPEG payloads (quality
    * 1.0 — constant-color frames round-trip within ±1/channel, so the
    * driver row gates red with that tolerance instead of exact equality).
    */
  private[graft] def aviFor(id: Long): Array[Byte] = {
    import graft.ops.MediaCodec
    val n = (2 + id % 4).toInt
    val frames = (0 until n).map { f =>
      val rgb = new Array[Byte](16 * 12 * 3)
      var i = 0
      while (i < rgb.length) {
        rgb(i) = ((id + 40L * f) % 256).toInt.toByte
        rgb(i + 1) = 100.toByte
        rgb(i + 2) = 64.toByte
        i += 3
      }
      MediaCodec.ImageRgb(16, 12, rgb)
    }
    MediaCodec.encodeAviMjpeg(frames, frameMs = 250)
  }

  /** Content-class image: class = doc_id % 7 fixes size (16+cls x 8+cls),
    * a class-seeded noise pattern, AND the container format (PPM/PNG/JPEG/
    * BMP by cls % 4 — JPEG/PNG/BMP exercise the real ImageIO/hand-rolled
    * decoders), so same-class docs share identical bytes (=> identical
    * dHash, lossy or not) and the 7 classes' patterns are mutually far in
    * dHash space.
    */
  private[graft] def imageFor(id: Long): Array[Byte] = {
    import graft.ops.MediaCodec
    val cls = (id % 7).toInt
    val w = 16 + cls
    val h = 8 + cls
    val rgb = new Array[Byte](w * h * 3)
    var i = 0
    while (i < rgb.length) {
      rgb(i) = (((i * 31L + cls * 7919L) * 2654435761L >> 13) & 0xFF).toByte
      i += 1
    }
    val img = MediaCodec.ImageRgb(w, h, rgb)
    (cls % 4) match {
      case 0 => MediaCodec.encodePpm(img)
      case 1 => MediaCodec.encodeJavax(img, "png")
      case 2 => MediaCodec.encodeJavax(img, "jpg")
      case _ => MediaCodec.encodeJavax(img, "bmp")
    }
  }

  /** Square wave at amplitude 100 + doc_id % 900 (8 kHz mono,
    * (200 + doc_id % 800) ms): every RMS window equals the amplitude
    * EXACTLY in IEEE double (integer partial sums, exact division, exact
    * sqrt of a perfect square), so the oracle needs no tolerance.
    */
  private[graft] def audioFor(id: Long): Array[Byte] = {
    val amp = (100 + id % 900).toInt
    val n = ((200 + id % 800) * 8).toInt
    val samples = Array.tabulate[Short](n)(i => if (i % 2 == 0) amp.toShort else (-amp).toShort)
    graft.ops.MediaCodec.encodeWav(graft.ops.MediaCodec.WavPcm(8000, 1, samples))
  }

  /** Deterministic media payload: every 3rd doc audio of
    * (200 + doc_id % 800) ms (WAV or AIFF, alternating), the rest
    * constant-color images sized (16 + doc_id % 16) x (8 + doc_id % 8) in
    * a container rotating over PPM/PNG/JPEG/BMP — all four really decode
    * (dimensions survive every container, including lossy JPEG).
    */
  private[graft] def mediaFor(id: Long): Array[Byte] = {
    import graft.ops.MediaCodec
    if (id % 3 == 0) {
      val pcm = MediaCodec.WavPcm(8000, 1, new Array[Short](((200 + id % 800) * 8).toInt))
      if ((id / 3) % 2 == 0) MediaCodec.encodeWav(pcm) else MediaCodec.encodeAiff(pcm)
    } else if (id % 5 == 0) {
      aviFor(id) // real video modality in the mixed-meta pass (MJPEG-AVI)
    } else {
      val w = (16 + id % 16).toInt
      val h = (8 + id % 8).toInt
      val img = MediaCodec.ImageRgb(w, h, Array.fill(w * h * 3)((id % 251).toByte))
      (id % 4) match {
        case 0 => MediaCodec.encodePpm(img)
        case 1 => MediaCodec.encodeJavax(img, "png")
        case 2 => MediaCodec.encodeJavax(img, "jpg")
        case _ => MediaCodec.encodeJavax(img, "bmp")
      }
    }
  }

  // -------------------------------------------------------------- oracle

  def oracleSql: Map[String, String] = Map(
    "q_search_term" -> OracleSql.containing("spark"),
    "q_search_and" -> OracleSql.searchAnd,
    "q_delete_query" -> OracleSql.deleteQuery,
    "q_search_or" -> OracleSql.searchOr,
    "q_search_not" -> OracleSql.searchNot,
    "q_search_phrase" -> OracleSql.searchPhrase,
    "q_search_regexphrase" -> OracleSql.searchRegexPhrase,
    "q_search_phraseprefix" -> OracleSql.searchPhrasePrefix,
    "q_search_slop" -> OracleSql.searchSlop,
    "q_search_prefix" -> OracleSql.searchPrefix,
    "q_search_fuzzy" -> OracleSql.searchFuzzy,
    "q_search_regexp" -> OracleSql.searchRegexp,
    "q_search_termset" -> OracleSql.searchTermSet,
    "q_search_range" -> OracleSql.searchRange,
    "q_search_range_numeric" -> OracleSql.searchRangeNumeric,
    "q_search_range_date" -> OracleSql.searchRangeDate,
    "q_facet_hierarchy" -> OracleSql.facetHierarchy,
    "q_search_json" -> OracleSql.searchJson,
    "q_search_json_range" -> OracleSql.searchJsonRange,
    "q_search_exists" -> OracleSql.searchExists,
    "q_term_positions" -> OracleSql.termPositions,
    "q_search_range_ip" -> OracleSql.searchRangeIp,
    "q_search_bytes" -> OracleSql.searchBytes,
    "q_search_multifield" -> OracleSql.searchMultifield,
    "q_parser_multifield" -> OracleSql.parserMultifield,
    "q_search_disjmax" -> OracleSql.searchDisjMax,
    "q_search_msm" -> OracleSql.searchMsm,
    "q_search_boost" -> OracleSql.searchBoost,
    "q_nested_agg" -> OracleSql.nestedAgg,
    "q_agg_top_hits" -> OracleSql.aggTopHits,
    "q_range_agg" -> OracleSql.rangeAgg,
    "q_filter_agg" -> OracleSql.filterAgg,
    "q_terms_order" -> OracleSql.termsOrder,
    "q_terms_order_nested" -> OracleSql.termsOrderNested,
    "q_count_matrix" -> OracleSql.countMatrix,
    "q_bm25_scores" -> OracleSql.bm25Scores(Seq("spark", "vector")),
    "q_token_count" -> OracleSql.tokenCount,
    "q_pack_sequences" -> OracleSql.packSequences,
    "q_chunk_windows" -> OracleSql.chunkWindows,
    "q_stop_tokens" -> OracleSql.stopTokens,
    "q_lang_id" -> OracleSql.langId,
    "q_quality" -> OracleSql.quality,
    "q_fingerprint" -> OracleSql.fingerprint,
    "q_dedup_exact" -> OracleSql.dedupExact,
    "q_dedup_jaccard" -> OracleSql.jaccardPairs(0.5),
    "q_dedup_minhash" -> OracleSql.minhashPairs(0.5),
    "q_dedup_resolve" -> OracleSql.dedupResolve(0.5),
    "q_repetition" -> OracleSql.repetition,
    "q_gopher_quality" -> OracleSql.gopherQuality,
    "q_gopher_repetition" -> OracleSql.gopherRepetition,
    "q_c4_filter" -> OracleSql.c4Filter,
    "q_contamination" -> OracleSql.contamination(3),
    "q_strat_sample" -> OracleSql.stratifiedSample,
    "q_curation_funnel" -> OracleSql.curationFunnel,
    "q_hash_split" -> OracleSql.hashSplit,
    "q_global_shuffle" -> OracleSql.globalShuffle,
    "q_domain_cap" -> OracleSql.domainCap,
    "q_pii_redact" -> OracleSql.piiRedact,
    "q_para_dedup" -> OracleSql.paragraphDedup,
    "q_url_dedup" -> OracleSql.urlDedup,
    "q_recrawl_dedup" -> OracleSql.recrawlDedup,
    "q_strat_sample_exact" -> OracleSql.stratifiedSampleExact(30),
    "q_readability" -> OracleSql.readability,
    "q_url_blocklist" -> OracleSql.urlBlocklist,
    "q_html_extract" -> OracleSql.htmlExtract,
    "q_lm_surprise" -> OracleSql.lmSurprise,
    "q_bigram_lm" -> OracleSql.bigramSurprise,
    "q_hybrid_rrf" -> OracleSql.hybridRrf(Seq("spark", "vector"), 0L, 10, 50, 60),
    "q_decontam_spans" -> OracleSql.decontaminateSpans,
    "q_token_shards" -> OracleSql.tokenShards,
    "q_bpe_tokens" -> OracleSql.bpeTokens,
    "q_bpe_train" -> OracleSql.bpeTrain(3),
    "q_quality_classifier" -> OracleSql.qualityClassifier,
    "q_substr_dedup" -> OracleSql.substrDedup,
    "q_norm_text" -> OracleSql.normText,
    "q_dsir_weights" -> OracleSql.dsirWeights,
    "q_bloom_newdocs" -> OracleSql.bloomNewDocs,
    "q_minhash_newdocs" -> OracleSql.minhashNewDocs(0.5),
    "q_simhash" -> OracleSql.simhash,
    "q_cosine_topk" -> OracleSql.cosineTopK(0L, 10),
    "q_cosine_topk_batch" -> OracleSql.cosineTopKBatch(Seq(0L, 1L, 2L), 5),
    "q_sem_dedup" -> OracleSql.semDedup(0.35),
    "q_sem_dedup_ivf" -> OracleSql.semDedupIvfAgree(0.35),
    "q_mutual_knn_ivf" -> OracleSql.mutualKnnIvfAgree(3),
    "q_kmeans" -> OracleSql.kmeans(4, 2, 64),
    "q_knn_graph" -> OracleSql.knnGraph(3),
    "q_mutual_knn" -> OracleSql.mutualKnn(3),
    "q_contrastive_pairs" -> OracleSql.contrastivePairs(2, 0.3, 0.9, 2, 0.1, 0.3),
    "q_contrastive_pairs_ivf" -> OracleSql.contrastivePairsRecall(2, 0.3, 0.9, 2, 0.1, 0.3),
    "q_mixture_weights" -> OracleSql.mixtureWeights(0.7),
    "q_token_entropy" -> OracleSql.tokenEntropy,
    "q_script_mix" -> OracleSql.scriptMix,
    "q_cluster_sample" -> OracleSql.clusterSample,
    "q_sem_contam" -> OracleSql.semContamination(0.3, 97),
    "q_pagerank" -> OracleSql.pageRank(3, 0.85, 40),
    "q_host_priors" -> OracleSql.hostPriors(3, 0.85, 40),
    "q_embed_neardup" -> OracleSql.embeddingNearDup(0.35),
    // LSH: full DuckDB replay (literal hyperplanes) — row-exact; the
    // other ANN variants: recall rows vs the exact scan the oracle
    // replays (strict recall measure in SimilaritySpec)
    "q_ann_lsh" -> OracleSql.annLshReplay(0L, 10, 8),
    "q_ann_ivf" -> OracleSql.annRecall(0L, 50),
    "q_ann_pq" -> OracleSql.annRecall(0L, 10),
    "q_ann_ivfpq" -> OracleSql.annRecall(0L, 50),
    "q_knn_graph_ivf" -> OracleSql.knnGraphRecall(3),
    "q_snippets" -> OracleSql.snippetsOracle,
    "q_mlt" -> OracleSql.mltOracle,
    "q_percentiles_sketch" -> OracleSql.sketchOracle,
    "q_terms_agg" -> OracleSql.termsAgg,
    "q_histogram" -> OracleSql.histogram,
    "q_stats" -> OracleSql.statsAgg,
    "q_cardinality" -> OracleSql.cardinality,
    "q_extended_stats" -> OracleSql.extendedStats,
    "q_terms_missing" -> OracleSql.termsMissing,
    "q_histogram_bounds" -> OracleSql.histogramBounds,
    "q_tweak_score" -> OracleSql.tweakScore,
    "q_top_hits" -> OracleSql.topHits,
    "q_facet_source" -> OracleSql.facetSource,
    "q_facet_lang" -> OracleSql.facetLang,
    "q_percentiles" -> OracleSql.percentiles,
    "q_range_fastfield" -> OracleSql.rangeFastField,
    "q_fastfield_sort" -> OracleSql.fastFieldSort,
    "q_agg_over_query" -> OracleSql.aggOverQuery,
    "q_fastfield_agg" -> OracleSql.fastFieldAgg,
    "q_date_histogram" -> OracleSql.dateHistogram,
    "q_window_rank" -> OracleSql.windowRank,
    "q_sessionize" -> OracleSql.sessionize,
    "q_agg_pricing" -> OracleSql.aggPricing,
    "q_join_enrich" -> OracleSql.joinEnrich,
    "q_binary_meta" -> OracleSql.binaryMeta,
    "q_media_meta" -> OracleSql.mediaMeta,
    "q_image_dedup" -> OracleSql.imageDedup,
    "q_audio_energy" -> OracleSql.audioEnergy,
    "q_video_frames" -> OracleSql.videoFrames,
    "q_video_frames_avi" -> OracleSql.videoFramesAvi
  )

  /** DataFrame-level BM25 (double precision), mirroring OracleSql.bm25Scores
    * term-for-term: quantized fieldnorms via join against the 256-entry
    * table, df/N from aggregates, identical formula text.
    */
  private[graft] def bm25DfPublic(spark: SparkSession, documents: DataFrame, terms: Seq[String]): DataFrame =
    bm25Df(spark, documents, terms)

  // memoized per (table-path-set, terms): the narrow (doc_id, dl, tf*) frame
  // is one tokenize pass; stats/dfs/scoring all read the cached frame
  private val bm25Cache = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** SQL-parity double BM25 of `terms`, one pass over the corpus: per-doc
    * term frequencies as array ops (no explode, no shuffle), quantized doc
    * length via the codegen'd `FieldNormQuantize` static call (value-equal
    * to the oracle's max-table-entry-<=dl subquery), global stats and doc
    * freqs collected once (bounded: one row) and inlined as literals — the
    * scored projection is a single codegen'd map over the cached frame.
    */
  private def bm25Df(spark: SparkSession, documents: DataFrame, terms: Seq[String]): DataFrame = {
    val key = documents.queryExecution.logical.toString + terms.mkString(",")
    bm25Cache.getOrElseUpdate(key, {
      // tf = occurrences of tm: size(toks) - size(array_remove(toks, tm)) is
      // value-equal to the oracle's filter-count but stays codegen-native
      // (array_remove has doGenCode; a `filter` lambda evaluates interpreted)
      val tfCols = terms.zipWithIndex.map { case (tm, i) =>
        (size(col("toks")) - size(array_remove(col("toks"), tm))).cast("long").as(s"tf$i")
      }
      val perDoc = PipelineOps.withTokens(documents)
        .select(col("doc_id") +: size(col("toks")).cast("long").as("dl") +: tfCols: _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dfCols = terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
      val aggCols = count(lit(1)).cast("long").as("n") +: sum("dl").as("tot") +: dfCols
      val st = perDoc.agg(aggCols.head, aggCols.tail: _*).head()
      val n = st.getLong(0)
      val tot = st.getLong(1)
      val dlqCol = graft.functions.FieldNormQuantize.fieldnorm_quantize(col("dl"))
      val sCols = terms.indices.map { i =>
        val dfv = st.getLong(2 + i)
        expr(s"ln(1.0 + ($n - ${dfv}L + 0.5) / (${dfv}L + 0.5)) * (1.0 + 1.2)" +
          s" * tf$i / (tf$i + 1.2 * (1.0 - 0.75 + 0.75 * __dlq / ($tot * 1.0 / $n)))")
      }
      perDoc
        .where(terms.indices.map(i => col(s"tf$i") > 0).reduce(_ || _))
        .withColumn("__dlq", dlqCol)
        .select(col("doc_id"), round(sCols.reduce(_ + _), 4).as("bm25"))
    })
  }
}
