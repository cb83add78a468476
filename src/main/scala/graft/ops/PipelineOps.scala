package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import VecBlocks._

/** Training-data pipeline operators over the `documents` / `embeddings`
  * tables — all expressed with codegen'd built-in functions (no UDFs), so
  * Catalyst sees through every expression: filters push down, whole-stage
  * codegen spans the maps, and each shuffle is an explicit groupBy/join.
  *
  * Shared SQL fragments are written in the common Spark-SQL/DuckDB dialect
  * subset so the DuckDB oracle (`OracleSql`) uses character-identical logic.
  *
  * Op families (every op has a driver query + DuckDB oracle and a spec
  * with an INDEPENDENT oracle — see COVERAGE.md for the full map):
  *
  *  - '''dedup''': exact ([[dedupExact]]-style digest), MinHash+LSH
  *    ([[dedupMinHash]], [[minHashNewDocs]]), SimHash, n-gram Jaccard
  *    AllPairs, exact-substring self-dedup ([[exactSubstrDedup]]),
  *    paragraph/URL/recrawl dedup, Bloom-prefiltered incremental
  *    ([[bloomNewDocs]]), cluster resolution ([[connectedComponents]],
  *    [[dedupResolve]]), SemDeDup ([[semDedup]])
  *  - '''similarity / retrieval''': exact cosine top-k (+ batch), blocked
  *    near-dup pairs, LSH/IVF/PQ/IVF-PQ ANN, exact + IVF-celled kNN graphs
  *    ([[knnGraph]], [[knnGraphIvf]]), mutual-kNN clustering, k-means
  *    ([[kmeansAssign]]), RRF hybrid fusion ([[rrfFuse]]), contrastive
  *    pair mining ([[contrastivePairs]])
  *  - '''quality signals''': Gopher rule battery + FULL Table-A1
  *    repetition battery ([[gopherQuality]], [[gopherRepetition]]), C4
  *    line rules, classifier inference ([[classifierScore]]), unigram /
  *    bigram LM surprise, DSIR weights, token entropy, readability,
  *    script mix, language id
  *  - '''decontamination''': n-gram doc-level ([[contamination]]) and
  *    span-level ([[decontaminateSpans]]), semantic/embedding screen
  *    ([[semanticContamination]])
  *  - '''mixtures / splits / ordering''': stratified sampling (fraction +
  *    exact-k + cluster-balanced), temperature mixture weights, hash
  *    splits, reproducible global shuffle, domain caps, URL blocklists,
  *    host priors ([[hostPriors]]) over [[pageRank]]
  *  - '''tokenization / packing / export''': BPE train + apply, sequence
  *    packing, RAG chunking, token-budgeted shard export
  *  - '''text transforms''': HTML extraction, NFC normalization, PII
  *    redaction, URL canonicalization
  */
object PipelineOps {

  /** Canonical token array (documents table analyzer: split on non-alnum,
    * lowercase, drop empties and >=40-char tokens — the SQL-parity analog of
    * the engine's tantivy chain; the corpus is ASCII so they agree).
    */
  val TokensExprSpark = "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '' AND length(x) < 40)"
  val TokensExprDuck = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '' AND length(x) < 40)"

  /** Tokens column via the native [[graft.functions.ShingleKernel]] kernel —
    * bit-identical to `expr(TokensExprSpark)` (ShingleOpsSpec) but one
    * primitive pass inside whole-stage codegen instead of an interpreted
    * `filter` lambda per row.
    */
  def withTokens(docs: DataFrame): DataFrame =
    docs.withColumn("toks", graft.functions.ShingleOps.sql_tokens(col("text")))

  /** Portable 32-bit token hash: first 8 hex chars of md5, as a long.
    * Identical in Spark (conv) and DuckDB (0x-cast) — the one deterministic
    * hash both engines share.
    */
  val TokHashSpark = "cast(conv(substr(md5(tok), 1, 8), 16, 10) as bigint)"
  val TokHashDuck = "CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)"

  /** MinHash parameters: k independent affine hashes modulo a >2^32 prime.
    * Banding: `Bands` bands x `RowsPerBand` rows (k = product).
    */
  val MinHashP = 4294967311L
  val MinHashA: Array[Long] = Array(1131781321L, 902087413L, 1517962273L, 755277181L,
    1996162953L, 411852389L, 679706741L, 303050213L)
  val MinHashB: Array[Long] = Array(982451653L, 715225741L, 187091591L, 504003151L,
    103682057L, 806305433L, 556809023L, 233525281L)
  val Bands = 4
  val RowsPerBand = 2

  /** Word n-gram shingles of the token array (n=3). Spark and DuckDB
    * fragments produce identical string lists.
    */
  val ShingleN = 3
  val ShinglesExprSpark =
    "transform(sequence(1, greatest(size(toks) - 2, 1)), i -> concat_ws(' ', slice(toks, i, 3)))"
  val ShinglesExprDuck =
    "[array_to_string(toks[i:i+2], ' ') for i in range(1, greatest(len(toks)-2, 1) + 1)]"

  // --------------------------------------------------------------- text ops

  /** Language-ID heuristic: stopword-profile argmax (shared dialect CASE). */
  val LangScoresExpr: Seq[(String, String)] = Seq(
    "sc_en" -> "size(filter(toks, x -> x IN ('the','a','of','and','to','is')))",
    "sc_de" -> "size(filter(toks, x -> x IN ('der','die','und','das','ist','ein')))",
    "sc_fr" -> "size(filter(toks, x -> x IN ('le','la','et','les','un','est')))",
    "sc_es" -> "size(filter(toks, x -> x IN ('el','los','y','que','un','es')))")
  val LangGuessExpr: String =
    "CASE WHEN sc_en >= sc_de AND sc_en >= sc_fr AND sc_en >= sc_es AND sc_en > 0 THEN 'en' " +
      "WHEN sc_de >= sc_fr AND sc_de >= sc_es AND sc_de > 0 THEN 'de' " +
      "WHEN sc_fr >= sc_es AND sc_fr > 0 THEN 'fr' " +
      "WHEN sc_es > 0 THEN 'es' ELSE 'und' END"

  def langId(docs: DataFrame): DataFrame = {
    val base = LangScoresExpr.foldLeft(withTokens(docs)) { case (df, (n, e)) =>
      df.withColumn(n, expr(e))
    }
    base.select(col("doc_id"), expr(LangGuessExpr).as("lang_guess"))
  }

  /** Quality score in basis points (0..10000), integer arithmetic only so
    * both engines agree exactly: 0.4 * length component + 0.3 * type-token
    * ratio + 0.3 * mean-token-length component. `div` is Spark integer
    * division; the oracle uses `//` (identical on non-negatives).
    */
  val QualityExprSpark: String =
    "least(n_toks * 40, 4000)" +
      " + least((n_distinct * 3000) div n_toks, 3000)" +
      " + least((chars * 3000) div (n_toks * 8), 3000)"
  val QualityExprDuck: String =
    "least(n_toks * 40, 4000)" +
      " + least((n_distinct * 3000) // n_toks, 3000)" +
      " + least((chars * 3000) // (n_toks * 8), 3000)"

  def qualityScore(docs: DataFrame): DataFrame =
    withTokens(docs)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        length(concat_ws("", col("toks"))).cast("long").as("chars"))
      .where(col("n_toks") > 0)
      .select(col("doc_id"), expr(QualityExprSpark).cast("long").as("quality_bp"))

  /** Document fingerprint: md5 of the space-normalized token stream. */
  def fingerprint(docs: DataFrame): DataFrame =
    withTokens(docs).select(col("doc_id"),
      md5(concat_ws(" ", col("toks"))).as("fp"))

  def tokenCounts(docs: DataFrame): DataFrame =
    withTokens(docs).select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
      size(array_distinct(col("toks"))).cast("long").as("n_distinct"))

  // --------------------------------------------------------------- dedup

  /** Exact dedup: canonical id = min doc_id per fingerprint (hash groupBy —
    * the classic shuffle-on-digest pattern; at 100 TB this is the same plan,
    * digest computed map-side, shuffle carries only (fp, doc_id)).
    */
  def dedupExact(docs: DataFrame): DataFrame = {
    val fp = fingerprint(docs)
    val canon = fp.groupBy("fp").agg(min("doc_id").as("canonical_id"))
    fp.join(canon, "fp")
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") =!= col("canonical_id")).as("is_dup"))
  }

  /** HOF-composition form of the shingle set — kept as the SQL-parity
    * reference the native kernel is verified against (ShingleOpsSpec).
    */
  def withShingles(docs: DataFrame): DataFrame =
    withTokens(docs).withColumn("sh", array_distinct(expr(ShinglesExprSpark)))

  /** Exact n-gram Jaccard near-dup pairs via explode + equi-join on the
    * shingle (NO cross join — the join key is the shingle, so only pairs
    * that actually share a shingle are ever materialized; |A ∩ B| is the
    * pair count, |A ∪ B| = |A| + |B| − |A ∩ B|). This is the same plan at
    * 100 TB: shuffle keyed by shingle, combine keyed by pair.
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    // exact set-similarity join with PREFIX FILTERING (AllPairs, Bayardo et
    // al. 2007): order each doc's shingles by a global total order and
    // explode only the first |A| - ceil(t*|A|) + 1 of them — any pair with
    // Jaccard >= t MUST share a prefix token, so candidate generation is
    // exact while the hot-shingle pair blowup shrinks. The order is
    // ascending GLOBAL FREQUENCY (rarest first, hash as tie-break), the
    // part of AllPairs that makes the prefix selective: prefixes then hold
    // a doc's rarest shingles, and stop-shingle buckets never form
    // (hash-ordered prefixes measured 568k candidates for 256 real pairs
    // at sf0.1; frequency-ordered prefixes collapse that). The candidate
    // join also applies the length filter (|A| >= t*|B|, PPJoin): a pair
    // differing in size by more than t cannot reach the threshold.
    // Candidates verify against the full hash arrays (order-insensitive
    // array_intersect). Hashing is collision-safe in expectation
    // (P ~ |shingles|^2 / 2^64). At 100 TB the df pass is one linear
    // groupBy — the published AllPairs/PPJoin preprocessing.
    // Per-row tokenize→shingle→hash runs in the native kernel (identical
    // values to transform(sh, xxhash64) — ShingleOpsSpec).
    val hashed = docs
      .select(col("doc_id"),
        explode(graft.functions.ShingleOps.shingle_xxhashes(col("text"))).as("h"))
    val dfreq = hashed.groupBy("h").agg(count(lit(1)).as("df"))
    val sized = hashed.join(dfreq, "h")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ord"))
      .select(col("doc_id"), transform(col("ord"), x => x.getField("h")).as("hs"))
      .withColumn("sz", size(col("hs")))
      .withColumn("plen", (col("sz") - ceil(col("sz") * threshold) + 1).cast("int"))
    // prefix rows carry the token's position for PPJoin's positional filter
    // (Xiao et al. 2008): a candidate row at positions (i, j) can overlap at
    // most 1 + min(|A|-i, |B|-j); require that to reach the equivalent
    // overlap threshold o = ceil(t/(1+t) * (|A|+|B|)). Exact: a true pair's
    // FIRST shared prefix token always satisfies the bound, so the pair
    // survives the distinct even when its later shared rows are filtered.
    val pref = sized.select(col("doc_id"), col("sz"),
      posexplode(slice(col("hs"), lit(1), col("plen"))).as(Seq("pos", "p")))
    val oFrac = threshold / (1.0 + threshold)
    val cand = pref.toDF("ia", "sza0", "pa", "p")
      .join(pref.toDF("ib", "szb0", "pb", "p2"),
        col("p") === col("p2") && col("ia") < col("ib") &&
          col("sza0") >= ceil(col("szb0") * threshold) &&
          col("szb0") >= ceil(col("sza0") * threshold) &&
          (lit(1) + least(col("sza0") - col("pa") - 1, col("szb0") - col("pb") - 1)) >=
            ceil((col("sza0") + col("szb0")) * oFrac))
      .select("ia", "ib").distinct()
    cand
      .join(sized.select(col("doc_id").as("ia"), col("hs").as("ha"), col("sz").as("sza")), "ia")
      .join(sized.select(col("doc_id").as("ib"), col("hs").as("hb"), col("sz").as("szb")), "ib")
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))).cast("double"))
      .select(col("ia"), col("ib"),
        (col("inter") / (col("sza") + col("szb") - col("inter"))).as("j"))
      .where(col("j") >= threshold)
      .select(col("ia"), col("ib"), round(col("j"), 4).as("jaccard"))
  }

  /** MinHash + LSH banding near-dup (the 100 TB path: signatures are one
    * groupBy over exploded shingles; candidates come from an equi-join on
    * band keys — no cross join anywhere; exact Jaccard verifies candidates
    * only).
    */
  def dedupMinHash(docs: DataFrame, threshold: Double): DataFrame = {
    // the per-row tokenize→shingle→md5→k-minima pass runs in the native
    // kernel expression — one primitive loop inside whole-stage codegen,
    // no shuffle, values identical to the exploded groupBy / HOF forms
    // (ShingleOpsSpec pins both) and to the DuckDB oracle's md5 arithmetic
    val sh = docs.select(col("doc_id"),
      graft.functions.ShingleOps.distinct_shingles(col("text")).as("sh"))
    val sigs = docs.select(col("doc_id"),
      graft.functions.ShingleOps.minhash_sigs(col("text")).as("mhs"))
    val bandCols = (0 until Bands).map { b =>
      val parts = (0 until RowsPerBand).map(r => col("mhs").getItem(b * RowsPerBand + r))
      struct(lit(b).as("band"), concat_ws("_", parts: _*).as("sig"))
    }
    val banded = sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("ia"), col("y.doc_id").as("ib")).distinct()
    // verify candidates with exact Jaccard (join shingle sets back in)
    val withSets = cand
      .join(sh.toDF("ia", "sha"), "ia")
      .join(sh.toDF("ib", "shb"), "ib")
      .select(col("ia"), col("ib"),
        (size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb")))).as("j"))
    withSets.where(col("j") >= threshold)
      .select(col("ia"), col("ib"), round(col("j"), 4).as("jaccard"))
  }

  /** Fuzzy INCREMENTAL dedup — the continuous-crawl near-dup step, the
    * fourth cell of the dedup matrix (exact/fuzzy × batch/incremental;
    * [[dedupExact]] / [[bloomNewDocs]] / [[dedupMinHash]] are the others):
    * keep a NEW doc iff no existing-corpus doc among its LSH band
    * candidates verifies to Jaccard >= `threshold` on exact shingle sets.
    * Same banding + exact-verify contract as [[dedupMinHash]], so the
    * candidate set is reproducible (and the oracle replays it).
    *
    * 100 TB shape: both sides' signatures are per-row codegen kernels (no
    * shuffle to compute); the candidate join is keyed on (band, sig) —
    * shuffle carries 8 sig rows per doc, never shingle sets — and only the
    * candidate pairs materialize shingle sets for the verify join, so
    * verify cost scales with the near-dup rate. In a standing pipeline the
    * corpus's banded signature table is computed once and reused per
    * increment.
    */
  def minHashNewDocs(newDocs: DataFrame, corpus: DataFrame, threshold: Double): DataFrame = {
    def shOf(df: DataFrame) = df.select(col("doc_id"),
      graft.functions.ShingleOps.distinct_shingles(col("text")).as("sh"))
    val bandCols = (0 until Bands).map { b =>
      val parts = (0 until RowsPerBand).map(r => col("mhs").getItem(b * RowsPerBand + r))
      struct(lit(b).as("band"), concat_ws("_", parts: _*).as("sig"))
    }
    def banded(df: DataFrame) = df
      .select(col("doc_id"), graft.functions.ShingleOps.minhash_sigs(col("text")).as("mhs"))
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
    val cand = banded(newDocs).toDF("nid", "band", "sig")
      .join(banded(corpus).toDF("cid", "band", "sig"), Seq("band", "sig"))
      .select("nid", "cid").distinct()
    val dup = cand
      .join(shOf(newDocs).toDF("nid", "shn"), "nid")
      .join(shOf(corpus).toDF("cid", "shc"), "cid")
      .where(size(array_intersect(col("shn"), col("shc"))).cast("double") /
        size(array_union(col("shn"), col("shc"))) >= threshold)
      .select(col("nid").as("doc_id")).distinct()
    newDocs.select("doc_id").join(dup, Seq("doc_id"), "left_anti")
  }

  /** SimHash (32-bit): per-bit majority vote of token-hash bits, weighted by
    * term frequency; Hamming-close simhashes = near-dups. One explode +
    * groupBy — linear, shuffle keyed by doc.
    */
  def simHash(docs: DataFrame): DataFrame = {
    val exploded = withTokens(docs).select(col("doc_id"), explode(col("toks")).as("tok"))
      .withColumn("h", expr(TokHashSpark))
    val bitSums = (0 until 32).map { b =>
      sum(expr(s"CASE WHEN (h >> $b) % 2 = 1 THEN 1 ELSE -1 END")).as(s"b$b")
    }
    val agg = exploded.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val hashExpr = (0 until 32).map(b => s"(CASE WHEN b$b > 0 THEN 1 ELSE 0 END) * ${1L << b}L")
      .mkString(" + ")
    agg.select(col("doc_id"), expr(s"cast($hashExpr as bigint)").as("simhash"))
  }

  // --------------------------------------------------------------- similarity

  /** Brute-force cosine top-k against one query vector (double precision).
    * Baseline path; broadcast query vector, one scan, local top-k per
    * partition via TakeOrderedAndProject.
    */
  def cosineTopK(embeddings: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val q = embeddings.where(col("vec_id") === queryVecId)
      .select(col("embedding").cast("array<double>").as("qv"))
    embeddings.where(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.functions.VecOps.vec_cosine(
          col("embedding").cast("array<double>"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cos"), 4).as("cos"))
  }

  /** Relational recall gate for an approximate-neighbor result against its
    * exact twin — the driver-checkable restatement of the SimilaritySpec
    * recall gates (reference precedent: tantivy pins its approximate
    * percentile sketch by tolerance rather than skipping the check,
    * `src/aggregation/metric/percentiles.rs:148-226`; this repo already
    * uses the same trick for q_percentiles_sketch).
    *
    * Joins `approx` and `exact` full-outer on `keys` (both carry a 4dp
    * `cos` column from the shared cosine kernels) and reduces to ONE row:
    *   - `n_approx` / `n_exact`: result sizes — the oracle states both
    *     from the exact replay (the approximate variants are deterministic
    *     and return full k per query on this corpus);
    *   - `recall_ok`: hits/n_exact ≥ gateMilli/1000, integer arithmetic;
    *   - `cos_ok`: every id both sides agree on carries the SAME 4dp
    *     cosine (guards the approximate path's scoring, not just its
    *     candidate sets);
    *   - `exact_kth_cos`: the exact scan's k-th (minimum) cosine — real
    *     exact-side content the DuckDB oracle recomputes independently.
    *
    * 100 TB shape: one broadcast-size join (both sides are top-k frames
    * already cut by bounded heaps/TakeOrdered) + a single agg row; the
    * corpus-sized work happened inside the two operands.
    */
  def recallStats(approx: DataFrame, exact: DataFrame, keys: Seq[String],
      gateMilli: Int): DataFrame = {
    val a = approx.select(keys.map(col) :+ col("cos").as("a_cos"): _*)
    val x = exact.select(keys.map(col) :+ col("cos").as("x_cos"): _*)
    a.join(x, keys, "full_outer")
      .agg(
        sum(when(col("a_cos").isNotNull, 1L).otherwise(0L)).as("n_approx"),
        sum(when(col("x_cos").isNotNull, 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("a_cos").isNotNull && col("x_cos").isNotNull, 1L)
          .otherwise(0L)).as("hits"),
        min(when(col("a_cos").isNotNull && col("x_cos").isNotNull,
          col("a_cos") === col("x_cos"))).as("cos_all_eq"),
        min(col("x_cos")).as("x_kth"))
      .select(col("n_approx"), col("n_exact"),
        (col("hits") * 1000L >= col("n_exact") * gateMilli).as("recall_ok"),
        coalesce(col("cos_all_eq"), lit(true)).as("cos_ok"),
        col("x_kth").as("exact_kth_cos"))
  }

  /** Cluster-label agreement row between an approximate clustering and its
    * exact twin — same driver-checkable gate family as [[recallStats]]:
    * one row with `n_docs`, `agree_ok` (fraction of ids carrying the SAME
    * label on both sides ≥ gateMilli/1000) and, when `checkRefinement`,
    * `refines_ok` (every approx cluster maps into exactly one exact
    * cluster — deterministically true when the approx pair source emits a
    * SUBSET of the exact pairs, e.g. [[embeddingNearDupPairsIvf]] vs
    * [[embeddingNearDupPairs]], because a connected-components closure
    * over fewer edges can only split clusters, never merge across them).
    *
    * 100 TB shape: one doc-count-sized equi-join + two aggregates; the
    * refinement check is a groupBy over cluster labels (bounded by doc
    * count, map-side combined).
    */
  def clusterAgreementStats(approx: DataFrame, exact: DataFrame, idCol: String,
      labelCol: String, gateMilli: Int, checkRefinement: Boolean = true): DataFrame = {
    val a = approx.select(col(idCol).as("id"), col(labelCol).as("a_lab"))
    val x = exact.select(col(idCol).as("id"), col(labelCol).as("x_lab"))
    val j = a.join(x, Seq("id"), "inner")
    val agg = j.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("a_lab") === col("x_lab"), 1L).otherwise(0L)).as("agree"))
      .select(col("n_docs"),
        (col("agree") * 1000L >= col("n_docs") * gateMilli).as("agree_ok"))
    if (!checkRefinement) agg
    else {
      val ref = j.groupBy("a_lab").agg(countDistinct(col("x_lab")).as("nx"))
        .agg(min(col("nx") === 1).as("refines_ok"))
      agg.crossJoin(broadcast(ref))
    }
  }

  /** Double-precision cosine of two array<double> columns via zip_with +
    * aggregate (codegen'd higher-order functions, no UDF).
    */
  def cosineExpr(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, x) => acc + x * x))
    dot / (na * nb)
  }

  /** Exact embedding near-dup pairs above a cosine threshold, as a
    * block-matrix kernel: vectors hash into `blocks` blocks, each of the
    * B(B+1)/2 block pairs is one task computing its dense dot products over
    * primitive arrays (norms precomputed once per vector). No per-pair
    * interpreted expressions, no cartesian row blowup — the only
    * materialized rows are pairs already above the threshold.
    *
    * This is still the exact O(n²) pass: flops don't shrink, but they run at
    * memory bandwidth instead of per-row expression dispatch, and the block
    * grid spreads evenly over the cluster (B ≈ 2·cores ⇒ each task is one
    * block pair; skew-free since blocks are hash-sized). The sub-quadratic
    * 100 TB path is `annBuckets` LSH candidates verified by this same kernel
    * within buckets.
    */
  def embeddingNearDupPairs(embeddings: DataFrame, threshold: Double,
      blocks: Int = 0): DataFrame = {
    import embeddings.sparkSession.implicits._
    cosPairs(gridPairs(embeddings, blocks)((a, b) => pairsAbove(a, b, gridMode(a, b), threshold)))
  }

  /** (ia, ib, c) pairs as (ia, ib, cos) with cos rounded to 4 dp. */
  private def cosPairs(pairs: Dataset[(Long, Long, Double)]): DataFrame =
    pairs.toDF("ia", "ib", "c").select(col("ia"), col("ib"), round(col("c"), 4).as("cos"))

  /** IVF-celled near-dup candidate pairs — the SemDeDup paper's own
    * sub-quadratic recipe (Abbas et al. 2023 §3: k-means the corpus, then
    * compare only WITHIN clusters): vectors route to their nearest
    * [[ivfAssignments]] cell and the exact pair kernel runs per cell, so
    * flops drop from n² to Σ|cell|² ≈ n²/C while each emitted pair still
    * carries the exact 4dp cosine (same packed-block fold as
    * [[embeddingNearDupPairs]] — bit-identical scores on agreed pairs).
    * Misses only cross-cell pairs; feed the result to [[semDedup]] as the
    * one-argument 100 TB path (agreement vs the exact kernel is gated by
    * SimilaritySpec and the q_sem_dedup_ivf driver row).
    *
    * 100 TB shape: centroids train on a bounded driver sample and
    * broadcast; one groupBy(cell) shuffle of (id, vec) rows; each cell is
    * one packed-primitive task — cap cell width with more centroids
    * (C ∝ corpus size keeps per-task work constant).
    *
    * `nprobe > 1` widens candidates to CROSS-cell pairs: each vector
    * additionally probes its `nprobe` nearest cells (the [[knnGraphIvf]]
    * fan-out) and pairs with their members — flops ≈ n·nprobe·(n/C)
    * instead of n²/C, still sub-quadratic with C ∝ corpus size. Needed
    * when the interesting pairs are NOT near-duplicates — e.g.
    * [[contrastivePairs]] hard negatives live just BELOW the cluster
    * cores, so same-cell-only candidates miss most of them (measured
    * 0.47 pair recall at nprobe=1 vs >=0.8 at nprobe=4 on clustered
    * data, RecallGateSpec). Every emitted pair still carries the exact
    * shared-fold cosine, and the output stays a SUBSET of the exact
    * kernel's pairs at the same threshold, so the [[semDedup]] refinement
    * invariants hold at any nprobe.
    */
  def embeddingNearDupPairsIvf(embeddings: DataFrame, threshold: Double,
      nCentroids: Int = 16, nprobe: Int = 1): DataFrame = {
    import embeddings.sparkSession.implicits._
    requirePositive("nCentroids" -> nCentroids, "nprobe" -> nprobe)
    val (assigned, centers) = ivfAssignments(embeddings, nCentroids)
    if (nprobe == 1)
      cosPairs(cellBlocks(embeddings, assigned).flatMap(b => pairsAbove(b, b, Upper, threshold)))
    else
      // an unordered pair can surface through several (prober, cell)
      // routes, each with the same shared-fold cosine, so the (ia, ib)
      // dedup keeps an arbitrary survivor
      cosPairs(probePairs(embeddings, assigned, centers, nprobe)(
        (p, m) => pairsAbove(p, m, SkipSelf, threshold)).dropDuplicates("_1", "_2"))
  }

  /** IVF coarse-quantizer ANN — the clustering-based scale path (the IVF
    * stage of Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011, without the PQ residual codes): spherical k-means
    * over L2-NORMALIZED vectors (so centroid L2 distance is monotone with
    * cosine), every vector assigned to its nearest centroid's inverted
    * list, and a query exact-verifies ONLY the `nprobe` nearest centroids'
    * lists.
    *
    * The coarse quantizer trains DRIVER-SIDE on a bounded, deterministically
    * drawn sample (seeded Lloyd's) — the standard IVF practice (FAISS trains
    * its quantizer on a ≤256·k sample in memory): one TakeOrdered sample
    * job instead of per-iteration cluster jobs, identical at 100 TB because
    * the sample bound doesn't grow with the corpus. Assignment of the full
    * table is one broadcast-centroids `mapPartitions` pass (primitive
    * arrays, no shuffle). At 100 TB: write the assignment bucketed by
    * `cluster` — the probe becomes a partition-pruned scan of
    * nprobe/nCentroids of the data; centroids stay driver-tiny.
    * Returns (assignments(vec_id, cluster), centroids).
    */
  def ivfAssignments(embeddings: DataFrame, nCentroids: Int,
      seed: Long = 20260818L, maxTrainSample: Int = 16384): (DataFrame, Array[Array[Double]]) = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    requirePositive("nCentroids" -> nCentroids)
    val normed = unitRows(embeddings)
    val centers = lloyd(trainingSample(normed, maxTrainSample), nCentroids, seed, iters = 10,
      spherical = true)
    val bc = spark.sparkContext.broadcast(centers)
    val assigned = normed.as[(Long, Seq[Double])].mapPartitions { it =>
      val cs = bc.value
      it.map { case (id, nv) => (id, nearest(cs, nv.toArray)) }
    }.toDF("vec_id", "cluster")
    (assigned, centers)
  }

  /** ANN top-k through the IVF lists: rank centroids against the query on
    * the driver (tiny), pushed-down `IN` over the nprobe nearest lists,
    * exact cosine on the candidates only. Recall@10 >= 0.8 vs `cosineTopK`
    * is pinned by SimilaritySpec (same gate as the LSH path).
    */
  def ivfTopK(embeddings: DataFrame, queryVecId: Long, k: Int,
      nCentroids: Int, nprobe: Int): DataFrame = {
    requirePositive("k" -> k, "nCentroids" -> nCentroids, "nprobe" -> nprobe)
    val (assigned, centers) = ivfAssignments(embeddings, nCentroids)
    val probes = nearestN(centers, unitQuery(embeddings, queryVecId), nprobe)
    val candIds = assigned.where(col("cluster").isin(probes.toIndexedSeq: _*)).select("vec_id")
    cosineTopK(embeddings.join(candIds, "vec_id"), queryVecId, k)
  }

  /** Random-hyperplane LSH buckets for ANN at scale: `nBits` sign bits from
    * fixed pseudo-random hyperplanes (deterministic, seed-derived). Bucket
    * join replaces the cross join; brute-force cosine runs within buckets.
    * The sign bits come from the native [[graft.functions.VecKernel]] kernel
    * (one primitive pass per row, whole-stage codegen); bit-parity with the
    * declarative HOF form below is pinned by SimilaritySpec.
    */
  def annBuckets(embeddings: DataFrame, nBits: Int): DataFrame =
    embeddings.select(col("vec_id"),
      graft.functions.VecOps.lsh_bucket(
        col("embedding").cast("array<double>"), nBits, 64).as("bucket"))

  /** The declarative higher-order-function form of [[annBuckets]] — kept as
    * the independent parity oracle for the native kernel (its lambdas
    * evaluate interpreted, so it is the slow path).
    */
  private[graft] def annBucketsHof(embeddings: DataFrame, nBits: Int): DataFrame = {
    val dim = 64
    val rnd = new scala.util.Random(1234)
    val planes = Array.fill(nBits, dim)(rnd.nextGaussian())
    val v = col("embedding").cast("array<double>")
    val bitCols = (0 until nBits).map { b =>
      val dot = aggregate(zip_with(v, typedlit(planes(b).toSeq), (x, p) => x * p),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, lit(1L << b)).otherwise(lit(0L))
    }
    embeddings.select(col("vec_id"), bitCols.reduce(_ + _).as("bucket"))
  }

  /** ANN top-k via multi-probe LSH: candidates live in any bucket within
    * Hamming distance `maxHamming` of the query's bucket (sign-bit flips are
    * exactly the near-boundary hyperplanes, so probing them recovers most
    * neighbors a single bucket misses — measured recall@10 ≥ 0.8 vs the
    * exact `cosineTopK` is pinned by SimilaritySpec). The probe set is tiny
    * (1 + nBits + C(nBits,2) bucket ids) and evaluates as one pushed-down
    * `IN` filter over the bucketed scan — still linear, no cross join.
    */
  def annTopK(embeddings: DataFrame, queryVecId: Long, k: Int, nBits: Int,
      maxHamming: Int = 1): DataFrame = {
    val buckets = annBuckets(embeddings, nBits)
    // one bounded driver lookup: the query vector's own bucket id
    val qb: Long = buckets.where(col("vec_id") === queryVecId)
      .select("bucket").head().getLong(0)
    val oneFlip = (0 until nBits).map(b => qb ^ (1L << b))
    val twoFlip =
      if (maxHamming >= 2)
        for { a <- 0 until nBits; b <- a + 1 until nBits } yield qb ^ (1L << a) ^ (1L << b)
      else Seq.empty[Long]
    val probes: Seq[Long] = qb +: (if (maxHamming >= 1) oneFlip ++ twoFlip else Seq.empty)
    val candIds = buckets.where(col("bucket").isin(probes: _*)).select("vec_id")
    val cands = embeddings.join(candIds, "vec_id")
    cosineTopK(cands, queryVecId, k)
  }

  // ------------------------------------------------ product quantization

  /** Product-quantization codebooks (Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the dimension
    * space is cut into `m` contiguous subspaces and each gets its own
    * 2^nbits-centroid k-means codebook, trained DRIVER-SIDE on the same
    * bounded deterministic sample as [[ivfAssignments]] (FAISS practice —
    * the sample bound does not grow with the corpus, so training cost is
    * constant at 100 TB). Vectors are L2-normalized first so squared-L2
    * ADC distance is monotone with cosine. Returns m × k × (dim/m).
    */
  def pqTrain(embeddings: DataFrame, m: Int, nbits: Int = 8,
      seed: Long = 20260820L, maxTrainSample: Int = 16384): Array[Array[Array[Double]]] = {
    requirePositive("m" -> m)
    trainBooks(trainingSample(unitRows(embeddings), maxTrainSample), m, 1 << nbits, seed)
  }

  /** PQ-encode the corpus: one broadcast-codebooks `mapPartitions` pass
    * (primitive arrays, no shuffle) mapping each vector to `m` code bytes —
    * a binary column. At dim=64 float64 and m=8 that is a 64× compression
    * of the scan payload: the ADC candidate scan reads m bytes per row
    * instead of the embedding column, which is what makes a 100 TB
    * brute-force-quality ANN pass affordable.
    */
  def pqEncode(embeddings: DataFrame,
      books: Array[Array[Array[Double]]]): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(books)
    vectors(embeddings).as[(Long, Array[Double])].mapPartitions { it =>
      val bks = bc.value
      it.map { case (id, v) => (id, pqCode(bks, unit(v))) }
    }.toDF("vec_id", "code")
  }

  /** ANN top-k via a PQ ADC scan (IVFADC's scan stage, Jégou et al. 2011
    * §IV): per query build the m×256 lookup table of subspace distances
    * driver-side (tiny), broadcast it, scan the m-byte codes summing LUT
    * entries — a bounded per-partition heap keeps the best `rerank`
    * approximate candidates, only P·rerank rows leave the scan — then
    * re-rank the candidates EXACTLY with [[cosineTopK]]. Recall@10 ≥ 0.8
    * vs the exact scan is pinned by SimilaritySpec (same gate as LSH/IVF).
    * At 100 TB: train once, store the code column next to the table, and
    * every query scans m bytes/row instead of the full embedding.
    */
  def pqTopK(embeddings: DataFrame, queryVecId: Long, k: Int, m: Int = 8,
      rerank: Int = 50): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    requirePositive("k" -> k, "m" -> m, "rerank" -> rerank)
    val books = pqTrain(embeddings, m)
    val codes = pqEncode(embeddings, books)
    val bcLut = spark.sparkContext.broadcast(adcTable(books, unitQuery(embeddings, queryVecId)))
    val kCent = books(0).length
    adcRerank(embeddings, codes.as[(Long, Array[Byte])].mapPartitions { it =>
      val l = bcLut.value
      adcScan(it.map { case (id, code) => (id, code, l) }, kCent, rerank, queryVecId)
    }, queryVecId, k, rerank)
  }

  /** Exact re-rank of an ADC scan's survivors: the `rerank` lowest
    * (adc, vec_id) non-query rows plus the query row, scored by
    * [[cosineTopK]], which needs the query row and leaves it out of the
    * results.
    */
  private def adcRerank(embeddings: DataFrame, scanned: Dataset[(Double, Long)],
      queryVecId: Long, k: Int, rerank: Int): DataFrame = {
    val cands = scanned.toDF("adc", "vec_id")
      .orderBy(col("adc").asc, col("vec_id")).limit(rerank).select("vec_id")
      .union(embeddings.sparkSession.range(1).select(lit(queryVecId).cast("long").as("vec_id")))
    cosineTopK(embeddings.join(cands, "vec_id"), queryVecId, k)
  }

  /** IVF-PQ — the composed billion-scale ANN index (Jégou et al. 2011,
    * "Product Quantization for Nearest Neighbor Search", §V IVFADC; the
    * FAISS `IVFx,PQy` architecture): the coarse spherical-k-means quantizer
    * routes each vector to a cell and PQ encodes the RESIDUAL
    * (vector − its cell centroid); a query probes only the `nprobe`
    * nearest cells, scanning the m-byte codes with a PER-CELL lookup table
    * built from the query's residual against that cell, then re-ranks the
    * survivors exactly. Residual encoding is what separates IVFADC from
    * the flat [[pqTopK]] scan: residual magnitudes are far smaller than
    * raw vectors, so the same 8 bits/subspace quantize much finer.
    *
    * 100 TB shape: centroids and codebooks are driver-tiny and train on a
    * bounded sample; assignment + residual + encode is ONE broadcast-
    * centroids `mapPartitions` pass (no joins — the cell id rides on the
    * code row); store (cluster, code) bucketed by cluster and the probe
    * becomes a partition-pruned scan of nprobe/nCentroids of the data at
    * m bytes/row; only P·rerank candidate ids leave the scan.
    */
  def ivfPqTopK(embeddings: DataFrame, queryVecId: Long, k: Int,
      nCentroids: Int = 16, nprobe: Int = 4, m: Int = 8, rerank: Int = 50,
      seed: Long = 20260820L, maxTrainSample: Int = 16384): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    requirePositive("k" -> k, "nCentroids" -> nCentroids, "nprobe" -> nprobe, "m" -> m,
      "rerank" -> rerank)
    val normed = unitRows(embeddings)
    // coarse quantizer + residual codebooks, both off the SAME bounded
    // deterministic sample (one collect)
    val sample = trainingSample(normed, maxTrainSample)
    val centers = lloyd(sample, nCentroids, seed, iters = 10, spherical = true)
    val books = trainBooks(sample.map(x => residual(x, centers(nearest(centers, x)))), m, 256,
      seed + 1)
    val bcC = spark.sparkContext.broadcast(centers)
    val bcB = spark.sparkContext.broadcast(books)
    // assign + residual + encode in ONE pass; (cluster, code) per row
    val codes = normed.as[(Long, Seq[Double])].mapPartitions { it =>
      val (cs, bks) = (bcC.value, bcB.value)
      it.map { case (id, nv) =>
        val x = nv.toArray
        val cell = nearest(cs, x)
        (id, cell, pqCode(bks, residual(x, cs(cell))))
      }
    }.toDF("vec_id", "cluster", "code")
    // query: nprobe nearest cells, one residual LUT per probed cell
    val q = unitQuery(embeddings, queryVecId)
    val probes = nearestN(centers, q, nprobe)
    val bcLuts = spark.sparkContext.broadcast(
      probes.map(c => c -> adcTable(books, residual(q, centers(c)))).toMap)
    val kCent = books(0).length
    adcRerank(embeddings, codes.where(col("cluster").isin(probes.toIndexedSeq: _*))
      .as[(Long, Int, Array[Byte])].mapPartitions { it =>
        val ls = bcLuts.value
        adcScan(it.map { case (id, cell, code) => (id, code, ls(cell)) }, kCent, rerank,
          queryVecId)
      }, queryVecId, k, rerank)
  }

  // ------------------------------------------------ quality / curation ops

  /** The full Gopher document-quality rule battery (Rae et al. 2021,
    * "Scaling Language Models: Methods, Analysis & Insights from Training
    * Gopher", §A.1.1): word count ∈ [50, 100k], mean word length ∈ [3, 10],
    * symbol-to-word ratio (`#` and `...`) ≤ 0.1, ≤ 90% of lines starting
    * with a bullet, ≤ 30% of lines ending with an ellipsis, ≥ 80% of words
    * containing an alphabetic character, and ≥ 2 of the paper's 8 English
    * stop words present. Ratios are integer milli-units (floor division) so
    * keep decisions are bit-reproducible across engines and partitionings.
    * One codegen'd per-row map — no shuffle, no UDF; at 100 TB this is a
    * free rider on whatever scan already reads `text`.
    */
  def gopherQuality(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = textCol
    val words = s"filter(split($t, '\\\\s+'), x -> x <> '')"
    val lines = s"split($t, '\\n')"
    docs.select(
        col("doc_id"),
        expr(s"cast(size($words) as bigint)").as("n_words"),
        expr(s"aggregate($words, 0L, (a, x) -> a + length(x))").as("sum_word_len"),
        expr(s"cast(size(filter($words, w -> w rlike '[a-zA-Z]')) as bigint)").as("n_alpha_words"),
        // '#' chars + '...' runs (each 3-char run counts once)
        expr(s"cast(length($t) - length(replace($t, '#', '')) + " +
          s"(length($t) - length(replace($t, '...', ''))) div 3 as bigint)").as("n_symbols"),
        expr("cast(size(array_intersect(transform(" + words + ", w -> lower(w)), " +
          "array('the','be','to','of','and','that','have','with'))) as bigint)").as("n_stop_hits"),
        expr(s"cast(greatest(size($lines), 1) as bigint)").as("n_lines"),
        expr(s"cast(size(filter($lines, l -> ltrim(l) like '- %' OR ltrim(l) like '* %' " +
          s"OR ltrim(l) like '• %' OR ltrim(l) like '# %')) as bigint)").as("n_bullet_lines"),
        expr(s"cast(size(filter($lines, l -> rtrim(l) like '%...' OR rtrim(l) like '%…')) " +
          "as bigint)").as("n_ellipsis_lines"))
      .where(col("n_words") > 0)
      .withColumn("mean_word_len_milli", expr("sum_word_len * 1000 div n_words"))
      .withColumn("alpha_milli", expr("n_alpha_words * 1000 div n_words"))
      .withColumn("symbol_milli", expr("n_symbols * 1000 div n_words"))
      .withColumn("bullet_milli", expr("n_bullet_lines * 1000 div n_lines"))
      .withColumn("ellipsis_milli", expr("n_ellipsis_lines * 1000 div n_lines"))
      .withColumn("keep",
        col("n_words").between(50L, 100000L) &&
          col("mean_word_len_milli").between(3000L, 10000L) &&
          col("symbol_milli") <= 100L &&
          col("bullet_milli") <= 900L &&
          col("ellipsis_milli") <= 300L &&
          col("alpha_milli") >= 800L &&
          col("n_stop_hits") >= 2L)
      .select("doc_id", "n_words", "mean_word_len_milli", "alpha_milli",
        "symbol_milli", "bullet_milli", "ellipsis_milli", "n_stop_hits", "keep")
  }

  /** The C4 line/document cleaning rules (Raffel et al. 2020, "Exploring the
    * Limits of Transfer Learning with a Unified Text-to-Text Transformer",
    * §2.2): keep only lines that end in a terminal punctuation mark, have
    * ≥ 3 words, and don't mention javascript; drop the whole page when
    * fewer than `minKeptLines` lines survive (the paper's 5-sentence rule,
    * with kept lines as the sentence proxy — the standard C4
    * reimplementation choice), or when the page contains "lorem ipsum" or
    * a `{`. Returns the cleaned text alongside the decision so the op
    * works as either a filter or a transform. Pure per-row codegen map.
    */
  def c4LineFilter(docs: DataFrame, textCol: String = "text",
      minKeptLines: Int = 5): DataFrame = {
    val t = textCol
    val lines = s"split($t, '\\n')"
    val keptCond = "rtrim(l) like '%.' OR rtrim(l) like '%!' OR " +
      "rtrim(l) like '%?' OR rtrim(l) like '%\"'"
    val kept = s"filter($lines, l -> ($keptCond) " +
      s"AND size(filter(split(l, ' '), w -> w <> '')) >= 3 " +
      s"AND NOT lower(l) like '%javascript%')"
    docs.select(
        col("doc_id"),
        expr(s"cast(size($lines) as bigint)").as("n_lines"),
        expr(s"cast(size($kept) as bigint)").as("n_kept_lines"),
        expr(s"array_join($kept, '\\n')").as("clean_text"),
        (expr(s"lower($t)").contains("lorem ipsum") || col(t).contains("{"))
          .as("doc_banned"))
      .withColumn("keep", col("n_kept_lines") >= minKeptLines.toLong && !col("doc_banned"))
      .select("doc_id", "n_lines", "n_kept_lines", "keep", "clean_text")
  }

  /** Within-doc repeated-n-gram fraction — the Gopher-family repetition
    * quality filter (Rae et al. 2021, "Scaling Language Models: ... Gopher",
    * §A.1.1 repetition signals): 1 − distinct/total over the doc's word
    * 3-grams. Pure per-row map (no shuffle); boilerplate / template spam
    * scores high and gets dropped by a threshold downstream.
    */
  def repetitionScore(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        // total 3-gram count needs no shingle materialization, and the
        // distinct count comes from the native kernel — the whole op is one
        // codegen'd map, no interpreted HOF lambda per row
        greatest(size(graft.functions.ShingleOps.sql_tokens(col("text"))) - 2, lit(1))
          .cast("long").as("n_ngrams"),
        size(graft.functions.ShingleOps.distinct_shingles(col("text")))
          .cast("long").as("n_distinct_ngrams"))
      .withColumn("dup_ngram_frac",
        round(lit(1.0) - col("n_distinct_ngrams").cast("double") / col("n_ngrams"), 4))

  /** The full Gopher repetition battery (Rae et al. 2021, Table A1) —
    * eleven signals instead of [[repetitionScore]]'s single dup-3-gram
    * fraction: duplicate-LINE fraction and character fraction (lines are
    * the paragraph proxy, the [[paragraphDedup]]/CCNet convention — the
    * corpus carries no blank-line paragraph structure), top-{2,3,4}-gram
    * character fractions (most frequent gram's occurrences × its length /
    * doc chars; ties → lexicographically smallest gram), and
    * dup-{5..10}-gram character fractions (chars over ALL occurrences of
    * grams appearing ≥ 2×). All metrics are integer permille
    * (numerator·1000 div doc chars) so any engine agrees exactly; `keep`
    * applies the paper's thresholds (lines ≤300/200‰; top 2/3/4 ≤
    * 200/180/160‰; dup 5..10 ≤ 150/140/130/120/110/100‰).
    *
    * Shape: ONE explode produces (doc, n, gram) rows for all nine n at
    * once (≈ 9·L rows per doc), map-side-combined groupBy counts, a
    * (doc,n)-partitioned window picks each top gram over the counted
    * frame, and a conditional-aggregation pivot lands the eleven columns —
    * the same shuffle class as exact dedup, text never shuffles beyond
    * gram strings.
    */
  def gopherRepetition(docs: DataFrame, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id"), col(textCol).as("t"))
      .withColumn("total_chars", greatest(length(col("t")), lit(1L)).cast("long"))
    // ---- line metrics (one (doc, line) groupBy)
    val lines = base
      .select(col("doc_id"), col("total_chars"), explode(split(col("t"), "\n")).as("line"))
      .groupBy("doc_id", "total_chars", "line").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id", "total_chars")
      .agg(sum("cnt").as("n_lines"),
        sum(when(col("cnt") >= 2, col("cnt")).otherwise(0L)).as("dup_lines"),
        sum(when(col("cnt") >= 2, col("cnt") * length(col("line")))
          .otherwise(0L)).as("dup_line_chars"))
      .select(col("doc_id"),
        expr("dup_lines * 1000 div n_lines").as("dup_line_frac_milli"),
        expr("dup_line_chars * 1000 div total_chars").as("dup_line_char_milli"))
    // ---- n-gram rows for ALL n in one explode: (doc, n, gram)
    val toks = withTokens(base.withColumnRenamed("t", "text"))
      .select(col("doc_id"), col("total_chars"), col("toks"))
    val gramRows = toks.select(col("doc_id"), col("total_chars"),
        // sequence(1, 0) would DESCEND in Spark, so generate at least one
        // position and trim with slice (length 0 -> empty) when L < n
        explode(expr(
          """flatten(transform(sequence(2, 10), n ->
            |  slice(transform(sequence(1, greatest(size(toks) - n + 1, 1)),
            |    i -> struct(n AS n, concat_ws(' ', slice(toks, i, n)) AS gram)),
            |  1, greatest(size(toks) - n + 1, 0))))""".stripMargin)).as("g"))
      .select(col("doc_id"), col("total_chars"), col("g.n").as("n"), col("g.gram").as("gram"))
    val counted = gramRows.groupBy("doc_id", "total_chars", "n", "gram")
      .agg(count(lit(1)).as("cnt"))
    // top gram per (doc, n): cnt desc, gram asc — bounded frame per doc
    val top = counted
      .withColumn("rn", row_number().over(Window.partitionBy("doc_id", "n")
        .orderBy(col("cnt").desc, col("gram"))))
      .where(col("rn") === 1 && col("n").between(2, 4))
      .select(col("doc_id"), col("n"),
        expr("cnt * length(gram) * 1000 div total_chars").as("m"))
    val dup = counted.where(col("n").between(5, 10))
      .groupBy("doc_id", "total_chars", "n")
      .agg(sum(when(col("cnt") >= 2, col("cnt") * length(col("gram")))
        .otherwise(0L)).as("dc"))
      .select(col("doc_id"), col("n"),
        expr("dc * 1000 div total_chars").as("m"))
    def pivot(df: DataFrame, prefix: String, ns: Seq[Int]): DataFrame = {
      val aggs = ns.map(n => coalesce(max(when(col("n") === n, col("m"))), lit(0L))
        .as(s"$prefix${n}gram_char_milli"))
      df.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    }
    val topWide = pivot(top, "top_", Seq(2, 3, 4))
    val dupWide = pivot(dup, "dup_", Seq(5, 6, 7, 8, 9, 10))
    val limits = Map("dup_line_frac_milli" -> 300L, "dup_line_char_milli" -> 200L,
      "top_2gram_char_milli" -> 200L, "top_3gram_char_milli" -> 180L,
      "top_4gram_char_milli" -> 160L, "dup_5gram_char_milli" -> 150L,
      "dup_6gram_char_milli" -> 140L, "dup_7gram_char_milli" -> 130L,
      "dup_8gram_char_milli" -> 120L, "dup_9gram_char_milli" -> 110L,
      "dup_10gram_char_milli" -> 100L)
    val joined = lines
      .join(topWide, Seq("doc_id"), "left")
      .join(dupWide, Seq("doc_id"), "left")
      .na.fill(0L, limits.keys.toSeq)
    joined.withColumn("keep",
      limits.toSeq.sortBy(_._1).map { case (c, lim) => col(c) <= lim }
        .reduce(_ && _))
  }

  /** Benchmark decontamination — the n-gram-overlap scan every serious
    * training-data pipeline runs before shipping (the GPT-3/Llama
    * deduplicate-against-eval step): for each (training doc, benchmark doc)
    * pair sharing at least `minShared` distinct word n-grams, emit the pair
    * and the overlap count. 100 TB shape: the benchmark side is tiny (eval
    * sets, not corpora) — its exploded n-gram set broadcasts, so the big
    * side never shuffles on the join; only matched rows reach the
    * (doc, bench) groupBy.
    */
  def contamination(docs: DataFrame, benchDocs: DataFrame, minShared: Int): DataFrame = {
    // shingle sets via the native kernel (bit-parity with the HOF form,
    // ShingleOpsSpec) — the corpus-side map stays in whole-stage codegen
    val sh = graft.functions.ShingleOps.distinct_shingles(col("text"))
    val d = docs.select(col("doc_id"), explode(sh).as("g"))
    val b = benchDocs
      .select(col("doc_id").as("bench_id"), explode(sh).as("g")).distinct()
    d.join(broadcast(b), "g")
      .where(col("doc_id") =!= col("bench_id"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared")) // d side is distinct shingles per doc
      .where(col("n_shared") >= minShared)
  }

  /** Deterministic per-stratum subsampling — the mixture-building step
    * (sample each domain/language at its training-mix weight). The keep
    * decision hashes ONLY doc_id (md5 arithmetic shared with the DuckDB
    * dialect), so it is reproducible row-wise across runs, engines and
    * repartitions — no RNG state, no sampleBy approximation drift.
    */
  def stratifiedSample(docs: DataFrame, strataCol: String,
      fractions: Map[String, Double]): DataFrame = {
    val bucket = expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 10000")
    val frac = fractions.foldLeft(lit(0.0)) { case (acc, (k, f)) =>
      when(col(strataCol) === k, lit(f)).otherwise(acc)
    }
    docs.where(bucket < frac * 10000.0)
  }

  /** Per-domain frequency capping — the URL-level curation step that stops
    * a handful of giant hosts from dominating the mixture (the C4 /
    * RefinedWeb "limit pages per domain" rule): keep at most `cap` docs per
    * host, deterministically (lowest doc_id first). One shuffle on host;
    * per-host state is a running rank (nothing materializes per group), and
    * AQE's skew split keeps a mega-host from pinning one task.
    */
  def domainCap(docs: DataFrame, cap: Int): DataFrame = {
    val host = regexp_extract(col("url"), "^[a-z]+://([^/]+)", 1)
    docs.withColumn("host", host)
      .withColumn("host_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("host")).orderBy(col("doc_id"))))
      .where(col("host_rank") <= cap)
      .select(col("doc_id"), col("host"), col("host_rank").cast("long").as("host_rank"))
  }

  /** Email pattern for [[piiRedact]] — conservative common-dialect regex
    * (no backreferences, no lookaround) so an RE2-family engine agrees with
    * java.util.regex on every match.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** Dotted-quad IPv4 pattern for [[piiRedact]]. */
  val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** PII scrubbing — replace emails and dotted-quad IPs in `textCol` with
    * placeholder tags and count the hits (the redaction pass a corpus
    * release review requires). Pure per-row regexp map: no shuffle, no UDF,
    * stays in whole-stage codegen.
    */
  def piiRedact(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      regexp_replace(regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>").as("clean_text"),
      size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(Ipv4Re), lit(0)))
        .cast("long").as("n_ips"))

  /** Paragraph segmentation for [[paragraphDedup]]: non-overlapping
    * `ParaWindow`-token windows of the analyzed token array (the corpus
    * text carries no newline structure, so the segmentation is the
    * normalized fixed-window form of CCNet's "paragraph" unit). Spark and
    * DuckDB fragments produce identical string lists.
    */
  val ParaWindow = 8
  val ParasExprSpark: String =
    s"transform(sequence(1, greatest(cast(ceil(size(toks)/${ParaWindow}.0) as int), 1)), " +
      s"i -> concat_ws(' ', slice(toks, (i-1)*$ParaWindow+1, $ParaWindow)))"
  val ParasExprDuck: String =
    s"[array_to_string(toks[(i-1)*$ParaWindow+1:(i-1)*$ParaWindow+$ParaWindow], ' ') " +
      s"for i in range(1, greatest(cast(ceil(len(toks)/${ParaWindow}.0) as int), 1) + 1)]"

  /** Corpus-wide paragraph-level exact dedup — the CCNet / RefinedWeb
    * line-dedup rule: a paragraph (fixed token window here) survives only
    * at its first occurrence corpus-wide (lowest doc_id, then position);
    * every later copy is dropped and the doc text reassembled from the
    * surviving windows. Returns (doc_id, n_paras, n_kept, clean_text).
    *
    * 100 TB shape: first-occurrence is `groupBy(para).agg(min(struct(doc,
    * pos)))` — map-side partial aggregation collapses a boilerplate
    * paragraph repeated 100M times to one row per task before the shuffle
    * (a windowed row_number would sort the whole hot key in one task);
    * the join back on para is AQE-skew-splittable; reassembly is one
    * groupBy(doc_id).
    */
  def paragraphDedup(docs: DataFrame): DataFrame = {
    val paras = withTokens(docs)
      .select(col("doc_id"), posexplode(expr(ParasExprSpark)).as(Seq("pos", "para")))
      .where(col("para") =!= "")
    val first = paras.groupBy("para")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    paras.join(first, "para")
      .withColumn("is_first",
        col("doc_id") === col("first.doc_id") && col("pos") === col("first.pos"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_paras"),
        sum(when(col("is_first"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("is_first"), struct(col("pos"), col("para"))))),
          s => s.getField("para"))).as("clean_text"))
  }

  /** Overlapping token-window chunking — the retrieval/RAG preparation step:
    * each document splits into windows of `windowTokens` starting every
    * `stride` tokens (consecutive chunks overlap by windowTokens − stride;
    * every token is covered; the final window may be shorter). Returns
    * (doc_id, chunk_id, n_chunk_tokens, chunk_text). Pure per-doc map +
    * generate — embarrassingly parallel, no shuffle, whole-stage codegen.
    */
  def chunkWindows(docs: DataFrame, windowTokens: Int = 256,
      stride: Int = 128): DataFrame = {
    require(stride > 0 && windowTokens >= stride, "windowTokens >= stride > 0")
    val W = windowTokens; val S = stride
    withTokens(docs)
      .where(size(col("toks")) > 0)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n"), col("toks"))
      .select(col("doc_id"), col("n"), posexplode(
        expr(s"transform(sequence(0, cast((n - 1) div $S as int)), " +
          s"i -> concat_ws(' ', slice(toks, i*$S+1, $W)))"))
        .as(Seq("pos", "chunk_text")))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        least(lit(W.toLong), col("n") - col("pos") * S).as("n_chunk_tokens"),
        col("chunk_text"))
  }

  /** Sequence packing — the concat-and-chunk step that turns a curated
    * corpus into fixed-length training sequences: documents are concatenated
    * in doc_id order and the global token stream is cut every `maxTokens`
    * (a document may span sequences). Returns, per non-empty doc:
    * (doc_id, n_tokens, first_seq, last_seq, seq_offset) where `first_seq`/
    * `last_seq` are the sequence ids its tokens land in and `seq_offset` is
    * its start position inside `first_seq`.
    *
    * 100 TB shape: the global running sum over the doc_id order is NOT one
    * global window (single-reducer sort) — it's a two-level prefix sum:
    * a window partitioned by a doc_id bucket (parallel, bounded state),
    * plus a bucket-prefix over the per-bucket totals (one tiny frame —
    * maxDocId / 2^20 rows — whose single-partition window is bounded by
    * construction) broadcast back onto the bucket rows.
    */
  def packSequences(docs: DataFrame, maxTokens: Long,
      bucketWidth: Long = 1L << 20): DataFrame =
    tokenPrefix(docs, bucketWidth)
      .select(col("doc_id"), col("n_tokens"),
        expr(s"p div $maxTokens").as("first_seq"),
        expr(s"(p + n_tokens - 1) div $maxTokens").as("last_seq"),
        pmod(col("p"), lit(maxTokens)).as("seq_offset"))

  /** Two-level prefix sum over the doc_id-ordered token stream (the scale
    * machinery shared by [[packSequences]] and [[tokenShards]]): per
    * non-empty doc (doc_id, n_tokens, p) where p = tokens strictly before
    * the doc. A bucket-partitioned window does the parallel inner sums; the
    * per-bucket totals (maxDocId / bucketWidth rows, bounded by
    * construction) take one tiny single-partition window and broadcast
    * back. No global sort, no single reducer over the corpus.
    */
  private def tokenPrefix(docs: DataFrame, bucketWidth: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = tokenCounts(docs).select(col("doc_id"), col("n_tokens"))
      .where(col("n_tokens") > 0)
      .withColumn("b", expr(s"doc_id div $bucketWidth"))
    val inBucket = sum(col("n_tokens"))
      .over(Window.partitionBy("b").orderBy("doc_id")) - col("n_tokens")
    val bucketTotals = c.groupBy("b").agg(sum(col("n_tokens")).as("bt"))
    val bucketPrefix = bucketTotals
      .withColumn("bp", sum(col("bt")).over(Window.orderBy("b")) - col("bt"))
      .select("b", "bp")
    c.join(broadcast(bucketPrefix), "b")
      .withColumn("p", col("bp") + inBucket)
      .select("doc_id", "n_tokens", "p")
  }

  /** Token-budgeted shard assignment — the training-shard layout step:
    * docs in doc_id order fill shards of `tokensPerShard` tokens, each doc
    * kept whole (the doc straddling a boundary stays in the earlier shard,
    * so a shard can overflow by at most one document — the standard soft
    * budget). shard_id = (tokens strictly before the doc) div budget:
    * pure arithmetic on the [[tokenPrefix]] two-level prefix sum, so the
    * assignment is deterministic under any partitioning and never sorts
    * the corpus globally. Returns (doc_id, n_tokens, shard_id).
    */
  def tokenShards(docs: DataFrame, tokensPerShard: Long,
      bucketWidth: Long = 1L << 20): DataFrame =
    tokenPrefix(docs, bucketWidth)
      .select(col("doc_id"), col("n_tokens"),
        expr(s"p div $tokensPerShard").as("shard_id"))

  /** Shard-export SINK: writes the corpus as Parquet partitioned by the
    * [[tokenShards]] assignment (`dir/shard_id=K/...`, one file per shard
    * via a pre-write repartition on the key) plus a `_manifest.json`
    * (tmp+rename; the underscore prefix keeps Parquet readers from scanning it) recording per-shard doc/token counts — what a training
    * data-loader consumes. Shard count = totalTokens/budget: size the
    * budget so the manifest stays driver-small (a 100 TB corpus at 100M
    * tokens/shard is ~1M manifest rows).
    */
  def writeTokenShards(docs: DataFrame, dir: String, tokensPerShard: Long,
      bucketWidth: Long = 1L << 20): Unit = {
    val shards = tokenShards(docs, tokensPerShard, bucketWidth)
    docs.join(shards.select("doc_id", "shard_id"), "doc_id")
      .repartition(col("shard_id"))
      .write.partitionBy("shard_id").mode("overwrite").parquet(dir)
    val stats = shards.groupBy("shard_id")
      .agg(count(lit(1)).as("docs"), sum("n_tokens").as("tokens"))
      .orderBy("shard_id").collect()
    val body = stats.map(r =>
      s"""{"shard_id": ${r.getLong(0)}, "docs": ${r.getLong(1)}, "tokens": ${r.getLong(2)}}""")
      .mkString("[\n", ",\n", "\n]")
    val conf = docs.sparkSession.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(dir, "_manifest.json")
    val tmp = new org.apache.hadoop.fs.Path(dir, "._manifest.json.tmp")
    val fs = path.getFileSystem(conf)
    val out = fs.create(tmp, true)
    out.write(body.getBytes("UTF-8"))
    out.close()
    fs.delete(path, false)
    fs.rename(tmp, path)
  }

  /** URL canonicalization — the dedup key every web pipeline derives before
    * exact URL dedup. Rules (each a pure codegen regexp/string map, no UDF):
    * lowercase scheme and host (path/query case preserved), strip the
    * fragment, strip default ports (http:80, https:443), strip trailing
    * slashes from the path, and drop tracking query params
    * (utm_*, fbclid, gclid, ref), removing the `?` when the query empties.
    */
  def urlNormalize(docs: DataFrame, urlCol: String = "url"): DataFrame = {
    val noFrag = regexp_replace(col(urlCol), "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host = lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1))
    val port = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/:?#]+:([0-9]+)", 1)
    val portKept = when(port === "", lit(""))
      .when(scheme === "http" && port === "80", lit(""))
      .when(scheme === "https" && port === "443", lit(""))
      .otherwise(concat(lit(":"), port))
    val path = regexp_replace(
      regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1), "/+$", "")
    val query = regexp_extract(noFrag, "\\?(.*)$", 1)
    val cleanQ = array_join(filter(split(query, "&"),
      kv => !kv.rlike("(?i)^(utm_[a-z0-9_]+|fbclid|gclid|ref)=") && kv =!= lit("")), "&")
    docs.withColumn("canonical_url",
      concat(scheme, lit("://"), host, portKept, path,
        when(cleanQ === "", lit("")).otherwise(concat(lit("?"), cleanQ))))
  }

  /** Domain-blocklist filter — the UT1-style category-blocklist step
    * (RefinedWeb §3.1 filters URLs against the UT1 adult/malware domain
    * lists before anything else touches the page): a doc is blocked when
    * its host equals a blocked domain OR is a subdomain of one.
    *
    * 100 TB shape: the corpus side explodes each host into its ≥2-label
    * suffixes (a handful per row — hosts have few labels) and equi-joins
    * the blocklist on the suffix, so subdomain matching is a plain keyed
    * join (shuffle carries short domain strings), never a LIKE scan and
    * never a per-row loop over a multi-million-row list; a small list
    * broadcasts automatically. One-label suffixes are never generated
    * (a bare TLD in the list cannot block the world).
    * Returns (doc_id, host, blocked_by, blocked).
    */
  def urlBlocklistFilter(docs: DataFrame, blocklist: DataFrame,
      urlCol: String = "url"): DataFrame = {
    val host = lower(regexp_extract(col(urlCol),
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1))
    val withHost = docs.select(col("doc_id"), host.as("host"))
    val parts = "split(host, '\\\\.')"
    val sfx = expr(s"filter(transform(sequence(1, size($parts)), " +
      s"i -> array_join(slice($parts, i, size($parts) - i + 1), '.')), " +
      "s -> instr(s, '.') > 0)")
    val hits = withHost.select(col("doc_id"), explode(sfx).as("domain"))
      .join(blocklist.select(lower(col("domain")).as("domain")).distinct(), "domain")
      .groupBy("doc_id").agg(min(col("domain")).as("blocked_by"))
    withHost.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("host"), col("blocked_by"),
        col("blocked_by").isNotNull.as("blocked"))
  }

  /** Exact URL dedup over the canonical form: one row per canonical URL,
    * keeping the lowest doc_id and the duplicate count. groupBy(min, count)
    * rather than a window — map-side partial aggregation makes a hot URL
    * (a crawl that refetched one page a million times) collapse per task
    * instead of sorting in one reducer.
    */
  def urlDedup(docs: DataFrame, urlCol: String = "url"): DataFrame =
    urlNormalize(docs, urlCol).groupBy("canonical_url")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dupes"))
      .select(col("doc_id"), col("canonical_url"), col("n_dupes"))

  /** Recrawl dedup — keep the NEWEST fetch per canonical URL (crawl
    * snapshots refetch pages; training corpora keep one, usually the
    * latest — the recency twin of [[urlDedup]]'s lowest-id rule). Ties on
    * the timestamp break to the lowest doc_id. Same skew-safe shape as
    * urlDedup: a groupBy max-struct (map-side combinable — a page
    * refetched a million times collapses per task), never a corpus-wide
    * window sort. Returns (doc_id, canonical_url, tsCol, n_fetches).
    */
  def recrawlDedup(docs: DataFrame, urlCol: String = "url",
      tsCol: String = "warc_ts"): DataFrame =
    urlNormalize(docs, urlCol)
      .groupBy("canonical_url")
      .agg(max(struct(col(tsCol).as("ts"), (-col("doc_id")).as("negId"))).as("m"),
        count(lit(1)).as("n_fetches"))
      .select((-col("m.negId")).as("doc_id"), col("canonical_url"),
        col("m.ts").as(tsCol), col("n_fetches"))

  /** Exact-k per-stratum sampling — the budgeted variant of
    * [[stratifiedSample]]: exactly `min(k, |stratum|)` rows per stratum,
    * chosen by md5-hash order (uniform, engine/partitioning-reproducible,
    * no RNG state). One shuffle on the stratum key; per-stratum state is a
    * running rank (nothing materializes per group). Note the window DOES
    * colocate each stratum in one task (row_number needs partition
    * integrity, so AQE cannot split it): with very few, very large strata
    * prefer [[stratifiedSample]]'s fraction rule, which never shuffles.
    */
  def stratifiedSampleExact(docs: DataFrame, strataCol: String, k: Int,
      salt: String = "exact"): DataFrame = {
    val h = expr(
      s"cast(conv(substr(md5(concat(cast(doc_id as string), '#$salt')), 1, 8), 16, 10) as bigint)")
    docs.withColumn("__h", h)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(strataCol)).orderBy(col("__h"), col("doc_id"))))
      .where(col("__rn") <= k)
      .drop("__h", "__rn")
  }

  /** Flesch reading-ease score — the classic readability quality feature
    * (education-value / reading-level filters): `206.835 − 1.015·(words/
    * sentences) − 84.6·(syllables/words)`. Sentences = runs of terminal
    * punctuation (`[.!?]+`, floor 1); syllables = vowel-group runs
    * (`[aeiouy]+`) over the lowercased text, plus 1 for every vowel-less
    * word (the standard heuristic floor — "rhythm", numbers). All three
    * counts are single-regexp integer passes; the final expression tree is
    * fixed, so any IEEE engine computes the identical double. Pure
    * per-row codegen map, no shuffle.
    */
  def readability(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val words = s"filter(split($textCol, '\\\\s+'), x -> x <> '')"
    docs.select(col("doc_id"),
        expr(s"cast(size($words) as bigint)").as("n_words"),
        expr(s"cast(greatest(size(regexp_extract_all($textCol, '[.!?]+', 0)), 1) as bigint)")
          .as("n_sentences"),
        (expr(s"cast(size(regexp_extract_all(lower($textCol), '[aeiouy]+', 0)) as bigint)") +
          expr(s"cast(size(filter($words, w -> NOT lower(w) rlike '[aeiouy]')) as bigint)"))
          .as("n_syllables"))
      .where(col("n_words") > 0)
      .withColumn("flesch",
        round(lit(206.835) - lit(1.015) * (col("n_words") / col("n_sentences")) -
          lit(84.6) * (col("n_syllables") / col("n_words")), 4))
  }

  /** HTML → text extraction — the first pass of every web-corpus pipeline
    * (the `html:binary` → `text` step of the input contract). A pure
    * per-row regexp chain, no shuffle, no UDF, stays in whole-stage
    * codegen; order matters:
    *
    *  1. `<script>`/`<style>` elements removed WITH their content (the
    *     content is code, not text — and it may contain `<`/`>` that must
    *     not confuse the tag stripper);
    *  2. comments `<!-- -->` removed (dotall: comments span lines);
    *  3. every remaining tag becomes a space (block boundaries must not
    *     glue words together);
    *  4. the common named/numeric entities decode — `&amp;` LAST, so
    *     double-escaped text like `&amp;lt;` correctly yields literal
    *     `&lt;` rather than `<`;
    *  5. whitespace collapses to single spaces, ends trimmed.
    *
    * Conservative regex dialect (no backreferences/lookaround). Entities
    * outside the fixed set (rare numerics, exotic names) pass through —
    * the documented tradeoff for keeping the pass inside codegen.
    */
  def htmlExtract(docs: DataFrame, htmlCol: String = "html_text"): DataFrame = {
    val noScript = regexp_replace(col(htmlCol),
      "(?is)<script\\b[^>]*>.*?</script\\s*>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style\\b[^>]*>.*?</style\\s*>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]*>", " ")
    val entities = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&apos;" -> "'", "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    val decoded = entities.foldLeft(noTags) { case (c, (pat, rep)) =>
      regexp_replace(c, pat, rep)
    }
    docs.withColumn("extracted_text",
      trim(regexp_replace(decoded, "\\s+", " ")))
  }

  /** Unigram-LM surprise score — the CCNet quality signal (Wenzek et al.
    * 2020): score each document by how surprising its tokens are under a
    * corpus-level unigram language model, then bucket head/middle/tail.
    * Integer-exact so both engines agree bit-for-bit: per-token surprise is
    * `floor(log2(total_tokens / cnt(tok)))` computed as
    * `length(bin(total div cnt)) - 1` (no floating-point log anywhere), and
    * the per-doc mean is fixed-point millibits `(sum * 1000) div n_toks`.
    *
    * 100 TB shape: the LM is ONE `groupBy(tok)` with map-side combine (hot
    * tokens collapse per task before the shuffle). The score join is
    * broadcast when the vocabulary is bounded (`broadcastLm=true`, the
    * CCNet case: the LM is trained on a fixed reference corpus, not the
    * full crawl); for an unbounded crawl vocabulary set it false — the
    * equi-join on `tok` shuffles both sides and AQE splits the hot-token
    * skew. The scalar total rides a one-row broadcast cross join.
    */
  val LmBucketExpr: String =
    "CASE WHEN mean_millibits <= 7000 THEN 'head' " +
      "WHEN mean_millibits <= 9000 THEN 'middle' ELSE 'tail' END"

  def lmSurprise(docs: DataFrame, broadcastLm: Boolean = true): DataFrame = {
    val toks = withTokens(docs).select(col("doc_id"), explode(col("toks")).as("tok"))
    val lm = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = lm.agg(sum("cnt").as("lm_total"))
    val scored = toks
      .join(if (broadcastLm) broadcast(lm) else lm, "tok")
      .crossJoin(broadcast(total))
      .withColumn("bits", (length(bin(expr("lm_total div cnt"))) - 1).cast("long"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_toks"), sum("bits").as("sum_bits"))
      .select(col("doc_id"), col("n_toks"), col("sum_bits"),
        expr("(sum_bits * 1000) div n_toks").as("mean_millibits"))
      .withColumn("lm_bucket", expr(LmBucketExpr))
  }

  /** Bigram-LM conditional surprise — the n-gram step past [[lmSurprise]]
    * toward the CCNet/KenLM perplexity filter (Wenzek et al. 2020 score with
    * a 5-gram KenLM; the conditional-probability structure is identical at
    * n=2 and the arithmetic here stays integer-exact): each token position
    * i >= 1 is scored by how surprising `toks[i]` is GIVEN `toks[i-1]` under
    * the corpus bigram model with add-one (Laplace) smoothing — the same
    * smoothing choice as [[dsirWeights]]' target LM, and necessary here:
    * the unsmoothed MLE conditional scores a unique context's unique
    * continuation as 0 bits, making never-seen-before gibberish look
    * maximally predictable. Per-position bits =
    * `floor(log2((cnt(prev) + V) / (cnt(prev, cur) + 1)))` computed as
    * `length(bin((cnt1 + vsz) div (cnt2 + 1))) - 1` (no floating-point log
    * anywhere); cnt(prev) is the context total — the number of bigram
    * occurrences with that prefix — and V the distinct-continuation
    * vocabulary, so the ratio is the inverse smoothed conditional
    * probability. Per-doc mean is fixed-point millibits; docs with < 2
    * tokens have no bigram and are excluded (a length filter catches those
    * upstream).
    *
    * 100 TB shape: bigram extraction is a per-row codegen `transform` (no
    * positional self-join, no shuffle); the LM is ONE groupBy((p, c)) with
    * map-side combine (hot boilerplate bigrams collapse per task before the
    * shuffle); context totals are a second groupBy over the much smaller
    * distinct-bigram frame. The score join broadcasts the LM when the
    * vocabulary is bounded (the CCNet case — LM trained on a fixed reference
    * corpus); for an unbounded crawl vocabulary set `broadcastLm=false` and
    * the equi-join on (p, c) shuffles with AQE splitting hot-bigram skew.
    */
  val BigramBucketExpr: String =
    "CASE WHEN mean_millibits <= 4290 THEN 'head' " +
      "WHEN mean_millibits <= 4352 THEN 'middle' ELSE 'tail' END"

  def bigramSurprise(docs: DataFrame, broadcastLm: Boolean = true): DataFrame = {
    val pairs = withTokens(docs)
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(slice(toks, 1, size(toks) - 1)," +
          " (x, i) -> struct(x AS p, element_at(toks, i + 2) AS c))")).as("bg"))
      .select(col("doc_id"), col("bg.p").as("p"), col("bg.c").as("c"))
    val lm2 = pairs.groupBy("p", "c").agg(count(lit(1)).as("cnt2"))
    val ctx = lm2.groupBy("p").agg(sum("cnt2").as("cnt1"))
    val vocab = lm2.agg(countDistinct("c").cast("long").as("vsz"))
    val lm = lm2.join(ctx, "p")
    val scored = pairs
      .join(if (broadcastLm) broadcast(lm) else lm, Seq("p", "c"))
      .crossJoin(broadcast(vocab))
      .withColumn("bits",
        (length(bin(expr("(cnt1 + vsz) div (cnt2 + 1)"))) - 1).cast("long"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"), sum("bits").as("sum_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_bits"),
        expr("(sum_bits * 1000) div n_bigrams").as("mean_millibits"))
      .withColumn("ppx_bucket", expr(BigramBucketExpr))
  }

  // --------------------------------------------- dedup cluster resolution

  /** Connected components over an undirected pair graph — the alternating
    * large-star / small-star algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", ACM SoCC 2014). Each round is two
    * groupBy-min + equi-join passes — a node's neighborhood is NEVER
    * materialized on one row (no collect_set/collect_list), so a hot node
    * (a giant near-dup cluster's star center) costs a skewed equi-join that
    * AQE splits, not an OOM; convergence is O(log n) rounds regardless of
    * graph diameter (min-propagation would need diameter rounds — a
    * 1M-long chain of near-dups is pathological but real in boilerplate
    * web text). Rounds materialize via localCheckpoint to truncate lineage
    * (on a cluster with a checkpoint dir, `RDD.checkpoint` semantics —
    * same call).
    *
    * Returns (doc_id, component) for every node that appears in `pairs`
    * (both columns), component = min doc_id of the node's cluster.
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 25): DataFrame = {
    val p0 = pairs.columns(0)
    val p1 = pairs.columns(1)
    // canonical undirected edges u < v. Checkpoints are LAZY so each
    // round runs exactly ONE job: the sig() gate both materializes the
    // round's checkpoint blocks and computes the fixpoint signature
    // (eager localCheckpoint + a separate agg was two driver round-trips
    // per round — measured job overhead dominated q_sem_dedup/q_mutual_knn)
    var edges = pairs.select(
        least(col(p0), col(p1)).cast("long").as("u"),
        greatest(col(p0), col(p1)).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct()
      .localCheckpoint(eager = false)
    // converged when the edge set is a fixpoint: count + order-free xxhash64
    // XOR fold (no overflow under ANSI; collision odds ~ n^2 / 2^64 — fine
    // for a gate that is also bounded by maxRounds)
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var s = sig(edges)
    var round = 0
    var done = s._1 == 0L
    while (!done && round < maxRounds) {
      // large-star: for each node a with m = min(a, min nbr), attach every
      // strictly-larger neighbor to m
      val nbrs = edges.select(col("u").as("a"), col("v").as("b"))
        .union(edges.select(col("v").as("a"), col("u").as("b")))
      val mins = nbrs.groupBy("a")
        .agg(min(col("b")).as("mn"))
        .select(col("a"), least(col("a"), col("mn")).as("m"))
      val ls = nbrs.join(mins, "a").where(col("b") > col("a"))
        .select(col("m").as("u"), col("b").as("v")) // m <= a < b: canonical
        .where(col("u") =!= col("v")).distinct()
      // small-star: direct each edge large->small; attach all smaller
      // neighbors AND the center itself to the center's min neighbor
      val dir = ls.select(col("v").as("a"), col("u").as("b")) // a > b
      val dmins = dir.groupBy("a").agg(min(col("b")).as("m"))
      val ss = dir.join(dmins, "a")
        .select(col("m").as("u"), col("b").as("v"))
        .union(dmins.select(col("m").as("u"), col("a").as("v")))
        .where(col("u") =!= col("v")).distinct()
        .localCheckpoint(eager = false)
      val s2 = sig(ss)
      edges = ss
      done = s2 == s
      s = s2
      round += 1
    }
    // fixpoint edges form stars rooted at the component min: u IS the root
    edges.select(col("v").as("doc_id"), col("u").as("component"))
      .union(edges.select(col("u").as("doc_id"), col("u").as("component")))
      .distinct()
  }

  /** Dedup resolution — the step after pair generation that a training-data
    * pipeline actually ships: fold near-dup PAIRS into clusters (transitive
    * closure via [[connectedComponents]]) and keep one canonical doc per
    * cluster (min doc_id — deterministic; swap the ordering column for a
    * quality score to keep the best instead). Docs in no pair are their own
    * canonical. Returns (doc_id, canonical_id, is_kept).
    */
  def dedupResolve(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs)
    docs.select(col("doc_id").cast("long").as("doc_id"))
      .join(cc.withColumnRenamed("component", "canonical_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"))
      .withColumn("is_kept", col("doc_id") === col("canonical_id"))
  }

  /** Batch exact cosine top-k — the RAG retrieval job: one pass over the
    * corpus answers MANY query vectors at once (vs [[cosineTopK]]'s one).
    *
    * 100 TB shape: the query block (ids + flattened vectors + norms —
    * bounded by the request batch, not the corpus) broadcasts once; each
    * corpus partition scores its rows against the whole block in one
    * primitive-array kernel holding per-query bounded heaps (k entries per
    * query — O(q·k) memory per task, independent of partition size), and
    * only P·q·k candidate rows reach the final per-query merge. One corpus
    * scan, no shuffle of corpus rows, no per-pair Catalyst eval.
    */
  def cosineTopKBatch(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val qRows = embeddings.where(col("vec_id").isin(queryIds.map(Long.box): _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    require(qRows.nonEmpty, "no query vectors found")
    val bc = spark.sparkContext.broadcast(packBlock(0, qRows))
    val cand = embeddings
      .where(!col("vec_id").isin(queryIds.map(Long.box): _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val qs = bc.value
        // one bounded heap per query, fed one corpus row at a time
        val heaps = new TopHeaps(qs, null, Array(k), _ => 0)
        it.foreach { case (vid, v) => pairLoop(qs, row(vid, v), AllPairs, heaps) }
        heaps.rows.map(t => (t._1, t._2, t._3))
      }
      .toDF("query_id", "vec_id", "c")
    rankCut(cand, "query_id", "vec_id", k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) of
    * independently-ranked candidate lists — the standard hybrid-retrieval
    * combiner (sparse BM25 leg + dense cosine leg in a RAG stack):
    * `score(d) = Σ_legs 1 / (kRrf + rank_leg(d))`, a leg that missed `d`
    * contributes 0.
    *
    * Each leg arrives as (id, score); it is cut to its own top-`legK` with
    * orderBy+limit FIRST (TakeOrderedAndProject — a distributed per-partition
    * top-k plus a bounded driver merge, never a global window over the
    * corpus), and only the ≤ legK survivors are ranked with a window (the
    * single-partition window is over a bounded frame, which is exactly when
    * a global window is fine). Ranks beyond legK would contribute less than
    * 1/(kRrf+legK) each, the standard per-leg-list truncation.
    *
    * Determinism across engines: scores are rounded to 4 dp BEFORE ranking
    * so an f32-vs-double disagreement in the 5th decimal cannot flip a rank,
    * and ties break by id ascending. The fused score is one double division
    * per leg plus a fixed-order sum — bit-identical in any IEEE engine.
    *
    * Returns (doc_id, r_<leg> ranks..., rrf) — the global top `k` by
    * (rrf desc, doc_id).
    */
  def rrfFuse(legs: Seq[(String, DataFrame)], k: Int, legK: Int = 50,
      kRrf: Int = 60): DataFrame = {
    require(legs.nonEmpty, "rrfFuse needs at least one leg")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("s").desc, col("doc_id"))
    val ranked = legs.map { case (name, leg) =>
      val Array(idc, sc) = leg.columns.take(2)
      leg.select(col(idc).cast("long").as("doc_id"), round(col(sc), 4).as("s"))
        .orderBy(col("s").desc, col("doc_id")).limit(legK)
        .withColumn(s"r_$name", row_number().over(w).cast("long"))
        .select(col("doc_id"), col(s"r_$name"))
    }
    val joined = ranked.reduce((a, b) => a.join(b, Seq("doc_id"), "full_outer"))
    val contribs = legs.map { case (name, _) =>
      coalesce(lit(1.0) / (lit(kRrf.toDouble) + col(s"r_$name")), lit(0.0))
    }
    joined
      .withColumn("rrf", round(contribs.reduce(_ + _), 6))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }

  /** SemDeDup — semantic deduplication (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"): fold
    * embedding-cosine near-duplicates into clusters and keep one canonical
    * doc per cluster. Pair generation defaults to the EXACT blocked kernel
    * ([[embeddingNearDupPairs]]); pass `candidatePairs` (any (ia, ib)
    * frame, e.g. [[embeddingNearDupPairsIvf]] — SemDeDup's own
    * k-means-within-cluster recipe) to make the sub-quadratic 100 TB path
    * a one-argument swap, the same contract [[dedupResolve]] exposes.
    * Clustering is the large-star / small-star [[connectedComponents]];
    * canonical = min vec_id. Returns (vec_id, canonical_id, is_kept).
    */
  def semDedup(embeddings: DataFrame, threshold: Double,
      candidatePairs: Option[DataFrame] = None): DataFrame = {
    val pairs = candidatePairs
      .getOrElse(embeddingNearDupPairs(embeddings, threshold))
      .select(col("ia"), col("ib"))
    val cc = connectedComponents(pairs)
      .withColumnRenamed("doc_id", "vec_id")
      .withColumnRenamed("component", "canonical_id")
    embeddings.select(col("vec_id").cast("long").as("vec_id"))
      .join(cc, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("canonical_id"), col("vec_id")).as("canonical_id"))
      .withColumn("is_kept", col("vec_id") === col("canonical_id"))
  }

  // ------------------------------------- span-level decontamination / DSIR

  /** Span-level benchmark decontamination — the GPT-3-appendix-C rule
    * (Brown et al. 2020, §C; also Llama/PaLM data cards): instead of
    * dropping a whole contaminated document ([[contamination]]), remove
    * exactly the token spans that collide with a benchmark n-gram and keep
    * the rest. A token at position i is removed iff some doc n-gram
    * starting at p with p <= i <= p+n-1 also occurs anywhere in the
    * benchmark set. Returns (doc_id, n_toks, n_removed, clean_text).
    *
    * 100 TB shape: the benchmark n-gram set is eval-suite-sized and
    * broadcasts, so the corpus side never shuffles to FIND collisions —
    * only the hit positions (a tiny fraction of docs) pass through one
    * groupBy(doc_id), and the per-doc hit lists broadcast back onto the
    * corpus scan. The span surgery itself is a per-row codegen'd
    * filter-with-index — no second pass over clean documents.
    */
  def decontaminateSpans(docs: DataFrame, benchDocs: DataFrame, n: Int = 3,
      broadcastHits: Boolean = true): DataFrame = {
    // guard: Spark's sequence(1, 0) counts DOWN, so docs shorter than n
    // tokens must short-circuit to an empty gram list
    val gramsExpr = s"case when size(toks) >= $n then " +
      s"transform(sequence(1, size(toks) - ${n - 1}), " +
      s"i -> concat_ws(' ', slice(toks, i, $n))) else array() end"
    val toksDf = withTokens(docs)
    // positional n-grams on the corpus side; posexplode pos is 0-based so
    // token start position (1-based) = pos + 1
    val grams = toksDf
      .select(col("doc_id"), posexplode(expr(gramsExpr)).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("g"))
    val benchGrams = withTokens(benchDocs)
      .select(explode(expr(gramsExpr)).as("g")).distinct()
    val bad = grams.join(broadcast(benchGrams), "g")
      .groupBy("doc_id").agg(collect_set(col("pos")).as("bad"))
    // `bad` holds only contaminated docs (rare by construction at release
    // time); broadcast it back rather than shuffling the corpus on doc_id.
    // If a dirty corpus makes the hit-list set itself unbounded, pass
    // broadcastHits=false: the doc_id equi-join shuffles instead (AQE picks
    // broadcast back up when stats allow)
    toksDf.join(if (broadcastHits) broadcast(bad) else bad, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
        expr(s"filter(toks, (x, i) -> bad IS NULL OR " +
          s"NOT exists(bad, p -> p <= i + 1 AND i + 1 <= p + ${n - 1}))").as("kept"))
      .select(col("doc_id"), col("n_toks"),
        (col("n_toks") - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** Exact-substring SELF-deduplication — the ExactSubstr rule of Lee et
    * al. 2021 ("Deduplicating Training Data Makes Language Models Better",
    * §4.1): any token span of at least `minLen` tokens whose content occurs
    * more than once in the corpus (across documents OR repeated inside one)
    * is duplicated text, and every occurrence is removed (the released
    * suffix-array tool's behavior — no occurrence is privileged, which
    * keeps the rule order-independent and deterministic under any
    * partitioning). A token at 1-based position i survives iff no
    * duplicated `minLen`-gram starting at p covers it (p <= i <= p+minLen-1);
    * maximal duplicated spans longer than `minLen` fall out automatically
    * because each of their windows is itself duplicated. Returns
    * (doc_id, n_toks, n_removed, clean_text).
    *
    * 100 TB shape — this is the distributed analog of the paper's
    * suffix-array pass, with shuffle playing the role of the sort: one row
    * per token position carrying a 16-byte md5 of its window (windows
    * hashed map-side inside codegen; the token text itself never shuffles),
    * a partial-aggregated groupBy(hash) marks duplicated windows, and the
    * position rows join back to that set — broadcast when the duplicated
    * slice is release-grade small (`broadcastDup`), else an equi-join AQE
    * can skew-split (boilerplate windows are exactly the hot keys). Hit
    * lists then ride the same groupBy(doc_id) + broadcast-back + indexed
    * `filter` surgery as [[decontaminateSpans]], so clean documents are
    * touched by nothing but the map-side hash pass.
    */
  def exactSubstrDedup(docs: DataFrame, minLen: Int = 50,
      broadcastDup: Boolean = true, broadcastHits: Boolean = true): DataFrame = {
    val L = minLen
    // sequence(1, 0) counts DOWN: docs shorter than L tokens have no windows
    val gramsExpr = s"case when size(toks) >= $L then " +
      s"transform(sequence(1, size(toks) - ${L - 1}), " +
      s"i -> md5(concat_ws(' ', slice(toks, i, $L)))) else array() end"
    val toksDf = withTokens(docs)
    val grams = toksDf
      .select(col("doc_id"), posexplode(expr(gramsExpr)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
    val dup = grams.groupBy("h").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).select("h")
    val hits = grams.join(if (broadcastDup) broadcast(dup) else dup, "h")
    val bad = hits.groupBy("doc_id").agg(collect_set(col("pos")).as("bad"))
    toksDf.join(if (broadcastHits) broadcast(bad) else bad, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
        expr(s"filter(toks, (x, i) -> bad IS NULL OR " +
          s"NOT exists(bad, p -> p <= i + 1 AND i + 1 <= p + ${L - 1}))").as("kept"))
      .select(col("doc_id"), col("n_toks"),
        (col("n_toks") - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** Crawl-text normalization over a column (see
    * [[graft.functions.NormalizeText]]): NFC + C0/DEL→space + ASCII-space
    * run collapse + trim, one codegen'd pass, no shuffle. Run FIRST in a
    * pipeline so every downstream fingerprint/shingle sees canonical bytes.
    */
  def normalizeText(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("norm_text",
      graft.functions.NormalizeText.normalize_text(col(textCol)))

  /** DSIR-style importance weights — Data Selection via Importance
    * Resampling (Xie et al. 2023, NeurIPS): score every document by the
    * log-likelihood ratio of its tokens under a TARGET unigram LM (docs
    * matching `isTarget` — the high-quality / in-domain slice) versus the
    * RAW corpus LM. weight_bits = sum over tokens of
    * (surprise_raw − surprise_target); positive = more target-like, and
    * resampling keeps the top slice. Integer-exact like [[lmSurprise]]
    * (floor-log2 via `length(bin(x))-1`, no floating-point log), with
    * add-one smoothing on the target LM (a raw-corpus token may be absent
    * from the target slice): surprise_t = floor(log2((total_t + V) /
    * (cnt_t + 1))), V = raw vocabulary size.
    *
    * Returns (doc_id, n_toks, sum_bits_raw, sum_bits_target, weight_bits).
    *
    * 100 TB shape: BOTH LMs come out of ONE groupBy(tok) pass (the target
    * count is a conditional sum in the same aggregate), map-side combine
    * collapses hot tokens per task; scoring joins each token to the LM row
    * (broadcast when the LM vocabulary is bounded — the DSIR paper's
    * hashed-feature case — else a shuffle join AQE can skew-split), and the
    * three scalar totals ride a one-row broadcast cross join.
    */
  def dsirWeights(docs: DataFrame, isTarget: Column,
      broadcastLm: Boolean = true): DataFrame = {
    val toks = withTokens(docs).withColumn("is_t", isTarget)
      .select(col("doc_id"), col("is_t"), explode(col("toks")).as("tok"))
    val lm = toks.groupBy("tok").agg(
      count(lit(1)).as("cnt_r"),
      sum(when(col("is_t"), lit(1L)).otherwise(lit(0L))).as("cnt_t"))
    val totals = lm.agg(sum("cnt_r").as("total_r"), sum("cnt_t").as("total_t"),
      count(lit(1)).as("vocab"))
    val scored = toks
      .join(if (broadcastLm) broadcast(lm) else lm, "tok")
      .crossJoin(broadcast(totals))
      .withColumn("bits_r", (length(bin(expr("total_r div cnt_r"))) - 1).cast("long"))
      .withColumn("bits_t",
        (length(bin(expr("(total_t + vocab) div (cnt_t + 1)"))) - 1).cast("long"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_toks"),
        sum("bits_r").as("sum_bits_raw"), sum("bits_t").as("sum_bits_target"))
      .withColumn("weight_bits", col("sum_bits_raw") - col("sum_bits_target"))
  }

  /** Subword (BPE) tokenization over the corpus — see
    * [[graft.functions.BpeKernel]]: per-doc subword pieces and the real
    * token budget (`n_bpe_tokens`) that sequence packing and mixture
    * budgeting should count instead of whitespace tokens. Pure map stage
    * (the merge table ships with the plan), no shuffle.
    */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    docs.withColumn("bpe_toks",
        graft.functions.BpeOps.bpe_tokens(col("text"), merges))
      .withColumn("n_bpe_tokens", size(col("bpe_toks")).cast("long"))

  /** BPE vocabulary TRAINING (Sennrich, Haddow & Birch, ACL 2016 §3.2) —
    * the learn-merges side of [[bpeEncode]]: start from characters, then
    * `numMerges` times pick the corpus-wide most-frequent adjacent symbol
    * pair (ties: count desc, then pair lexicographic — deterministic) and
    * merge every non-overlapping leftmost occurrence. Returns the ranked
    * merge table (p, c, pair_count) ready for [[bpeEncode]] /
    * `functions.BpeOps.bpe_tokens`.
    *
    * 100 TB shape: training never iterates the corpus — it runs on the
    * (distinct word, count) frame, which one groupBy with map-side combine
    * produces and which is vocabulary-sized (millions of rows for a crawl,
    * not billions of docs). Each merge round is one small job over that
    * frame: a per-row codegen pair `transform` + groupBy + a 1-row argmax
    * collect, then a per-row fold rewrite (`aggregate` over the symbol
    * list with a string accumulator — leftmost non-overlapping, the
    * paper's replace semantics). Rounds `localCheckpoint` so lineage stays
    * flat across `numMerges` iterations. The driver holds only the merge
    * table — the same bounded-model-artifact pattern as [[ivfTopK]]'s
    * centroid training. Real pipelines additionally bound the word frame
    * by training on a sample; pass a pre-sampled `docs` for that.
    *
    * One merge per round: BENCH.md's "BPE fair chance" row measured
    * accepting several provably-sequential merges per round on a
    * pair-job-dominated 1.1M-word table, and it saved too few rounds to
    * pay for itself.
    */
  def bpeTrain(docs: DataFrame, numMerges: Int): Seq[(String, String, Long)] = {
    val words = withTokens(docs)
      .select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(concat_ws(" ", expr("filter(split(w, ''), x -> x <> '')")).as("syms"),
        col("cnt"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    // lazy checkpoints: each round's top-pair collect is the ONE action
    var cur = words.localCheckpoint(eager = false)
    var exhausted = false
    while (merges.size < numMerges && !exhausted) {
      // split once per row, then pair each symbol with its successor
      val top = cur
        .select(col("cnt"), split(col("syms"), " ").as("a"))
        .select(col("cnt"), explode(expr(
          "zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1)," +
            " (x, y) -> struct(x AS p, y AS c))")).as("pr"))
        .groupBy(col("pr.p").as("p"), col("pr.c").as("c"))
        .agg(sum("cnt").as("n"))
        .orderBy(col("n").desc, col("p"), col("c"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true // every word fully merged
      else {
        val (p, c) = (top(0).getString(0), top(0).getString(1))
        merges += ((p, c, top(0).getLong(2)))
        val sy = split(col("syms"), " ")
        cur = cur.withColumn("syms",
          aggregate(slice(sy, lit(2), greatest(size(sy) - 1, lit(0))),
            element_at(sy, 1),
            (acc0, x) =>
              when(x === lit(c) && (acc0 === lit(p) || acc0.endsWith(lit(" " + p))),
                concat(acc0, lit(c))).otherwise(concat(acc0, lit(" "), x))))
          .localCheckpoint(eager = false)
      }
    }
    merges.toSeq
  }

  /** [[bpeTrain]] as a (rank, p, c, pair_count) DataFrame. */
  def bpeTrainDf(docs: DataFrame, numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrain(docs, numMerges).zipWithIndex
      .map { case ((p, c, n), i) => (i + 1L, p, c, n) }
      .toDF("rank", "p", "c", "pair_count")
  }

  /** Linear text-classifier inference — the quality-classifier scoring
    * step of the GPT-3 / LLaMA data pipelines (logistic regression /
    * fastText-style linear model over bag-of-words features; Brown et al.
    * 2020 §A, Touvron et al. 2023): given a trained weight table
    * `weights(tok, w)` (integer fixed-point weights) and a bias, score
    * every document with `bias + Σ w(tok)` (absent tokens weigh 0) plus a
    * length-normalized `mean_milli = score*1000 div n_toks`. The sigmoid /
    * keep-threshold on top is monotone in the score, so filtering
    * decisions are exactly reproducible from these integers — no float in
    * the pipeline.
    *
    * 100 TB shape: the model broadcasts (a hashed-feature classifier is
    * MBs) so the corpus never shuffles to be scored — one explode, a
    * broadcast hash join, and a map-side-combinable groupBy(doc_id). For
    * an unbounded vocabulary pass `broadcastWeights = false` (shuffle
    * join; AQE skew-splits hot tokens).
    */
  def classifierScore(docs: DataFrame, weights: DataFrame, bias: Long = 0L,
      broadcastWeights: Boolean = true): DataFrame = {
    val toks = withTokens(docs).select(col("doc_id"), explode(col("toks")).as("tok"))
    val w = weights.select(col("tok"), col("w"))
    toks.join(if (broadcastWeights) broadcast(w) else w, Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_toks"),
        (sum(coalesce(col("w"), lit(0L))) + bias).cast("long").as("score"))
      .withColumn("mean_milli", expr("(score * 1000) div n_toks"))
  }

  // ------------------------------------ Bloom-prefiltered incremental dedup

  /** Incremental cross-corpus dedup — the continuous-crawl step: given a
    * NEW batch and an EXISTING corpus, keep only new docs whose exact text
    * is not already in the corpus. Returns the surviving (doc_id) rows.
    *
    * 100 TB shape (the reason this isn't just an anti-join): a plain
    * `left_anti` shuffles the ENTIRE new batch and the ENTIRE corpus
    * fingerprint set on every increment. Here a Bloom filter over the
    * corpus fingerprints (built in one corpus pass, ~1.2 MB per million
    * docs at 1% fpp) broadcasts to the new batch; docs the filter rejects
    * are DEFINITELY new (no false negatives over fp = xxhash64(text)) and
    * never shuffle — only the might-contain slice (true dups + fpp) goes
    * through an exact text-level anti-join, and the CORPUS side of that
    * anti-join is itself pre-pruned by a broadcast semi-join on the hit
    * slice's fingerprints, so shuffle volume ON BOTH SIDES scales with
    * the dup rate, not the batch or corpus size. Same result as the plain
    * anti-join, bit for bit; the filter and the fp semi-join only route.
    *
    * `broadcastHitFps = false` is the escape hatch for the pathological
    * increment (re-ingesting a near-copy of the corpus): the hit-fp set is
    * then corpus-sized and would blow the driver broadcast, so the fp
    * semi-join runs as a shuffle join instead — still fp-sized bytes on
    * the wire, never corpus text (the [[dsirWeights]] `broadcastLm=false`
    * pattern). Output is identical on both paths.
    */
  def bloomNewDocs(newDocs: DataFrame, corpus: DataFrame,
      expectedItems: Long = 1000000L, fpp: Double = 0.01,
      broadcastHitFps: Boolean = true): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftshim.ColumnShim
    val bf = corpus.select(xxhash64(col("text")).as("fp"))
      .stat.bloomFilter("fp", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val fpNew = newDocs.withColumn("fp", xxhash64(col("text")))
    val might = ColumnShim.column(BloomFilterMightContain(
      Literal(bos.toByteArray, org.apache.spark.sql.types.BinaryType),
      ColumnShim.expression(col("fp"))))
    val definiteNew = fpNew.where(!might)
    // bloom hit -> verify on the TEXT itself (exactness never rests on a
    // 64-bit hash). The corpus side of that verify is pre-pruned by the
    // hit slice's 8-byte fingerprints FIRST: the hit-fp set is
    // dup-rate-of-the-increment-sized, so it broadcasts and the corpus
    // scan drops every non-colliding row in place — the corpus text
    // column never shuffles (a bare corpus.distinct() here would be a
    // full-corpus text shuffle no matter how small the hit slice).
    // Only fp-colliding corpus rows (true dups + the bloom's fpp worth
    // of 64-bit collisions) surface their text into the exact anti-join.
    val hits = fpNew.where(might)
    val hitFps = hits.select(col("fp")).distinct()
    val collidingTexts = corpus
      .select(col("text"), xxhash64(col("text")).as("fp"))
      .join(if (broadcastHitFps) broadcast(hitFps) else hitFps,
        Seq("fp"), "left_semi")
      .select(col("text")).distinct()
    val verifiedNew = hits.join(collidingTexts, Seq("text"), "left_anti")
    definiteNew.select("doc_id").unionByName(verifiedNew.select("doc_id"))
  }

  /** End-to-end curation funnel — the composed shape a real corpus release
    * runs: every doc gets the FIRST pipeline stage that drops it (or
    * 'kept'), in the canonical order quality-rules → line-cleaning →
    * repetition → benchmark decontamination. Each stage is the existing
    * proven op ([[gopherQuality]], [[c4LineFilter]], [[repetitionScore]],
    * [[contamination]]); this composition adds only the attribution.
    *
    * 100 TB shape: the three rule stages are per-row codegen maps emitting
    * (doc_id, bool) frames — their doc_id joins shuffle a handful of bytes
    * per doc, never text (the same volume class as exact dedup's
    * (fp, doc_id) shuffle); the benchmark side broadcasts inside
    * [[contamination]], so the corpus never reshuffles for it.
    */
  def curationFunnel(docs: DataFrame, benchDocs: DataFrame,
      dupFracMax: Double = 0.3, minShared: Int = 3): DataFrame = {
    val gk = gopherQuality(docs).select(col("doc_id"), col("keep").as("gopher_keep"))
    val ck = c4LineFilter(docs).select(col("doc_id"), col("keep").as("c4_keep"))
    val rk = repetitionScore(docs).select(col("doc_id"),
      (col("dup_ngram_frac") <= dupFracMax).as("rep_keep"))
    val contam = contamination(docs, benchDocs, minShared)
      .select("doc_id").distinct().withColumn("contam_hit", lit(true))
    docs.select("doc_id")
      .join(gk, Seq("doc_id"), "left")
      .join(ck, Seq("doc_id"), "left")
      .join(rk, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(!coalesce(col("gopher_keep"), lit(false)), lit("gopher"))
          .when(!coalesce(col("c4_keep"), lit(false)), lit("c4"))
          .when(!coalesce(col("rep_keep"), lit(false)), lit("repetition"))
          .when(coalesce(col("contam_hit"), lit(false)), lit("contaminated"))
          .otherwise(lit("kept")).as("stage"))
  }

  /** Shared md5 bucket arithmetic (Spark dialect) — 32 hex bits of
    * md5(doc_id || '#' || salt) as a BIGINT, the same value
    * `OracleSql` rebuilds in DuckDB. Row-wise deterministic: no RNG state,
    * no partitioning dependence, reproducible across engines and runs.
    */
  private def md5Key(salt: String): Column =
    expr(s"cast(conv(substr(md5(concat(cast(doc_id as string), '#$salt')), 1, 8), 16, 10) as bigint)")

  /** Deterministic train/val/test assignment — the split every training
    * pipeline freezes before anything else touches the corpus. The label is
    * pure per-row hash arithmetic on (doc_id, salt): permille buckets of
    * the md5 key, `test` lowest, then `val`, remainder `train`. Changing
    * `salt` draws an independent split; nothing shuffles, the whole op is
    * one codegen projection, and membership never drifts when the corpus
    * is repartitioned or appended to (a doc's label depends only on its id).
    */
  def hashSplit(docs: DataFrame, valPermille: Int = 10, testPermille: Int = 10,
      salt: String = "split"): DataFrame = {
    require(valPermille >= 0 && testPermille >= 0 && valPermille + testPermille <= 1000)
    val bucket = pmod(md5Key(salt), lit(1000L))
    docs.select(col("doc_id"),
      when(bucket < testPermille, lit("test"))
        .when(bucket < testPermille + valPermille, lit("val"))
        .otherwise(lit("train")).as("split"))
  }

  /** Reproducible global shuffle — the training-order permutation
    * (position of each doc in the shuffled epoch), deterministic from
    * (doc_id, salt) alone. Order = (md5 key, doc_id); the POSITION is
    * computed without a global sort or single-reducer window: the top bits
    * of the uniform hash key bucket the rows (buckets are balanced by
    * construction), a bucket-partitioned window ranks within each bucket,
    * and the per-bucket counts (≤4096 rows) take one tiny single-partition
    * prefix sum broadcast back — the same two-level machinery as
    * [[tokenShards]]. Returns (doc_id, shuffle_pos), a permutation of
    * 0..n-1.
    */
  def globalShuffle(docs: DataFrame, salt: String = "shuffle"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = docs.select(col("doc_id"), md5Key(salt).as("h"))
      .withColumn("b", expr("h div 1048576")) // 2^32 / 2^20 = 4096 buckets
    val inBucket = row_number()
      .over(Window.partitionBy("b").orderBy(col("h"), col("doc_id")))
    val bucketPrefix = keyed.groupBy("b").agg(count(lit(1)).as("bn"))
      .withColumn("bp", sum(col("bn")).over(Window.orderBy("b")) - col("bn"))
      .select("b", "bp")
    keyed.join(broadcast(bucketPrefix), "b")
      .select(col("doc_id"),
        (col("bp") + inBucket.cast("long") - 1L).as("shuffle_pos"))
  }

  // ------------------------------------------------------------ link graph

  /** PageRank over a (src, dst) edge list — the host-level link-authority
    * prior web pipelines attach to crawl curation (the Common Crawl
    * host-ranking / RefinedWeb "domain quality" signal; Page et al. 1999).
    *
    * Semantics (deterministic): the graph is simplified first (parallel
    * edges collapse, self-loops drop); `rank_0 = 1/|V|`; each iteration
    *   `rank(v) = (1-d)/|V| + d * (Σ_{u→v} rank(u)/outdeg(u) + dangling/|V|)`
    * where `dangling` is the rank mass sitting on nodes with no out-edges
    * (redistributed uniformly, the standard correction that keeps Σrank=1).
    *
    * 100 TB shape: the rank frame is NODE-sized, not corpus-sized; each
    * iteration is one equi-join of edges with ranks on src (AQE broadcasts
    * the rank side when hosts are few) plus a map-side-combined
    * groupBy(dst) sum, and one scalar aggregate for the dangling mass.
    * `localCheckpoint` truncates the iterative lineage (the
    * [[bpeTrainDf]] precedent). No collect of nodes or edges ever happens
    * on the driver.
    *
    * Cross-engine determinism caveat (known, accepted): ranks are float
    * sums whose partial-aggregation order differs between engines and
    * partitionings, so the oracle contract rounds to 6 dp. That absorbs
    * the observed noise (≤1e-13 on node-sized graphs) but is NOT a proof:
    * a rank landing within ~5e-7 of a rounding boundary under a different
    * core count could flip the printed digit. The driver queries pin a
    * fixed partitioning; GraphClusterSpec's invariance test guards the
    * shapes we ship. A boundary-proof contract would need an
    * epsilon-tolerant comparator on the harness side (the hash compare is
    * exact by design), so the 6 dp law + this note is the documented
    * trade.
    */
  def pageRank(edges: DataFrame, iters: Int = 3, damping: Double = 0.85): DataFrame = {
    // all checkpoints LAZY: lineage still truncates for planning, but the
    // blocks materialize inside the next action that reads them — one
    // driver round-trip per iteration (the dangling-mass agg) instead of
    // two (agg + eager checkpoint job)
    val e = edges.select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst"))
      .where(col("src") =!= col("dst")).distinct()
      .localCheckpoint(eager = false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(eager = false)
    val n = nodes.count().toDouble
    val outdeg = e.groupBy("src").agg(count(lit(1)).cast("double").as("outdeg"))
      .localCheckpoint(eager = false)
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
      .localCheckpoint(eager = false)
    var it = 0
    while (it < iters) {
      val dangling = ranks.join(outdeg, ranks("node") === outdeg("src"), "left_anti")
        .agg(coalesce(sum("rank"), lit(0.0))).head().getDouble(0)
      val contribs = e.join(ranks.withColumnRenamed("node", "src"), "src")
        .join(outdeg, "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") / col("outdeg")).as("s"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("s"), lit(0.0)) + lit(dangling / n)))
            .as("rank"))
        .localCheckpoint(eager = false)
      it += 1
    }
    ranks
  }

  // ------------------------------------------------------- embedding k-means

  /** Nearest centroid under the shared cross-engine tie law: squared L2
    * distance rounded to 6 dp (absorbs double-summation-order noise between
    * engines), ties to the LOWEST cluster id.
    */
  private def nearestCentroid(cs: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var ci = 0
    while (ci < cs.length) {
      val dr = math.rint(sqDist(v, 0, cs(ci), 0, v.length) * 1e6) / 1e6
      if (dr < bestD) { bestD = dr; best = ci }
      ci += 1
    }
    best
  }

  /** Distributed Lloyd's k-means over an embedding column — the topic /
    * domain clustering step of data-mixing pipelines (cluster-then-balance,
    * e.g. SemDeDup's and DataComp's cluster stages). Deterministic end to
    * end: init centroids are the vectors of the `k` LOWEST ids (bounded
    * TakeOrderedAndProject, no RNG), assignment uses the 6-dp-rounded
    * squared-distance tie law of [[nearestCentroid]] (lowest cluster wins
    * ties) so an independent engine replays it exactly, and `iters` full
    * update rounds run before the final assignment. Empty clusters keep
    * their previous centroid.
    *
    * 100 TB shape: centroids (k×dim doubles) broadcast; each update round
    * is ONE `mapPartitions` pass that assigns and accumulates per-partition
    * partial (count, Σvec) per cluster — k×(dim+1) doubles per task, so
    * only P×k tiny rows reach the driver (the MLlib KMeans shape); the
    * corpus never shuffles. Returns (idCol, cluster).
    */
  def kmeansAssign(embeddings: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    require(k >= 1 && iters >= 0)
    val e = embeddings.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v")).as[(Long, Array[Double])]
    var cents: Array[Array[Double]] =
      e.orderBy("id").limit(k).collect().sortBy(_._1).map(_._2)
    require(cents.nonEmpty, "kmeansAssign needs at least one vector")
    val dim = cents(0).length
    var round = 0
    while (round < iters) {
      val bc = spark.sparkContext.broadcast(cents)
      val partials = e.mapPartitions { it =>
        val cs = bc.value
        val cnt = new Array[Long](cs.length)
        val sums = Array.ofDim[Double](cs.length, dim)
        it.foreach { case (_, v) =>
          val c = nearestCentroid(cs, v)
          cnt(c) += 1
          var j = 0; while (j < dim) { sums(c)(j) += v(j); j += 1 }
        }
        Iterator.tabulate(cs.length)(ci => (ci, cnt(ci), sums(ci)))
      }.collect()
      val byC = partials.groupBy(_._1)
      cents = Array.tabulate(cents.length) { ci =>
        val parts = byC.getOrElse(ci, Array.empty)
        val n = parts.map(_._2).sum
        if (n == 0L) cents(ci) // empty cluster: centroid unchanged
        else {
          val s = new Array[Double](dim)
          parts.foreach { case (_, _, ps) =>
            var j = 0; while (j < dim) { s(j) += ps(j); j += 1 }
          }
          var j = 0; while (j < dim) { s(j) /= n; j += 1 }
          s
        }
      }
      round += 1
    }
    val bc = spark.sparkContext.broadcast(cents)
    e.mapPartitions { it =>
      val cs = bc.value
      it.map { case (id, v) => (id, nearestCentroid(cs, v).toLong) }
    }.toDF(idCol, "cluster")
  }

  /** Cluster-balanced subsampling — downsample every cluster to (about) the
    * size of the SMALLEST one, the balance step after topic clustering
    * (keeps one dominant topic from swamping the mixture). Deterministic
    * md5-permille keep decision per row (the [[stratifiedSample]] rule,
    * keyed on the id column + salt), so membership is reproducible across
    * engines, runs and repartitionings; per-cluster keep fraction =
    * `floor(1000·minSize/size)` permille. Cluster sizes are one tiny
    * groupBy broadcast back — the corpus never shuffles. Returns the kept
    * (idCol, cluster) rows.
    */
  def clusterBalancedSample(assign: DataFrame, idCol: String = "vec_id",
      salt: String = "balance"): DataFrame = {
    val sizes = assign.groupBy("cluster").agg(count(lit(1)).as("csize"))
    val minSize = min(col("csize")).over(org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)))
    val permille = sizes.select(col("cluster"),
      floor(lit(1000L) * minSize / col("csize")).as("pm"))
    val bucket = expr(
      s"cast(conv(substr(md5(concat(cast($idCol as string), '#$salt')), 1, 8), 16, 10) as bigint) % 1000")
    assign.join(broadcast(permille), "cluster")
      .where(bucket < col("pm"))
      .select(col(idCol), col("cluster"))
  }

  // ----------------------------------------------------------- kNN graph

  /** Exact k-nearest-neighbor graph over the embedding column — the
    * all-rows generalization of [[cosineTopKBatch]] and the standard
    * building block for graph-based corpus clustering (SemDeDup-style
    * cluster stages, label propagation, diversity analysis). For every
    * vector: its `k` highest-cosine neighbors (self excluded), ties to the
    * lower neighbor id.
    *
    * Shape: the [[embeddingNearDupPairs]] block-pair kernel, but each of
    * the B(B+1)/2 block-pair tasks keeps per-row bounded top-k heaps for
    * BOTH blocks (memory = blockRows × k per task) instead of thresholded
    * pairs, so only n×B×k candidate rows reach the per-vector merge
    * (window rank ≤ k) — never the n² score matrix. Still the exact O(n²)
    * flops pass at memory bandwidth; the sub-quadratic 100 TB path is the
    * same heap kernel run within [[ivfAssignments]] cells.
    */
  def knnGraph(embeddings: DataFrame, k: Int, blocks: Int = 0): DataFrame = {
    import embeddings.sparkSession.implicits._
    requirePositive("k" -> k)
    rankCut(gridPairs(embeddings, blocks)((a, b) => topK(a, b, gridMode(a, b), both = true, k))
      .toDF("vec_id", "nb_id", "c"), "vec_id", "nb_id", k)
  }

  /** Approximate kNN graph through IVF cells — the sub-quadratic 100 TB
    * path [[knnGraph]] documents, as real code: vectors bucket into
    * [[ivfAssignments]] coarse cells; each vector PROBES its own `nprobe`
    * nearest cells and exact-scores only those cells' members (the FAISS
    * IVF recipe applied all-rows). Work drops from n²/2 to
    * ≈ n·nprobe·(n/C) dot products, and every (probe-cell, member-cell)
    * pairing is one bounded block-kernel task — per-prober heaps, corpus
    * rows never shuffle beyond the cell bucketing. Ties and output shape
    * match [[knnGraph]]; recall@k vs the exact graph is spec-gated
    * (GraphClusterSpec), same regime as the ANN point-query variants.
    */
  def knnGraphIvf(embeddings: DataFrame, k: Int, nCentroids: Int = 16,
      nprobe: Int = 4): DataFrame = {
    import embeddings.sparkSession.implicits._
    requirePositive("k" -> k, "nCentroids" -> nCentroids, "nprobe" -> nprobe)
    val (assigned, centers) = ivfAssignments(embeddings, nCentroids)
    rankCut(probePairs(embeddings, assigned, centers, nprobe)(
      (p, m) => topK(p, m, SkipSelf, both = false, k)).toDF("vec_id", "nb_id", "c"),
      "vec_id", "nb_id", k)
  }

  /** Contrastive pair mining for embedding-model training — per anchor:
    * up to `kPos` POSITIVES (highest cosine inside [posLo, posHi) — the
    * ceiling excludes near-exact duplicates, which teach nothing) and up
    * to `kNeg` HARD NEGATIVES (highest cosine inside [negLo, negHi) — the
    * just-below-the-band examples that make contrastive training work;
    * Xiong et al. 2021 (ANCE) / the E5 recipe). Ties to the lower pair
    * id; ranks are per-(anchor, kind).
    *
    * Same execution shape as [[knnGraph]]: block-pair kernel holding TWO
    * bounded heaps per row (one per band), so n×B×(kPos+kNeg) candidate
    * rows reach the per-anchor window merge — never the n² matrix.
    *
    * The sub-quadratic 100 TB path is a one-argument swap (the same
    * contract [[semDedup]] and [[mutualKnnClusters]] expose): pass
    * `candidatePairs` — any (ia, ib) undirected edge frame, e.g.
    * [[embeddingNearDupPairsIvf]] with `threshold = negLo` (the SemDeDup
    * within-cell recipe, flops n²/C instead of n²) — and the banding +
    * per-anchor ranking run over those candidates instead of the
    * all-pairs kernel. Candidate cosines are recomputed at FULL double
    * precision with [[cosineExpr]] (bit-identical fold to the kernels),
    * so banding and rank order agree with the exact path on every shared
    * pair — feeding the complete pair set reproduces the exact output
    * (RecallGateSpec). The candidate frame should be pre-thresholded at
    * the lowest band floor so its volume is band-hit-sized, not
    * cell-pair-sized; recall vs the exact kernel is gated by the
    * q_contrastive_pairs_ivf driver row. Returns
    * (vec_id, pair_id, cos, kind, rank).
    */
  def contrastivePairs(embeddings: DataFrame, kPos: Int, posLo: Double,
      posHi: Double, kNeg: Int, negLo: Double, negHi: Double,
      blocks: Int = 0, candidatePairs: Option[DataFrame] = None): DataFrame = {
    require(posLo <= posHi && negLo <= negHi && negHi <= posLo,
      "bands must be ordered: [negLo,negHi) below [posLo,posHi)")
    import embeddings.sparkSession.implicits._
    val cand = candidatePairs match {
      case Some(p) =>
        // symmetric expansion (each undirected candidate pair serves both
        // anchors), de-dup (a multi-probe source may emit a pair once per
        // shared cell), exact rescoring through the shared cosine fold,
        // band classification, then the same per-(anchor, kind) window
        // cut as the exact path — candidate volume is band-bounded, so
        // the shuffles here move candidate-sized frames only
        val sym = p.select(col("ia").as("vec_id"), col("ib").as("pair_id"))
          .unionByName(p.select(col("ib").as("vec_id"), col("ia").as("pair_id")))
          .dropDuplicates(Seq("vec_id", "pair_id"))
        val ev = vectors(embeddings)
        sym
          .join(ev.select(col("vec_id"), col("v").as("va")), Seq("vec_id"))
          .join(ev.select(col("vec_id").as("pair_id"), col("v").as("vb")), Seq("pair_id"))
          .withColumn("c", cosineExpr(col("va"), col("vb")))
          .withColumn("kind",
            when(col("c") >= posLo && col("c") < posHi, "pos")
              .when(col("c") >= negLo && col("c") < negHi, "neg"))
          .where(col("kind").isNotNull)
      case None =>
        // the exact all-pairs kernel: per row, heap slot 0 keeps the
        // positives and slot 1 the hard negatives
        gridPairs(embeddings, blocks) { (a, b) =>
          val mode = gridMode(a, b)
          val heaps = new TopHeaps(a, if (mode == Upper) a else b, Array(kPos, kNeg),
            c => if (c >= posLo && c < posHi) 0 else if (c >= negLo && c < negHi) 1 else -1)
          pairLoop(a, b, mode, heaps)
          heaps.rows.map { case (id, pid, c, s) => (id, pid, c, if (s == 0) "pos" else "neg") }
        }.toDF("vec_id", "pair_id", "c", "kind")
    }
    cand
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("vec_id"), col("kind")).orderBy(col("c").desc, col("pair_id"))))
      .where((col("kind") === "pos" && col("rank") <= kPos) ||
        (col("kind") === "neg" && col("rank") <= kNeg))
      .select(col("vec_id"), col("pair_id"), round(col("c"), 4).as("cos"),
        col("kind"), col("rank").cast("long").as("rank"))
  }

  /** Mutual-kNN graph clustering — corpus clustering WITHOUT choosing k:
    * keep only edges where both endpoints list each other in their top-k
    * ([[knnGraph]] both directions — the standard density trick that cuts
    * hub links between unrelated regions), then fold the mutual edges into
    * clusters with the proven [[connectedComponents]] large-star/small-star
    * closure; cluster id = smallest member id (singletons are their own
    * cluster). Same volume classes as its two building blocks: n×B×k
    * candidates for the graph, O(log n) CC rounds over edge-sized frames.
    * Pass `graph` (any (vec_id, nb_id) edge frame, e.g. [[knnGraphIvf]]
    * output) to swap in the sub-quadratic candidate source with one
    * argument — the default stays the exact [[knnGraph]] kernel.
    * Returns (idCol, cluster_id).
    */
  def mutualKnnClusters(embeddings: DataFrame, k: Int, blocks: Int = 0,
      graph: Option[DataFrame] = None): DataFrame = {
    val g = graph.getOrElse(knnGraph(embeddings, k, blocks))
      .select(col("vec_id"), col("nb_id"))
    val mutual = mutualEdges(g).select(col("ia").as("vec_id"), col("ib").as("nb_id"))
    dedupResolve(embeddings.select(col("vec_id").as("doc_id")),
        mutual.select(col("vec_id").as("ia"), col("nb_id").as("ib")))
      .select(col("doc_id").as("vec_id"), col("canonical_id").as("cluster_id"))
  }

  /** The mutual (bidirectional) edge set of a directed kNN graph — the
    * edge rule of [[mutualKnnClusters]], exposed so gate rows can compare
    * the IVF graph's mutual edges against the exact graph's (mutual-EDGE
    * recall concentrates over thousands of edges and is stable across
    * corpus draws, unlike closure LABEL agreement, where one missed chain
    * edge cascades min-label disagreement across a whole component).
    * Returns (ia, ib[, cos]) with ia < ib; the cos column (the u→v
    * direction's score) rides along when present.
    */
  def mutualEdges(g: DataFrame): DataFrame = {
    val rev = g.select(col("nb_id").as("vec_id"), col("vec_id").as("nb_id"))
    g.join(rev, Seq("vec_id", "nb_id"), "left_semi")
      .where(col("vec_id") < col("nb_id"))
      .withColumnRenamed("vec_id", "ia").withColumnRenamed("nb_id", "ib")
  }

  /** Host-level prior table — the per-host curation frame a web pipeline
    * materializes before doc-level filtering (RefinedWeb-style host
    * quality): per host, doc/token/char volume joined with the
    * [[pageRank]] link-authority score. One map-side-combined
    * groupBy(host) over the corpus plus one equi-join with the node-sized
    * rank frame (broadcast when hosts are few); hosts absent from the
    * link graph keep a null rank. Returns (host, n_docs, n_tokens,
    * avg_chars, host_rank).
    */
  def hostPriors(docs: DataFrame, ranks: DataFrame,
      urlCol: String = "url"): DataFrame = {
    val host = lower(regexp_extract(col(urlCol),
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1))
    docs.select(host.as("host"),
        expr(s"cast(size($TokensExprSpark) as bigint)").as("n"),
        length(col("text")).cast("long").as("chars"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"),
        round(avg("chars"), 4).as("avg_chars"))
      .join(ranks.select(col("node").as("host"), col("rank")), Seq("host"), "left")
      .select(col("host"), col("n_docs"), col("n_tokens"), col("avg_chars"),
        round(col("rank"), 6).as("host_rank"))
  }

  // ------------------------------------------------------ mixture weights

  /** Temperature-scaled domain mixture weights — the α-reweighting step of
    * multilingual / multi-domain training mixes (p_d ∝ n_d^α with
    * temperature α ∈ [0,1]: α=1 keeps the natural token share, α=0 is
    * uniform over domains; the standard "α=0.7" rebalance). Token counts
    * come from the analyzer token array; output carries (domain, tokens,
    * share, weight) where `share` is the natural token fraction and
    * `weight` the α-scaled sampling fraction — feed `weight/share` ratios
    * into [[stratifiedSample]] fractions to materialize the mix. One
    * map-side-combined groupBy(domain); weights are a domain-count-sized
    * second aggregate.
    */
  def mixtureWeights(docs: DataFrame, domainCol: String, alpha: Double): DataFrame = {
    val toks = docs.select(col(domainCol).as("domain"),
      expr(s"size($TokensExprSpark)").cast("long").as("n"))
      .groupBy("domain").agg(sum("n").as("tokens"))
    val tot = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    toks.select(col("domain"), col("tokens"),
        (col("tokens") / sum(col("tokens")).over(tot)).as("share_raw"),
        (pow(col("tokens"), lit(alpha)) /
          sum(pow(col("tokens"), lit(alpha))).over(tot)).as("weight_raw"))
      .select(col("domain"), col("tokens"),
        round(col("share_raw"), 6).as("share"), round(col("weight_raw"), 6).as("weight"))
  }

  // ---------------------------------------------------------- script mix

  /** Codepoint ranges per script (BMP literal ranges so the SAME character
    * class compiles in both java.util.regex and RE2 — no \\p{...} dialect
    * divergence). Latin covers ASCII letters; CJK = Han + Kana + Hangul.
    */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z]",
    "cyrillic" -> "[Ѐ-ӿ]",
    "greek" -> "[Ͱ-Ͽ]",
    "arabic" -> "[؀-ۿ]",
    "cjk" -> "[一-鿿぀-ヿ가-힯]")

  /** Unicode script-mix detection — the routing signal next to [[langId]]:
    * per-doc character counts per script (Latin / Cyrillic / Greek /
    * Arabic / CJK) as integer permille of all script characters, plus the
    * dominant script (count desc, [[ScriptRanges]] order on ties). Catches
    * mixed-script spam and mislabeled languages that token-level
    * heuristics miss. Counting is `length(t) − length(regexp_replace(t,
    * class, ''))` per class — a pure per-row codegen regexp chain, no
    * shuffle, and integer arithmetic end to end so any engine agrees
    * exactly.
    */
  def scriptMix(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val base = ScriptRanges.foldLeft(docs.select(col("doc_id"), col(textCol).as("t"))) {
      case (df, (n, cls)) =>
        df.withColumn(s"n_$n",
          expr(s"cast(length(t) - length(regexp_replace(t, '$cls', '')) as bigint)"))
    }
    val total = ScriptRanges.map { case (n, _) => col(s"n_$n") }.reduce(_ + _)
    val withTotal = base.withColumn("n_script_chars", total)
    val milli = ScriptRanges.foldLeft(withTotal) { case (df, (n, _)) =>
      df.withColumn(s"${n}_milli",
        expr(s"n_$n * 1000 div greatest(n_script_chars, 1)"))
    }
    // dominant script: max count, ties resolved in ScriptRanges order
    val main = ScriptRanges.tail.foldLeft(
      (lit(ScriptRanges.head._1), col(s"n_${ScriptRanges.head._1}"))) {
      case ((nameAcc, cntAcc), (n, _)) =>
        (when(col(s"n_$n") > cntAcc, lit(n)).otherwise(nameAcc),
          when(col(s"n_$n") > cntAcc, col(s"n_$n")).otherwise(cntAcc))
    }._1
    milli.select(col("doc_id") +: col("n_script_chars") +:
      ScriptRanges.map { case (n, _) => col(s"${n}_milli") } :+
      main.as("main_script"): _*)
  }

  // -------------------------------------------------------- token entropy

  /** Per-document token-distribution Shannon entropy + type-token ratio —
    * the within-doc diversity quality signal (keyword stuffing and
    * boilerplate repeat few types → low entropy / low TTR; natural prose
    * sits near log2 of the doc length). Uses the numerically stable form
    * `H = log2(N) − (Σ c·log2 c)/N` over the doc's token histogram; TTR =
    * distinct/total. Two map-side-combined groupBys keyed (doc_id, tok)
    * then (doc_id) — the same shuffle class as exact dedup; no UDFs.
    */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val hist = withTokens(docs)
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).cast("double").as("c"))
    hist.groupBy("doc_id")
      .agg(sum("c").as("n"), sum(col("c") * log2(col("c"))).as("s"),
        count(lit(1)).cast("long").as("types"))
      .select(col("doc_id"), col("n").cast("long").as("n_toks"), col("types"),
        round(log2(col("n")) - col("s") / col("n"), 4).as("entropy"),
        round(col("types") / col("n"), 4).as("ttr"))
  }

  // ------------------------------------------------- semantic decontamination

  /** Semantic (embedding-space) benchmark decontamination — the dense twin
    * of the n-gram [[contamination]] screen: flag corpus items whose
    * embedding is too close (cosine ≥ threshold) to ANY benchmark item.
    * Catches paraphrased leakage that exact n-gram overlap misses.
    *
    * 100 TB shape: the benchmark block (ids + flattened vectors + norms —
    * bounded by the benchmark, not the corpus) broadcasts once; each corpus
    * partition scores its rows against the whole block in one
    * primitive-array kernel keeping only the per-row max (the
    * [[cosineTopKBatch]] kernel with a max instead of heaps). One corpus
    * scan, no shuffle, no per-pair Catalyst eval. Ties on the max break to
    * the lowest benchmark id. Returns (idCol, bench_id, cos 4dp,
    * contaminated).
    */
  def semanticContamination(corpus: DataFrame, bench: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bRows = bench.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    require(bRows.nonEmpty, "semanticContamination needs a non-empty benchmark")
    val bc = spark.sparkContext.broadcast(packBlock(0, bRows))
    corpus.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val bs = bc.value
        it.map { case (vid, v) =>
          val best = new MaxCos
          pairLoop(bs, row(vid, v), AllPairs, best)
          (vid, best.id, best.cos, best.cos >= threshold)
        }
      }
      .toDF(idCol, "bench_id", "c", "contaminated")
      .select(col(idCol), col("bench_id"), round(col("c"), 4).as("cos"),
        col("contaminated"))
  }
}
