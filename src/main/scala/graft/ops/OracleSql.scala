package graft.ops

import graft.index.FieldNorms

/** DuckDB oracle SQL for every SparkEntry query. Shared constants/logic come
  * from `PipelineOps` so both sides compute character-identical formulas;
  * floats are rounded to 4dp, money sums go through DECIMAL(18,2) so
  * summation order can't flip a rounded digit.
  */
object OracleSql {

  import PipelineOps._

  /** Token CTE over documents. */
  val T = s"t AS (SELECT doc_id, $TokensExprDuck AS toks FROM documents)"

  def containing(term: String): String =
    s"WITH $T SELECT doc_id FROM t WHERE list_contains(toks, '$term')"

  val searchAnd: String =
    s"WITH $T SELECT doc_id FROM t WHERE list_contains(toks, 'spark') AND list_contains(toks, 'table')"
  /** Survivors of delete-by-query "spark AND table": the complement of
    * [[searchAnd]] over the whole corpus (merge purged the matches).
    */
  val deleteQuery: String =
    s"WITH $T SELECT doc_id FROM t WHERE NOT (list_contains(toks, 'spark') AND list_contains(toks, 'table'))"

  val searchOr: String =
    s"WITH $T SELECT doc_id FROM t WHERE list_contains(toks, 'vector') OR list_contains(toks, 'stream')"
  val searchNot: String =
    s"WITH $T SELECT doc_id FROM t WHERE list_contains(toks, 'table') AND NOT list_contains(toks, 'spark')"
  val searchPhrase: String =
    "SELECT doc_id FROM documents WHERE regexp_matches(lower(text), '(^|[^a-z0-9])fast[^a-z0-9]+table([^a-z0-9]|$)')"
  /** Regex phrase `fa.t tab.*`: token-level regexes become text-level char
    * classes ([a-z0-9] = token alphabet) with non-token separators between
    * slots — same adjacency encoding as `searchPhrase`.
    */
  val searchRegexPhrase: String =
    "SELECT doc_id FROM documents WHERE regexp_matches(lower(text), " +
      "'(^|[^a-z0-9])fa[a-z0-9]t[^a-z0-9]+tab[a-z0-9]*([^a-z0-9]|$)')"
  /** Phrase prefix `"fast tab*"`: last slot is a prefix over the dictionary. */
  val searchPhrasePrefix: String =
    "SELECT doc_id FROM documents WHERE regexp_matches(lower(text), " +
      "'(^|[^a-z0-9])fast[^a-z0-9]+tab[a-z0-9]*([^a-z0-9]|$)')"
  /** 2-term slop 1: adjacency or exactly one intervening token (abs-distance
    * semantics — transposition costs 2, so order cannot swap at slop 1).
    */
  val searchSlop: String =
    "SELECT doc_id FROM documents WHERE regexp_matches(lower(text), " +
      "'(^|[^a-z0-9])fast[^a-z0-9]+([a-z0-9]+[^a-z0-9]+)?table([^a-z0-9]|$)')"
  val searchPrefix: String =
    s"WITH $T SELECT doc_id FROM t WHERE len(list_filter(toks, x -> x LIKE 'str%')) > 0"
  val searchFuzzy: String =
    s"WITH $T SELECT doc_id FROM t WHERE len(list_filter(toks, x -> levenshtein(x, 'spark') <= 1)) > 0"
  val searchRegexp: String =
    s"WITH $T SELECT doc_id FROM t WHERE len(list_filter(toks, x -> regexp_matches(x, '^ta.le$$'))) > 0"
  val searchTermSet: String =
    s"WITH $T SELECT doc_id FROM t WHERE len(list_filter(toks, x -> x IN ('spark','vector','window'))) > 0"
  val searchRange: String =
    s"WITH $T SELECT doc_id FROM t WHERE len(list_filter(toks, x -> x >= 'table' AND x < 'tables')) > 0"
  /** Facet children of /src3 (facet column = /source/lang) over 'table' docs. */
  val facetHierarchy: String =
    s"WITH $T SELECT '/src3/' || d.lang AS facet, count(*)::BIGINT AS cnt " +
      "FROM t JOIN documents d ON t.doc_id = d.doc_id " +
      "WHERE list_contains(t.toks, 'table') AND d.source = 'src3' GROUP BY d.lang"

  /** JSON path terms: the attrs column mirrors (source, n_chars). */
  val searchJson: String =
    s"WITH $T SELECT t.doc_id FROM t JOIN documents d ON t.doc_id = d.doc_id " +
      "WHERE list_contains(t.toks, 'table') AND d.source = 'src3'"
  val searchJsonRange: String =
    s"WITH $T SELECT t.doc_id FROM t JOIN documents d ON t.doc_id = d.doc_id " +
      "WHERE list_contains(t.toks, 'table') AND d.n_chars >= 800 AND d.n_chars < 2000"
  /** attrs.meta.opt is present exactly when n_chars % 3 = 0. */
  val searchExists: String =
    "SELECT doc_id FROM documents WHERE n_chars % 3 = 0"

  /** q_term_positions: the engine decodes 'spark''s posting stream
    * (doc, tf, 0-based positions) off the positions file; the oracle
    * recomputes the same triples arithmetically from the token list
    * (parallel unnest zips token with its ordinal).
    */
  val termPositions: String =
    s"""WITH $T,
p AS (SELECT doc_id, unnest(toks) AS tok, unnest(range(0, len(toks))) AS pos FROM t),
m AS (SELECT doc_id, pos FROM p WHERE tok = 'spark'),
c AS (SELECT doc_id, count(*)::BIGINT AS tf FROM m GROUP BY doc_id)
SELECT m.doc_id, c.tf, m.pos::BIGINT AS pos FROM m JOIN c USING (doc_id)"""

  /** q_search_multifield: the `title` field = the doc's first 3 tokens
    * (indexed as its OWN text field with its own postings/norms); the engine
    * runs title:spark AND text:table cross-field, the oracle slices the
    * token list.
    */
  val searchMultifield: String =
    s"WITH $T SELECT doc_id FROM t " +
      "WHERE list_contains(toks[1:3], 'spark') AND list_contains(toks, 'table')"
  /** q_parser_multifield: `title:spark table` parsed with default fields
    * (title, text) — the fielded leg stays on title, the unfielded leg fans
    * out SHOULD over both fields (title OR body containment).
    */
  val parserMultifield: String =
    s"WITH $T SELECT doc_id FROM t " +
      "WHERE list_contains(toks[1:3], 'spark') AND " +
      "(list_contains(toks[1:3], 'table') OR list_contains(toks, 'table'))"
  /** q_media_meta synthesis contract: every 3rd doc audio of
    * (200 + doc_id % 800) ms (WAV/AIFF alternating); of the rest, every
    * 5th doc an MJPEG-AVI video of (2 + doc_id % 4) 250 ms frames at
    * 16x12; the others images sized (16 + doc_id % 16) x (8 + doc_id % 8)
    * in containers rotating over PPM/PNG/JPEG/BMP — the Spark side REALLY
    * decodes every container (ImageIO for PNG/JPEG, javax.sound for AIFF,
    * the RIFF walk for AVI, hand-rolled for the rest), the oracle just
    * recomputes the arithmetic.
    */
  val mediaMeta: String =
    "SELECT doc_id, " +
      "CASE WHEN doc_id % 3 = 0 THEN 'audio' WHEN doc_id % 5 = 0 THEN 'video' ELSE 'image' END AS kind, " +
      "CASE WHEN doc_id % 3 = 0 THEN 0 WHEN doc_id % 5 = 0 THEN 16 ELSE 16 + doc_id % 16 END AS width, " +
      "CASE WHEN doc_id % 3 = 0 THEN 0 WHEN doc_id % 5 = 0 THEN 12 ELSE 8 + doc_id % 8 END AS height, " +
      "CASE WHEN doc_id % 3 = 0 THEN 200 + doc_id % 800 WHEN doc_id % 5 = 0 THEN (2 + doc_id % 4) * 250 ELSE 0 END AS duration_ms " +
      "FROM documents"

  /** q_image_dedup synthesis contract: identical class (doc_id % 7) ->
    * byte-identical image (container PPM/PNG/JPEG/BMP by cls % 4) ->
    * identical dHash even under lossy JPEG; canonical = min doc_id of the
    * class. The Spark side earns these rows by really decoding and hashing.
    */
  val imageDedup: String =
    """SELECT d.doc_id, c.min_id AS canonical_id FROM documents d
JOIN (SELECT doc_id % 7 AS cls, min(doc_id) AS min_id FROM documents GROUP BY doc_id % 7) c
ON d.doc_id % 7 = c.cls"""

  /** q_audio_energy synthesis contract: square wave amplitude
    * 100 + doc_id % 900 over (200 + doc_id % 800) ms at 8 kHz; 100 ms
    * windows -> ceil(ms/100) windows, each with RMS exactly the amplitude.
    */
  val audioEnergy: String =
    """SELECT doc_id, CAST(ceil((200 + doc_id % 800) / 100.0) AS BIGINT) AS n_windows,
CAST(100 + doc_id % 900 AS DOUBLE) AS rms FROM documents"""

  /** q_video_frames synthesis contract: an animated GIF of (2 + doc_id % 4)
    * constant-color 250 ms frames, frame f's red = (doc_id + 40*f) % 256.
    * Sampling every 250 ms capped at 8 frames lands exactly on each frame,
    * so the oracle is one row per (doc, frame) of pure arithmetic — but the
    * Spark side earns it by really walking the GIF frame sequence, parsing
    * the GraphicControlExtension delays, and decoding the pixels.
    */
  val videoFrames: String =
    """SELECT doc_id, f AS frame_idx, f * 250 AS ts_ms, (doc_id + 40 * f) % 256 AS red
FROM (SELECT doc_id, unnest(generate_series(CAST(0 AS BIGINT), 1 + doc_id % 4)) AS f FROM documents)"""

  /** q_video_frames_avi synthesis contract: the MJPEG-in-AVI twin — same
    * (2 + doc_id % 4) frames / 250 ms arithmetic; MJPEG is lossy so the
    * red check is the Spark side's ±1 gate (quality-1.0 YCbCr rounding)
    * and the oracle states the fan-out, timestamps, and gate outcome.
    */
  val videoFramesAvi: String =
    """SELECT doc_id, f AS frame_idx, f * 250 AS ts_ms, true AS red_ok
FROM (SELECT doc_id, unnest(generate_series(CAST(0 AS BIGINT), 1 + doc_id % 4)) AS f FROM documents)"""

  /** ip = 10.(doc_id div 256 % 256).(doc_id % 256).7 unless doc_id % 9 = 0
    * (v6, outside the v4 window); [10.0.100.0, 10.1.200.255] therefore holds
    * exactly the v4 docs with doc_id % 65536 in [100, 456].
    */
  val searchRangeIp: String =
    "SELECT doc_id FROM documents WHERE doc_id % 9 <> 0 " +
      "AND doc_id % 65536 BETWEEN 100 AND 456"

  /** DisjunctionMax doc set == the disjuncts' union (scores differ, docs don't). */
  val searchDisjMax: String =
    s"WITH $T SELECT doc_id FROM t WHERE list_contains(toks, 'spark') OR list_contains(toks, 'table')"
  val searchMsm: String =
    s"WITH $T SELECT doc_id FROM t WHERE " +
      "(CASE WHEN list_contains(toks,'spark') THEN 1 ELSE 0 END + " +
      "CASE WHEN list_contains(toks,'table') THEN 1 ELSE 0 END + " +
      "CASE WHEN list_contains(toks,'vector') THEN 1 ELSE 0 END) >= 2"
  /** Const-score 3 on spark + boost 2x const-score 1 on table, sum-combined:
    * integer-valued f32 constants sum bit-exactly in double.
    */
  val searchBoost: String =
    s"WITH $T SELECT doc_id, " +
      "(CASE WHEN list_contains(toks,'spark') THEN 3.0 ELSE 0.0 END + " +
      "CASE WHEN list_contains(toks,'table') THEN 2.0 ELSE 0.0 END)::DOUBLE AS score " +
      "FROM t WHERE list_contains(toks,'spark') OR list_contains(toks,'table')"

  /** Typed bytes range inside a boolean query: the engine indexes
    * unhex(substr(md5(text),1,8)) as a 4-byte bytes-field term; hex-string
    * order == unsigned byte order, so the oracle compares the hex prefix.
    */
  val searchBytes: String =
    s"WITH $T SELECT t.doc_id FROM t JOIN documents d ON t.doc_id = d.doc_id " +
      "WHERE list_contains(t.toks, 'spark') AND substr(md5(d.text), 1, 8) < '30000000'"

  /** Typed numeric range inside a boolean query: token match AND value range. */
  val searchRangeNumeric: String =
    s"WITH $T SELECT t.doc_id FROM t JOIN documents d ON t.doc_id = d.doc_id " +
      "WHERE list_contains(t.toks, 'spark') AND d.n_chars >= 500 AND d.n_chars <= 1500"
  /** Typed date range: the engine indexes unix_micros(warc_ts) where warc_ts
    * = 2025-01-01 + (doc_id % 720) hours (SparkEntry's derivation).
    */
  val searchRangeDate: String =
    s"WITH $T SELECT doc_id FROM t WHERE list_contains(toks, 'table') " +
      "AND (TIMESTAMP '2025-01-01 00:00:00' + (doc_id % 720) * INTERVAL 1 HOUR) >= TIMESTAMP '2025-01-10 00:00:00' " +
      "AND (TIMESTAMP '2025-01-01 00:00:00' + (doc_id % 720) * INTERVAL 1 HOUR) < TIMESTAMP '2025-01-20 00:00:00'"

  val countMatrix: String = {
    def c(pred: String) = s"(SELECT count(*) FROM t WHERE $pred)"
    s"WITH $T SELECT * FROM (" +
      s"SELECT 'spark' AS label, ${c("list_contains(toks,'spark')")} AS cnt " +
      s"UNION ALL SELECT 'vector', ${c("list_contains(toks,'vector')")} " +
      s"UNION ALL SELECT 'spark_and_table', ${c("list_contains(toks,'spark') AND list_contains(toks,'table')")} " +
      s"UNION ALL SELECT 'vector_or_stream', ${c("list_contains(toks,'vector') OR list_contains(toks,'stream')")} " +
      s"UNION ALL SELECT 'all_docs', (SELECT count(*) FROM t))"
  }

  /** Inline 256-value fieldnorm table (tantivy quantization). */
  private val normsValues: String = FieldNorms.Table.map(v => s"($v)").mkString(",")

  def bm25Scores(terms: Seq[String]): String = {
    val termList = terms.map(t => s"'$t'").mkString(",")
    s"""WITH $T,
norms(val) AS (VALUES $normsValues),
stats AS (SELECT count(*)::BIGINT AS n, sum(len(toks))::BIGINT AS tot FROM t),
dl AS (SELECT doc_id, len(toks) AS dl FROM t),
dlq AS (SELECT doc_id, (SELECT max(val) FROM norms WHERE val <= dl) AS dlq FROM dl),
tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM (SELECT doc_id, unnest(toks) AS tok FROM t) WHERE tok IN ($termList) GROUP BY doc_id, tok),
df AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
scored AS (
  SELECT tf.doc_id,
    ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5)) * (1.0 + 1.2)
      * tf.tf / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dlq.dlq / (stats.tot * 1.0 / stats.n))) AS s
  FROM tf JOIN df ON tf.tok = df.tok JOIN dlq ON tf.doc_id = dlq.doc_id, stats)
SELECT doc_id, round(sum(s), 4) AS bm25 FROM scored GROUP BY doc_id"""
  }

  /** Snippet query: doc set + rank from the same rounded-double BM25 as
    * `bm25Scores`; the snippet validity booleans must all be true.
    */
  val snippetsOracle: String =
    s"""SELECT row_number() OVER (ORDER BY bm25 DESC, doc_id)::BIGINT AS rank, doc_id,
true AS verbatim, true AS highlighted
FROM (${bm25Scores(Seq("spark", "table"))})
ORDER BY bm25 DESC, doc_id LIMIT 10"""
  val mltOracle: String =
    "SELECT (i + 1)::BIGINT AS rank, true AS shares_seed FROM range(10) t(i)"
  val sketchOracle: String =
    "SELECT true AS p50_ok, true AS p90_ok, true AS p99_ok"

  /** Independent copy of the public Lucene English stop list (the
    * reference's Language::English choice, stop_word_filter/mod.rs:41-48) —
    * deliberately NOT read from the Spark side's resource.
    */
  val stopTokens: String = {
    val lucene = Seq("a", "an", "and", "are", "as", "at", "be", "but", "by",
      "for", "if", "in", "into", "is", "it", "no", "not", "of", "on", "or",
      "such", "that", "the", "their", "then", "there", "these", "they",
      "this", "to", "was", "will", "with").map(w => s"'$w'").mkString(",")
    s"WITH $T SELECT doc_id, len(list_filter(toks, x -> NOT x IN ($lucene)))::BIGINT AS n_content_tokens FROM t"
  }

  val tokenCount: String =
    s"WITH $T SELECT doc_id, len(toks)::BIGINT AS n_tokens, len(list_distinct(toks))::BIGINT AS n_distinct FROM t"

  /** Overlapping token-window chunking, W=16 S=8: DuckDB inclusive list
    * slicing `toks[a:b]` vs Spark's (start, LENGTH) `slice` — same windows.
    */
  val chunkWindows: String =
    s"WITH $T, c AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM t WHERE len(toks) > 0), " +
      "s AS (SELECT doc_id, n, toks, unnest(range(0, ((n-1)//8)+1)) AS i FROM c) " +
      "SELECT doc_id, i AS chunk_id, least(16, n - i*8)::BIGINT AS n_chunk_tokens, " +
      "array_to_string(toks[i*8+1:i*8+16], ' ') AS chunk_text FROM s"

  /** Concat-and-chunk sequence packing at maxTokens=2048: the oracle states
    * the rule as ONE global running-sum window (fine at oracle scale; the
    * Spark side is the two-level prefix sum).
    */
  val packSequences: String =
    s"WITH $T, c AS (SELECT doc_id, len(toks)::BIGINT AS n FROM t WHERE len(toks) > 0), " +
      "p AS (SELECT doc_id, n, COALESCE(SUM(n) OVER (ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pre FROM c) " +
      "SELECT doc_id, n AS n_tokens, pre // 2048 AS first_seq, " +
      "(pre + n - 1) // 2048 AS last_seq, pre % 2048 AS seq_offset FROM p"

  val langId: String = {
    val scores = LangScoresExpr.map { case (n, e) =>
      val duck = e.replace("size(filter(", "len(list_filter(")
      s"$duck AS $n"
    }.mkString(", ")
    s"WITH $T, s AS (SELECT doc_id, $scores FROM t) SELECT doc_id, $LangGuessExpr AS lang_guess FROM s"
  }

  val quality: String =
    s"""WITH $T, q AS (SELECT doc_id, len(toks)::BIGINT AS n_toks,
 len(list_distinct(toks))::BIGINT AS n_distinct,
 length(array_to_string(toks, ''))::BIGINT AS chars FROM t)
SELECT doc_id, CAST($QualityExprDuck AS BIGINT) AS quality_bp FROM q WHERE n_toks > 0"""

  val fingerprint: String =
    s"WITH $T SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp FROM t"

  val dedupExact: String =
    s"""WITH $T, fp AS (SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp FROM t),
canon AS (SELECT fp, min(doc_id) AS canonical_id FROM fp GROUP BY fp)
SELECT fp.doc_id, canon.canonical_id, fp.doc_id <> canon.canonical_id AS is_dup
FROM fp JOIN canon ON fp.fp = canon.fp"""

  private val shinglesCte =
    s"""$T, s AS (SELECT doc_id, list_distinct($ShinglesExprDuck) AS sh FROM t)"""

  /** Exact Jaccard pairs via the SAME AllPairs/PPJoin prefix filtering the
    * Spark op uses (any global shingle total order is valid — here
    * (df asc, hash asc) like the op — so candidate sets differ from the
    * string-ordered form but verified output is identical by the AllPairs
    * theorem). Sub-quadratic BY FORMULATION, so the 20×-docs staged pass
    * replays it inside budget (the old all-pairs CTE was the pass's one
    * TIMEOUT); verified row-identical to the all-pairs form at
    * sf0.001/sf0.01. The verify intersects 64-bit HASHED shingle lists —
    * the identical collision-safe-in-expectation argument the op itself
    * makes for xxhash64 — and the heavy CTEs carry MATERIALIZED so DuckDB
    * cannot re-derive the window pipeline per consumer (the re-derivation
    * is what pushed the single-query form past its memory budget at 20×).
    */
  def jaccardPairs(threshold: Double): String =
    s"""WITH $shinglesCte,
hsq AS MATERIALIZED (SELECT doc_id,
  list_transform(sh, x -> hash(x)) AS hv, len(sh) AS sz FROM s),
ex AS (SELECT doc_id, unnest(hv) AS tok FROM hsq),
dfq AS (SELECT tok, count(*) AS df FROM ex GROUP BY tok),
ordq AS (SELECT e.doc_id, e.tok,
    row_number() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.tok) AS pos,
    count(*) OVER (PARTITION BY e.doc_id) AS sz
  FROM ex e JOIN dfq d ON e.tok = d.tok),
pref AS MATERIALIZED (SELECT doc_id, tok, pos, sz FROM ordq
  WHERE pos <= sz - ceil(sz * $threshold) + 1),
cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
  FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
    AND a.sz >= ceil(b.sz * $threshold) AND b.sz >= ceil(a.sz * $threshold)
    AND 1 + least(a.sz - a.pos, b.sz - b.pos)
      >= ceil((a.sz + b.sz) * ($threshold/(1+$threshold)))),
inters AS MATERIALIZED (
  SELECT cand.ia, cand.ib, len(list_intersect(x.hv, y.hv)) AS inter,
    x.sz AS sza, y.sz AS szb
  FROM cand JOIN hsq x ON cand.ia = x.doc_id JOIN hsq y ON cand.ib = y.doc_id),
p AS (SELECT ia, ib, inter * 1.0 / (sza + szb - inter) AS j FROM inters)
SELECT ia, ib, round(j, 4) AS jaccard FROM p WHERE j >= $threshold"""

  def minhashPairs(threshold: Double): String = {
    val mhCols = MinHashA.indices.map { i =>
      s"min((h * ${MinHashA(i)} + ${MinHashB(i)}) % $MinHashP) AS mh$i"
    }.mkString(", ")
    val bandRows = (0 until Bands).map { b =>
      val parts = (0 until RowsPerBand).map(r => s"mh${b * RowsPerBand + r}")
      s"SELECT doc_id, $b AS band, concat_ws('_', ${parts.mkString(",")}) AS sig FROM sigs"
    }.mkString(" UNION ALL ")
    s"""WITH $shinglesCte,
ex AS (SELECT doc_id, unnest(sh) AS tok FROM s),
hashed AS (SELECT doc_id, $TokHashDuck AS h FROM ex),
sigs AS (SELECT doc_id, $mhCols FROM hashed GROUP BY doc_id),
banded AS ($bandRows),
cand AS (SELECT DISTINCT x.doc_id AS ia, y.doc_id AS ib FROM banded x JOIN banded y
  ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
verified AS (SELECT cand.ia, cand.ib,
  len(list_intersect(a.sh, b.sh)) * 1.0 / len(list_distinct(list_concat(a.sh, b.sh))) AS j
  FROM cand JOIN s a ON cand.ia = a.doc_id JOIN s b ON cand.ib = b.doc_id)
SELECT ia, ib, round(j, 4) AS jaccard FROM verified WHERE j >= $threshold"""
  }

  /** q_minhash_newdocs synthesis contract: new batch = exact copies of the
    * doc_id%5=0 docs (ids +1e9 — identical signatures, always dropped) plus
    * word-REVERSED copies of the doc_id%7=0 docs (ids +2e9 — 3-gram
    * shingles are order-sensitive, so these share ~no shingles and
    * survive). The oracle replays the op's full contract — same banding,
    * same exact-Jaccard verify at the same threshold — new-vs-corpus.
    */
  def minhashNewDocs(threshold: Double): String = {
    val mhCols = MinHashA.indices.map { i =>
      s"min((h * ${MinHashA(i)} + ${MinHashB(i)}) % $MinHashP) AS mh$i"
    }.mkString(", ")
    def bandRows(src: String) = (0 until Bands).map { b =>
      val parts = (0 until RowsPerBand).map(r => s"mh${b * RowsPerBand + r}")
      s"SELECT doc_id, $b AS band, concat_ws('_', ${parts.mkString(",")}) AS sig FROM $src"
    }.mkString(" UNION ALL ")
    s"""WITH newb AS (
  SELECT doc_id + 1000000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 2000000000 AS doc_id,
    array_to_string(list_reverse(string_split(text, ' ')), ' ') AS text
  FROM documents WHERE doc_id % 7 = 0),
tn AS (SELECT doc_id, $TokensExprDuck AS toks FROM newb),
tc AS (SELECT doc_id, $TokensExprDuck AS toks FROM documents),
sn AS (SELECT doc_id, list_distinct($ShinglesExprDuck) AS sh FROM tn),
sc AS (SELECT doc_id, list_distinct($ShinglesExprDuck) AS sh FROM tc),
hn AS (SELECT doc_id, $TokHashDuck AS h FROM (SELECT doc_id, unnest(sh) AS tok FROM sn)),
hc AS (SELECT doc_id, $TokHashDuck AS h FROM (SELECT doc_id, unnest(sh) AS tok FROM sc)),
gn AS (SELECT doc_id, $mhCols FROM hn GROUP BY doc_id),
gc AS (SELECT doc_id, $mhCols FROM hc GROUP BY doc_id),
bn AS (${bandRows("gn")}),
bc AS (${bandRows("gc")}),
cand AS (SELECT DISTINCT n.doc_id AS nid, c.doc_id AS cid FROM bn n JOIN bc c
  ON n.band = c.band AND n.sig = c.sig),
dup AS (SELECT DISTINCT cand.nid FROM cand
  JOIN sn a ON cand.nid = a.doc_id JOIN sc b ON cand.cid = b.doc_id
  WHERE len(list_intersect(a.sh, b.sh)) * 1.0
    / len(list_distinct(list_concat(a.sh, b.sh))) >= $threshold)
SELECT doc_id FROM newb WHERE doc_id NOT IN (SELECT nid FROM dup)"""
  }

  /** DuckDB mirror of SparkEntry.dirtyShellSpark — same integer arithmetic
    * on (doc_id, line index), byte-identical output.
    */
  val DirtyShellDuck: String =
    "concat(" +
      "array_to_string(list_transform(range(0, (len(string_split(text, ' ')) + 6) // 7), " +
      "i -> concat(" +
      "CASE WHEN (doc_id + i) % 7 = 0 THEN '- ' WHEN (doc_id + i) % 23 = 0 THEN '# ' ELSE '' END, " +
      "array_to_string(list_slice(string_split(text, ' '), i * 7 + 1, i * 7 + 7), ' '), " +
      "CASE WHEN (doc_id + i) % 11 = 0 THEN '...' WHEN (doc_id + i) % 3 = 0 THEN '' ELSE '.' END" +
      ")), chr(10)), " +
      "CASE WHEN doc_id % 19 = 0 THEN chr(10) || 'please enable javascript to view this page.' ELSE '' END, " +
      "CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'var x = {' ELSE '' END, " +
      "CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END)"

  /** q_gopher_quality: the full Gopher §A.1.1 rule battery over the dirty
    * shell — integer milli-unit ratios, stop-word presence restated as a
    * filter over the stop list (vs Spark's array_intersect), keep restated
    * from the recomputed milli columns.
    */
  val gopherQuality: String =
    s"""WITH dd AS (SELECT doc_id, $DirtyShellDuck AS dirty FROM documents),
g AS (SELECT doc_id, dirty,
  list_filter(string_split_regex(dirty, '\\s+'), x -> x <> '') AS ws,
  string_split(dirty, chr(10)) AS ls FROM dd),
s AS (SELECT doc_id,
  len(ws)::BIGINT AS n_words,
  list_sum(list_transform(ws, x -> length(x)))::BIGINT AS sum_word_len,
  len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))::BIGINT AS n_alpha_words,
  (length(dirty) - length(replace(dirty, '#', ''))
     + (length(dirty) - length(replace(dirty, '...', ''))) // 3)::BIGINT AS n_symbols,
  len(list_filter(['the','be','to','of','and','that','have','with'],
    sw -> list_contains(list_transform(ws, w -> lower(w)), sw)))::BIGINT AS n_stop_hits,
  greatest(len(ls), 1)::BIGINT AS n_lines,
  len(list_filter(ls, l -> ltrim(l) LIKE '- %' OR ltrim(l) LIKE '* %'
    OR ltrim(l) LIKE '• %' OR ltrim(l) LIKE '# %'))::BIGINT AS n_bullet_lines,
  len(list_filter(ls, l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…'))::BIGINT AS n_ellipsis_lines
 FROM g WHERE len(ws) > 0),
m AS (SELECT doc_id, n_words,
  sum_word_len * 1000 // n_words AS mean_word_len_milli,
  n_alpha_words * 1000 // n_words AS alpha_milli,
  n_symbols * 1000 // n_words AS symbol_milli,
  n_bullet_lines * 1000 // n_lines AS bullet_milli,
  n_ellipsis_lines * 1000 // n_lines AS ellipsis_milli,
  n_stop_hits FROM s)
SELECT doc_id, n_words, mean_word_len_milli, alpha_milli, symbol_milli,
  bullet_milli, ellipsis_milli, n_stop_hits,
  (n_words BETWEEN 50 AND 100000) AND (mean_word_len_milli BETWEEN 3000 AND 10000)
    AND symbol_milli <= 100 AND bullet_milli <= 900 AND ellipsis_milli <= 300
    AND alpha_milli >= 800 AND n_stop_hits >= 2 AS keep
FROM m"""

  /** q_c4_filter: the C4 §2.2 line rules over the dirty shell; clean text
    * pinned by md5 so the reconstruction must be byte-identical.
    */
  val c4Filter: String =
    s"""WITH dd AS (SELECT doc_id, $DirtyShellDuck AS dirty FROM documents),
g AS (SELECT doc_id, dirty, string_split(dirty, chr(10)) AS ls FROM dd),
k AS (SELECT doc_id, len(ls)::BIGINT AS n_lines,
  list_filter(ls, l -> (rtrim(l) LIKE '%.' OR rtrim(l) LIKE '%!'
      OR rtrim(l) LIKE '%?' OR rtrim(l) LIKE '%\"')
    AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 3
    AND NOT lower(l) LIKE '%javascript%') AS kept,
  (contains(lower(dirty), 'lorem ipsum') OR contains(dirty, '{')) AS banned
 FROM g)
SELECT doc_id, n_lines, len(kept)::BIGINT AS n_kept_lines,
  (len(kept) >= 5 AND NOT banned) AS keep,
  md5(array_to_string(kept, chr(10))) AS clean_fp
FROM k"""

  /** Within-doc repeated-3-gram fraction (Gopher repetition filter). */
  val repetition: String =
    s"""WITH $T, s AS (SELECT doc_id, $ShinglesExprDuck AS sh FROM t)
SELECT doc_id, len(sh)::BIGINT AS n_ngrams, len(list_distinct(sh))::BIGINT AS n_distinct_ngrams,
round(1.0 - len(list_distinct(sh)) * 1.0 / len(sh), 4) AS dup_ngram_frac FROM s"""

  /** Decontamination: distinct shared 3-grams per (doc, benchmark doc)
    * pair, benchmark = doc_id % 97 = 0 subset, threshold `minShared`.
    */
  def contamination(minShared: Int): String =
    s"""WITH $shinglesCte,
d AS (SELECT doc_id, unnest(sh) AS g FROM s),
b AS (SELECT doc_id AS bench_id, unnest(sh) AS g FROM s WHERE doc_id % 97 = 0)
SELECT d.doc_id, b.bench_id, count(*)::BIGINT AS n_shared
FROM d JOIN b ON d.g = b.g WHERE d.doc_id <> b.bench_id
GROUP BY d.doc_id, b.bench_id HAVING count(*) >= $minShared"""

  /** q_curation_funnel: the composed first-failing-stage attribution —
    * each stage CTE restates the matching single-op oracle (gopher, c4,
    * repetition, contamination) over the SAME dirty shell, then one CASE
    * walks the canonical order. Bench set = doc_id % 97 docs.
    */
  val curationFunnel: String = {
    val dirtyToks = "list_filter(string_split_regex(lower(dirty), '[^a-z0-9]+'), " +
      "x -> x <> '' AND length(x) < 40)"
    s"""WITH dd AS (SELECT doc_id, $DirtyShellDuck AS dirty FROM documents),
gw AS (SELECT doc_id, dirty,
  list_filter(string_split_regex(dirty, '\\s+'), x -> x <> '') AS ws,
  string_split(dirty, chr(10)) AS ls FROM dd),
gst AS (SELECT doc_id,
  len(ws)::BIGINT AS n_words,
  list_sum(list_transform(ws, x -> length(x)))::BIGINT AS sum_word_len,
  len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))::BIGINT AS n_alpha_words,
  (length(dirty) - length(replace(dirty, '#', ''))
     + (length(dirty) - length(replace(dirty, '...', ''))) // 3)::BIGINT AS n_symbols,
  len(list_filter(['the','be','to','of','and','that','have','with'],
    sw -> list_contains(list_transform(ws, w -> lower(w)), sw)))::BIGINT AS n_stop_hits,
  greatest(len(ls), 1)::BIGINT AS n_lines,
  len(list_filter(ls, l -> ltrim(l) LIKE '- %' OR ltrim(l) LIKE '* %'
    OR ltrim(l) LIKE '• %' OR ltrim(l) LIKE '# %'))::BIGINT AS n_bullet_lines,
  len(list_filter(ls, l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…'))::BIGINT AS n_ellipsis_lines
 FROM gw WHERE len(ws) > 0),
gk AS (SELECT doc_id,
  (n_words BETWEEN 50 AND 100000)
    AND (sum_word_len * 1000 // n_words BETWEEN 3000 AND 10000)
    AND n_symbols * 1000 // n_words <= 100
    AND n_bullet_lines * 1000 // n_lines <= 900
    AND n_ellipsis_lines * 1000 // n_lines <= 300
    AND n_alpha_words * 1000 // n_words >= 800
    AND n_stop_hits >= 2 AS keep FROM gst),
ck AS (SELECT doc_id,
  (len(list_filter(string_split(dirty, chr(10)), l ->
      (rtrim(l) LIKE '%.' OR rtrim(l) LIKE '%!' OR rtrim(l) LIKE '%?' OR rtrim(l) LIKE '%"')
      AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 3
      AND NOT lower(l) LIKE '%javascript%')) >= 5
    AND NOT (contains(lower(dirty), 'lorem ipsum') OR contains(dirty, '{'))) AS keep
 FROM dd),
tk AS (SELECT doc_id, $dirtyToks AS toks FROM dd),
shl AS (SELECT doc_id,
  [array_to_string(toks[i:i+2], ' ') for i in range(1, greatest(len(toks)-2, 1) + 1)] AS sh
 FROM tk),
rk AS (SELECT doc_id,
  round(1.0 - len(list_distinct(sh)) * 1.0 / len(sh), 4) <= 0.3 AS keep FROM shl),
dg AS (SELECT doc_id, unnest(list_distinct(sh)) AS g FROM shl),
bg AS (SELECT doc_id AS bench_id, unnest(list_distinct(sh)) AS g FROM shl WHERE doc_id % 97 = 0),
cont AS (SELECT DISTINCT doc_id FROM (
  SELECT d.doc_id FROM dg d JOIN bg b ON d.g = b.g WHERE d.doc_id <> b.bench_id
  GROUP BY d.doc_id, b.bench_id HAVING count(*) >= 3))
SELECT dd.doc_id,
  CASE WHEN NOT coalesce(gk.keep, false) THEN 'gopher'
       WHEN NOT coalesce(ck.keep, false) THEN 'c4'
       WHEN NOT coalesce(rk.keep, false) THEN 'repetition'
       WHEN cont.doc_id IS NOT NULL THEN 'contaminated'
       ELSE 'kept' END AS stage
FROM dd LEFT JOIN gk USING (doc_id) LEFT JOIN ck USING (doc_id)
  LEFT JOIN rk USING (doc_id) LEFT JOIN cont USING (doc_id)"""
  }

  /** Deterministic stratified sample: md5(doc_id) bucket under the
    * stratum's mix weight (en 0.5 / de 0.25 / fr 0.1, rest 0).
    */
  val stratifiedSample: String =
    """SELECT doc_id, lang FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
  < (CASE WHEN lang = 'en' THEN 0.5 WHEN lang = 'de' THEN 0.25 WHEN lang = 'fr' THEN 0.1 ELSE 0.0 END) * 10000"""

  /** q_hash_split: the same md5 permille-bucket arithmetic as
    * `PipelineOps.hashSplit` (32 hex bits of md5(doc_id || '#' || salt) mod
    * 1000; test < 10, val < 20, else train) rebuilt in DuckDB's dialect.
    */
  val hashSplit: String =
    """WITH k AS (SELECT doc_id,
  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#split'), 1, 8)) AS BIGINT) % 1000 AS b
  FROM documents)
SELECT doc_id,
  CASE WHEN b < 10 THEN 'test' WHEN b < 20 THEN 'val' ELSE 'train' END AS split
FROM k"""

  /** q_global_shuffle: the reproducible training-order permutation —
    * position by (md5 key, doc_id). The Spark side computes the rank with
    * a two-level bucket prefix sum (no global window); here the plain
    * ROW_NUMBER over the full sort is the independent formulation.
    */
  val globalShuffle: String =
    """WITH k AS (SELECT doc_id,
  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#shuffle'), 1, 8)) AS BIGINT) AS h
  FROM documents)
SELECT doc_id, ROW_NUMBER() OVER (ORDER BY h, doc_id) - 1 AS shuffle_pos FROM k"""

  /** q_domain_cap: 97 synthetic hosts (doc_id % 97), keep 5 docs per host
    * by doc_id order. The Spark side regex-extracts the host from the url;
    * here the host is rebuilt arithmetically.
    */
  val domainCap: String =
    """WITH r AS (SELECT doc_id,
  'h' || (doc_id % 97)::VARCHAR || '.example' AS host,
  row_number() OVER (PARTITION BY doc_id % 97 ORDER BY doc_id) AS host_rank
FROM documents)
SELECT doc_id, host, host_rank::BIGINT AS host_rank FROM r WHERE host_rank <= 5"""

  /** q_pii_redact synthesis contract: an email suffix is planted when
    * doc_id % 3 != 0 and an IPv4 suffix when doc_id % 2 = 0; the Spark side
    * redacts by regex, this oracle CONSTRUCTS the expected redacted string
    * (no regex), so the regex match boundaries are independently checked.
    */
  val piiRedact: String =
    """SELECT doc_id,
  text || (CASE WHEN doc_id % 3 != 0 THEN ' contact <EMAIL>' ELSE '' END)
       || (CASE WHEN doc_id % 2 = 0 THEN ' from <IP>' ELSE '' END) AS clean_text,
  (CASE WHEN doc_id % 3 != 0 THEN 1 ELSE 0 END)::BIGINT AS n_emails,
  (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_ips
FROM documents"""

  /** q_para_dedup: corpus-wide first-occurrence paragraph dedup over the
    * shared fixed-window segmentation. Independent formulation: a windowed
    * row_number picks first occurrences (the Spark side uses
    * groupBy-min-struct + join), reassembly via ordered string_agg.
    */
  val paragraphDedup: String =
    s"""WITH $T,
w AS (SELECT doc_id, $ParasExprDuck AS paras FROM t),
p AS (SELECT doc_id, unnest(paras) AS para, unnest(range(1, len(paras)+1)) AS pos FROM w),
p2 AS (SELECT * FROM p WHERE para <> ''),
r AS (SELECT doc_id, pos, para,
  row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rk FROM p2)
SELECT doc_id, count(*)::BIGINT AS n_paras,
  sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
  coalesce(string_agg(CASE WHEN rk = 1 THEN para END, ' ' ORDER BY pos), '') AS clean_text
FROM r GROUP BY doc_id"""

  /** q_url_dedup synthesis contract (k = doc_id % 120): scheme HTTP/https by
    * k%2, host WWW.Host<k%7>.Example.COM, port :80 when k%4=0 (even k, so
    * scheme http → stripped) / :8080 when k%4=1 (kept), path /Dir/p<k%10>,
    * trailing slash when k%3=0, query variants by k%5 (trackers at 0,1,2),
    * fragment when doc_id%11=0 (doc-level on purpose: stripping must erase
    * it from the group key). The Spark side parses and normalizes the messy
    * string; this oracle CONSTRUCTS the canonical form arithmetically.
    */
  /** q_url_blocklist: the same block decision via suffix-LIKE matching —
    * an independent formulation of the op's suffix-explode equi-join.
    */
  val urlBlocklist: String =
    """WITH h AS (SELECT doc_id,
  'w' || (doc_id % 5)::VARCHAR || '.host' || (doc_id % 11)::VARCHAR || '.example.com' AS host
  FROM documents),
bl AS (SELECT 'host' || i::VARCHAR || '.example.com' AS domain FROM range(0, 11) t(i) WHERE i % 3 = 0
  UNION ALL
  SELECT 'w' || i::VARCHAR || '.host1.example.com' FROM range(0, 5) t(i) WHERE i % 2 = 1)
SELECT h.doc_id, h.host,
  (SELECT min(domain) FROM bl WHERE h.host = bl.domain OR h.host LIKE '%.' || bl.domain) AS blocked_by,
  EXISTS (SELECT 1 FROM bl WHERE h.host = bl.domain OR h.host LIKE '%.' || bl.domain) AS blocked
FROM h"""

  /** Canonical form of SparkEntry's messy synthetic url, constructed
    * arithmetically from k = doc_id % 120 — the shared fragment both url
    * dedup oracles build their `c` CTE from (one copy: the messy-url
    * contract and this canonicalization must move together).
    */
  private val CanonicalUrlDuck: String =
    """(CASE WHEN k % 2 = 0 THEN 'http' ELSE 'https' END)
  || '://www.host' || (k % 7)::VARCHAR || '.example.com'
  || (CASE WHEN k % 4 = 1 THEN ':8080' ELSE '' END)
  || '/Dir/p' || (k % 10)::VARCHAR
  || (CASE WHEN k % 5 IN (0, 1) THEN '?x=1' WHEN k % 5 = 3 THEN '?x=1&y=2' ELSE '' END)"""

  /** q_recrawl_dedup: same canonical-url arithmetic as [[urlDedup]] plus a
    * synthetic fetch timestamp; winner restated as a window row_number
    * (ts desc, doc_id asc) — independent of the op's max-struct groupBy.
    */
  val recrawlDedup: String =
    s"""WITH k AS (SELECT doc_id, doc_id % 120 AS k FROM documents),
c AS (SELECT doc_id, $CanonicalUrlDuck AS canonical_url,
  TIMESTAMP '2025-01-01 00:00:00' + (doc_id % 7) * INTERVAL 1 HOUR AS ts
FROM k),
r AS (SELECT *, row_number() OVER
  (PARTITION BY canonical_url ORDER BY ts DESC, doc_id) AS rn FROM c),
f AS (SELECT canonical_url, count(*)::BIGINT AS n_fetches FROM c GROUP BY 1)
SELECT r.doc_id, r.canonical_url, epoch_us(r.ts) AS ts_micros, f.n_fetches
FROM r JOIN f USING (canonical_url) WHERE rn = 1"""

  /** q_strat_sample_exact: exactly k rows per lang by md5-hash order —
    * the same md5 arithmetic restated with DuckDB's hex cast.
    */
  def stratifiedSampleExact(k: Int): String =
    s"""WITH h AS (SELECT doc_id, lang,
  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#exact'), 1, 8)) AS BIGINT) AS hk
  FROM documents),
r AS (SELECT doc_id, lang, row_number() OVER
  (PARTITION BY lang ORDER BY hk, doc_id) AS rn FROM h)
SELECT doc_id, lang FROM r WHERE rn <= $k"""

  /** q_readability: the Flesch formula over the dirty shell — identical
    * integer counts (terminal-punctuation runs, vowel-group runs +
    * vowel-less-word floor) and the same fixed double expression tree.
    */
  val readability: String =
    s"""WITH dd AS (SELECT doc_id, $DirtyShellDuck AS dirty FROM documents),
c AS (SELECT doc_id,
  len(list_filter(string_split_regex(dirty, '\\s+'), x -> x <> ''))::BIGINT AS n_words,
  greatest(len(regexp_extract_all(dirty, '[.!?]+')), 1)::BIGINT AS n_sentences,
  (len(regexp_extract_all(lower(dirty), '[aeiouy]+'))
   + len(list_filter(list_filter(string_split_regex(dirty, '\\s+'), x -> x <> ''),
       w -> NOT regexp_matches(lower(w), '[aeiouy]'))))::BIGINT AS n_syllables
FROM dd)
SELECT doc_id, n_words, n_sentences, n_syllables,
  round(206.835 - 1.015 * (n_words / n_sentences) - 84.6 * (n_syllables / n_words), 4)
    AS flesch
FROM c WHERE n_words > 0"""

  val urlDedup: String =
    s"""WITH k AS (SELECT doc_id, doc_id % 120 AS k FROM documents),
c AS (SELECT doc_id, $CanonicalUrlDuck AS canonical_url
FROM k)
SELECT min(doc_id) AS doc_id, canonical_url, count(*)::BIGINT AS n_dupes
FROM c GROUP BY canonical_url"""

  /** q_html_extract synthesis contract: the Spark side wraps `text` in
    * deterministically messy markup — DOCTYPE/head/title, a style element,
    * a script element when doc_id%3=0 (content includes a bare `<` and an
    * embedded `<b>` tag), a comment, a nav div with `&amp;`/`&nbsp;` and an
    * attribute-entity link, and a `<pre>` of double-escaped entities when
    * doc_id%5=0 — then runs `PipelineOps.htmlExtract`. This oracle
    * CONSTRUCTS the expected extraction arithmetically (no regexes), so the
    * whole strip/decode/collapse chain is checked independently.
    */
  val htmlExtract: String =
    """SELECT doc_id,
  'Doc ' || doc_id::VARCHAR || ' Home & About | Links ' || text ||
  (CASE WHEN doc_id % 5 = 0 THEN ' <tag> "q" ''s''' ELSE '' END) AS extracted_text
FROM documents"""

  /** q_lm_surprise: independent DuckDB formulation of the unigram-LM
    * surprise score — integer arithmetic end to end (floor-log2 via
    * length(bin(x))-1), so no float summation order can flip a digit.
    */
  val lmSurprise: String =
    s"""WITH $T,
p AS (SELECT doc_id, unnest(toks) AS tok FROM t),
lm AS (SELECT tok, count(*) AS cnt FROM p GROUP BY tok),
tot AS (SELECT sum(cnt)::BIGINT AS lm_total FROM lm),
s AS (SELECT doc_id, length(bin((lm_total // cnt)::BIGINT)) - 1 AS bits
      FROM p JOIN lm USING (tok) CROSS JOIN tot),
a AS (SELECT doc_id, count(*)::BIGINT AS n_toks, sum(bits)::BIGINT AS sum_bits
      FROM s GROUP BY doc_id),
m AS (SELECT doc_id, n_toks, sum_bits,
      ((sum_bits * 1000) // n_toks)::BIGINT AS mean_millibits FROM a)
SELECT doc_id, n_toks, sum_bits, mean_millibits, $LmBucketExpr AS lm_bucket
FROM m"""

  /** q_bigram_lm: independent DuckDB formulation of the add-one-smoothed
    * bigram conditional surprise — integer arithmetic end to end (floor-log2
    * via length(bin(x)) - 1); context totals come off the distinct-bigram
    * frame and V is the distinct-continuation vocabulary, so
    * (cnt1 + V)/(cnt2 + 1) is the inverse smoothed conditional probability.
    */
  val bigramSurprise: String =
    s"""WITH $T,
b AS (SELECT doc_id, toks[i] AS p, toks[i+1] AS c
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t WHERE len(toks) >= 2)),
lm2 AS (SELECT p, c, count(*)::BIGINT AS cnt2 FROM b GROUP BY p, c),
ctx AS (SELECT p, sum(cnt2)::BIGINT AS cnt1 FROM lm2 GROUP BY p),
v AS (SELECT count(DISTINCT c)::BIGINT AS vsz FROM lm2),
s AS (SELECT doc_id, length(bin(((cnt1 + vsz) // (cnt2 + 1))::BIGINT)) - 1 AS bits
      FROM b JOIN lm2 USING (p, c) JOIN ctx USING (p) CROSS JOIN v),
a AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(bits)::BIGINT AS sum_bits
      FROM s GROUP BY doc_id),
m AS (SELECT doc_id, n_bigrams, sum_bits,
      ((sum_bits * 1000) // n_bigrams)::BIGINT AS mean_millibits FROM a)
SELECT doc_id, n_bigrams, sum_bits, mean_millibits, $BigramBucketExpr AS ppx_bucket FROM m"""

  /** q_hybrid_rrf: reciprocal-rank fusion of the BM25 sparse leg (the
    * [[bm25Scores]] reformulation) and the dense cosine leg ([[cosineTopK]]).
    * Each leg is cut to its top-legK by the leg op's own order, re-ranked by
    * (4dp-rounded score DESC, id ASC) — the identical tie law to the Spark
    * side — and fused with per-leg 1/(kRrf+rank) IEEE-double contributions
    * summed in fixed leg order.
    */
  def hybridRrf(terms: Seq[String], queryVecId: Long, k: Int, legK: Int,
      kRrf: Int): String =
    s"""WITH sp AS (SELECT doc_id, bm25 AS s FROM (${bm25Scores(terms)})
      ORDER BY bm25 DESC, doc_id LIMIT $legK),
spr AS (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id)::BIGINT AS r_sparse FROM sp),
dn AS (SELECT vec_id AS doc_id, cos AS s FROM (${cosineTopK(queryVecId, legK)})),
dnr AS (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id)::BIGINT AS r_dense FROM dn),
f AS (SELECT coalesce(spr.doc_id, dnr.doc_id) AS doc_id, spr.r_sparse, dnr.r_dense,
      round(coalesce(1.0::DOUBLE / (${kRrf}::DOUBLE + spr.r_sparse), 0.0::DOUBLE)
          + coalesce(1.0::DOUBLE / (${kRrf}::DOUBLE + dnr.r_dense), 0.0::DOUBLE), 6) AS rrf
      FROM spr FULL OUTER JOIN dnr ON spr.doc_id = dnr.doc_id)
SELECT doc_id, r_sparse, r_dense, rrf FROM f ORDER BY rrf DESC, doc_id LIMIT $k"""

  /** q_decontam_spans: span-level decontamination over 3-grams, benchmark =
    * doc_id % 97 = 0 subset, corpus = the rest. Independent relational
    * formulation: positional grams via a list comprehension + parallel
    * unnest, hit positions by equi-join, token survival by a NOT EXISTS
    * range probe, reassembly via ordered string_agg (the Spark side does
    * the surgery with an indexed `filter` lambda on the token array).
    */
  val decontaminateSpans: String =
    s"""WITH $T,
corp AS (SELECT * FROM t WHERE doc_id % 97 != 0),
bgr AS (SELECT DISTINCT unnest([array_to_string(toks[i:i+2], ' ')
    for i in range(1, greatest(len(toks)-2, 0) + 1)]) AS g
  FROM t WHERE doc_id % 97 = 0),
g AS (SELECT doc_id,
    unnest([array_to_string(toks[i:i+2], ' ')
      for i in range(1, greatest(len(toks)-2, 0) + 1)]) AS g,
    unnest(range(1, greatest(len(toks)-2, 0) + 1)) AS pos
  FROM corp),
bad AS (SELECT DISTINCT g.doc_id, g.pos FROM g JOIN bgr USING (g)),
p AS (SELECT doc_id, unnest(toks) AS tok, unnest(range(1, len(toks)+1)) AS i FROM corp),
kept AS (SELECT p.doc_id, p.tok, p.i FROM p
  WHERE NOT EXISTS (SELECT 1 FROM bad b
    WHERE b.doc_id = p.doc_id AND b.pos <= p.i AND p.i <= b.pos + 2))
SELECT c.doc_id, len(c.toks)::BIGINT AS n_toks,
  (len(c.toks) - count(k.i))::BIGINT AS n_removed,
  coalesce(string_agg(k.tok, ' ' ORDER BY k.i), '') AS clean_text
FROM corp c LEFT JOIN kept k ON c.doc_id = k.doc_id
GROUP BY c.doc_id, len(c.toks)"""

  /** q_token_shards: token-budgeted shard layout at 2000 tokens/shard.
    * Independent formulation: one plain running-sum window over doc_id
    * (the Spark side computes the same prefix with the two-level
    * bucket-partitioned sum — no global sort).
    */
  val tokenShards: String =
    s"""WITH $T,
c AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens FROM t WHERE len(toks) > 0),
r AS (SELECT doc_id, n_tokens,
        sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS p FROM c)
SELECT doc_id, n_tokens, (p // 2000)::BIGINT AS shard_id FROM r"""

  /** q_bpe_tokens: BPE apply with the single merge ('t','h'). t != h so
    * occurrences can't overlap and the merged piece 'th' can't cascade —
    * the greedy piece count per token is exactly
    * len - (len - len(replace(tok,'th','')))/2, independent of merge
    * order, which this oracle computes with no BPE code at all.
    */
  val bpeTokens: String =
    s"""WITH $T,
p AS (SELECT doc_id, unnest(toks) AS tok FROM t)
SELECT doc_id, sum(length(tok))::BIGINT AS n_chars,
  sum(length(tok) - (length(tok) - length(replace(tok, 'th', ''))) // 2)::BIGINT AS n_pieces
FROM p GROUP BY doc_id"""

  /** q_bpe_train: a FULL independent replay of Sennrich BPE training,
    * unrolled to `numMerges` stages — each stage counts adjacent symbol
    * pairs over the (distinct word, count) frame, takes the argmax under
    * the identical (count desc, pair asc) tie law, and rewrites via a
    * `list_reduce` fold with the same leftmost-non-overlapping merge
    * semantics as the Spark side's `aggregate` fold.
    */
  def bpeTrain(numMerges: Int): String = {
    def pairs(k: Int) =
      s"""p$k AS (SELECT l[i] AS p, l[i+1] AS c, sum(cnt)::BIGINT AS n
      FROM (SELECT string_split(syms, ' ') AS l, cnt,
            unnest(range(1, len(string_split(syms, ' ')))) AS i FROM s$k)
      GROUP BY p, c)"""
    def arg(k: Int) =
      s"m${k + 1} AS (SELECT p, c, n FROM p$k ORDER BY n DESC, p, c LIMIT 1)"
    def rew(k: Int) =
      s"""s${k + 1} AS (SELECT list_reduce(string_split(s$k.syms, ' '),
      (acc, x) -> CASE WHEN x = m${k + 1}.c AND (acc = m${k + 1}.p
                       OR ends_with(acc, ' ' || m${k + 1}.p))
                  THEN acc || m${k + 1}.c ELSE acc || ' ' || x END) AS syms, s$k.cnt
      FROM s$k CROSS JOIN m${k + 1})"""
    val stages = (0 until numMerges).flatMap { k =>
      Seq(pairs(k), arg(k)) ++ (if (k < numMerges - 1) Seq(rew(k)) else Nil)
    }.mkString(",\n")
    val sel = (1 to numMerges)
      .map(i => s"SELECT ${i}::BIGINT AS rank, p, c, n AS pair_count FROM m$i")
      .mkString("\nUNION ALL ")
    s"""WITH $T,
w AS (SELECT tok, count(*)::BIGINT AS cnt
      FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok),
s0 AS (SELECT array_to_string([tok[i] for i in range(1, length(tok)+1)], ' ') AS syms, cnt FROM w),
$stages
$sel"""
  }

  /** q_quality_classifier: linear classifier inference with the weight
    * table rebuilt from the same deterministic recipe (w = tokhash % 2001
    * - 1000 over the distinct corpus vocabulary, bias 17) — integer
    * arithmetic end to end, so the filter threshold is bit-reproducible.
    */
  val qualityClassifier: String =
    s"""WITH $T,
p AS (SELECT doc_id, unnest(toks) AS tok FROM t),
w AS (SELECT tok, $TokHashDuck % 2001 - 1000 AS w
      FROM (SELECT DISTINCT unnest(toks) AS tok FROM t)),
a AS (SELECT doc_id, count(*)::BIGINT AS n_toks,
        (sum(coalesce(w.w, 0)) + 17)::BIGINT AS score
      FROM p LEFT JOIN w USING (tok) GROUP BY doc_id)
SELECT doc_id, n_toks, score, ((score * 1000) // n_toks)::BIGINT AS mean_milli FROM a"""

  /** q_substr_dedup: exact-substring self-dedup (ExactSubstr, Lee et al.
    * 2021) at minLen=20. Independent formulation: the oracle keys windows
    * by their RAW 20-gram string (the Spark side ships 16-byte md5 hashes,
    * so this also cross-checks the hash pass mangled nothing), counts
    * occurrences corpus-wide, and rebuilds survivors with the same NOT
    * EXISTS range probe + ordered string_agg as the decontam oracle.
    */
  val substrDedup: String =
    s"""WITH $T,
g AS (SELECT doc_id,
    unnest([array_to_string(toks[i:i+19], ' ')
      for i in range(1, greatest(len(toks)-19, 0) + 1)]) AS g,
    unnest(range(1, greatest(len(toks)-19, 0) + 1)) AS pos
  FROM t),
dup AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
bad AS (SELECT DISTINCT g.doc_id, g.pos FROM g JOIN dup USING (g)),
p AS (SELECT doc_id, unnest(toks) AS tok, unnest(range(1, len(toks)+1)) AS i FROM t),
kept AS (SELECT p.doc_id, p.tok, p.i FROM p
  WHERE NOT EXISTS (SELECT 1 FROM bad b
    WHERE b.doc_id = p.doc_id AND b.pos <= p.i AND p.i <= b.pos + 19))
SELECT c.doc_id, len(c.toks)::BIGINT AS n_toks,
  (len(c.toks) - count(k.i))::BIGINT AS n_removed,
  coalesce(string_agg(k.tok, ' ' ORDER BY k.i), '') AS clean_text
FROM t c LEFT JOIN kept k ON c.doc_id = k.doc_id
GROUP BY c.doc_id, len(c.toks)"""

  /** q_norm_text synthesis contract: the corpus text is wrapped with a
    * deterministic dirty shell — leading/trailing/double spaces, two tabs,
    * a decomposed `cafe` + U+0301 combining acute, BEL and DEL controls —
    * the same characters on both sides (DuckDB `chr()` is code-point
    * based so chr(769) = U+0301; Spark's chr is mod-256 ASCII, so the
    * Spark query embeds the combining mark as a unicode escape instead).
    * The oracle normalizes INDEPENDENTLY with DuckDB's own
    * `nfc_normalize` + an RE2 control-class replace + space-run collapse +
    * trim, so the JVM Normalizer path is checked against a second Unicode
    * implementation composing the same sequence.
    */
  val normText: String =
    "SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(" +
      "concat('  a', chr(9), chr(9), 'b  ', text, '  cafe', chr(769), chr(7), chr(127), ' z  ')" +
      "), '[\\x00-\\x1f\\x7f]', ' ', 'g'), ' +', ' ', 'g'), ' ') AS norm_text " +
      "FROM documents"

  /** q_dsir_weights: DSIR log-likelihood-ratio weights, target slice =
    * lang 'en'. Integer arithmetic end to end (floor-log2 via
    * length(bin(x))-1, add-one-smoothed target LM), mirroring the exact
    * formula so no float rounding can flip a bit.
    */
  val dsirWeights: String =
    s"""WITH $T,
p AS (SELECT t.doc_id, d.lang = 'en' AS is_t, unnest(toks) AS tok
      FROM t JOIN documents d ON t.doc_id = d.doc_id),
lm AS (SELECT tok, count(*) AS cnt_r,
         sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS cnt_t FROM p GROUP BY tok),
tot AS (SELECT sum(cnt_r)::BIGINT AS total_r, sum(cnt_t)::BIGINT AS total_t,
          count(*)::BIGINT AS vocab FROM lm),
s AS (SELECT doc_id,
        length(bin((total_r // cnt_r)::BIGINT)) - 1 AS bits_r,
        length(bin(((total_t + vocab) // (cnt_t + 1))::BIGINT)) - 1 AS bits_t
      FROM p JOIN lm USING (tok) CROSS JOIN tot)
SELECT doc_id, count(*)::BIGINT AS n_toks,
  sum(bits_r)::BIGINT AS sum_bits_raw, sum(bits_t)::BIGINT AS sum_bits_target,
  (sum(bits_r) - sum(bits_t))::BIGINT AS weight_bits
FROM s GROUP BY doc_id"""

  /** q_bloom_newdocs synthesis contract: new batch = exact copies of the
    * doc_id%5=0 docs (ids +1e9 — all dups) plus modified copies of the
    * doc_id%7=0 docs (ids +2e9, text || ' novel suffix' — all new). The
    * Spark side routes through a corpus Bloom filter + exact verify join;
    * this oracle is the plain text-level anti-join the op must equal bit
    * for bit.
    */
  val bloomNewDocs: String =
    """WITH newb AS (
  SELECT doc_id + 1000000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 2000000000 AS doc_id, text || ' novel suffix' AS text
  FROM documents WHERE doc_id % 7 = 0)
SELECT n.doc_id FROM newb n
WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.text = n.text)"""

  /** Dedup resolution: transitive closure over the minhash near-dup pairs
    * (recursive reachability — the independent formulation of what the Spark
    * side computes with large-star/small-star), canonical = min doc_id per
    * cluster, unpaired docs canonical to themselves.
    */
  def dedupResolve(threshold: Double): String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (${minhashPairs(threshold)}),
edges AS MATERIALIZED (SELECT ia AS u, ib AS v FROM pairs UNION SELECT ib AS u, ia AS v FROM pairs),
walk(u, v) AS (SELECT u, v FROM edges
  UNION SELECT w.u, e.v FROM walk w JOIN edges e ON w.v = e.u),
comp AS (SELECT u AS doc_id, min(v) AS mn FROM walk GROUP BY u)
SELECT d.doc_id, coalesce(least(d.doc_id, c.mn), d.doc_id) AS canonical_id,
  coalesce(least(d.doc_id, c.mn), d.doc_id) = d.doc_id AS is_kept
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id"""

  val simhash: String = {
    val bitSums = (0 until 32).map { b =>
      s"sum(CASE WHEN (h >> $b) % 2 = 1 THEN 1 ELSE -1 END) AS b$b"
    }.mkString(", ")
    val hashExpr = (0 until 32).map(b => s"(CASE WHEN b$b > 0 THEN 1 ELSE 0 END) * ${1L << b}")
      .mkString(" + ")
    s"""WITH $T,
ex AS (SELECT doc_id, unnest(toks) AS tok FROM t),
hashed AS (SELECT doc_id, $TokHashDuck AS h FROM ex),
agg AS (SELECT doc_id, $bitSums FROM hashed GROUP BY doc_id)
SELECT doc_id, CAST($hashExpr AS BIGINT) AS simhash FROM agg"""
  }

  /** Double-precision cosine, dot/(|a|*|b|) — same formula shape as the
    * Spark side (NOT list_cosine_similarity, which runs in float32 and
    * normalizes differently).
    */
  private def cosineSql(aVec: String, bVec: String): String =
    s"list_dot_product($aVec, $bVec) / " +
      s"(sqrt(list_dot_product($aVec, $aVec)) * sqrt(list_dot_product($bVec, $bVec)))"

  def cosineTopK(queryVecId: Long, k: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = $queryVecId),
scored AS (SELECT e.vec_id, ${cosineSql("e.v", "q.qv")} AS c FROM e, q WHERE e.vec_id <> $queryVecId)
SELECT vec_id, round(c, 4) AS cos FROM scored ORDER BY c DESC, vec_id LIMIT $k"""

  /** q_ann_lsh: FULL DuckDB replay of the multi-probe LSH path — row-exact,
    * no gate. The hyperplanes are part of the op's contract (seed 1234,
    * row-major `Array.fill(nBits, dim)(rnd.nextGaussian())` — the same
    * constants behind [[graft.functions.VecOps.lsh_bucket]]), so this
    * generator embeds them as SQL literals and DuckDB independently
    * recomputes bucket ids (sign-bit sums), the Hamming≤1 probe set (xor
    * with single-bit masks), the candidate scan, and the exact cosine
    * top-k over candidates — the complete annTopK semantics.
    */
  def annLshReplay(queryVecId: Long, k: Int, nBits: Int, dim: Int = 64): String = {
    val rnd = new scala.util.Random(1234)
    val planes = Array.fill(nBits, dim)(rnd.nextGaussian())
    val bitTerms = planes.zipWithIndex.map { case (p, b) =>
      val lit = "[" + p.mkString(", ") + "]::DOUBLE[]"
      s"(CASE WHEN list_dot_product(v, $lit) >= 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("\n  + ")
    val flips = (0 until nBits).map(b => s"xor(qb, ${1L << b})").mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, ($bitTerms)::BIGINT AS bucket FROM e),
q AS (SELECT bucket AS qb, v AS qv FROM b WHERE vec_id = $queryVecId),
probes AS (SELECT unnest([qb, $flips]) AS pb FROM q),
cand AS (SELECT b.vec_id, b.v FROM b
  WHERE b.bucket IN (SELECT pb FROM probes) AND b.vec_id <> $queryVecId),
scored AS (SELECT cand.vec_id, ${cosineSql("cand.v", "q.qv")} AS c FROM cand, q)
SELECT vec_id, round(c, 4) AS cos FROM scored ORDER BY c DESC, vec_id LIMIT $k"""
  }

  /** q_ann_{ivf,pq,ivfpq}: driver-checkable recall row for the
    * deterministic ANN variants — the oracle replays the EXACT top-k scan
    * (same formulation as [[cosineTopK]]) and states the expected gate
    * outcome: a full k results, recall ≥ gate, approximate cosines equal
    * to the exact recomputation, and the exact k-th cosine as independent
    * exact-side content. The strict recall measure stays in SimilaritySpec
    * (gate pattern precedent: q_percentiles_sketch / percentiles.rs
    * tolerance pinning).
    */
  def annRecall(queryVecId: Long, k: Int): String =
    s"""WITH x AS (${cosineTopK(queryVecId, k)})
SELECT $k::BIGINT AS n_approx, count(*)::BIGINT AS n_exact,
  true AS recall_ok, true AS cos_ok, min(cos) AS exact_kth_cos FROM x"""

  /** q_cosine_topk_batch: per-query exact top-k via a window over the
    * broadcast-batch cross score (the Spark side uses partition-local
    * bounded heaps; same full-precision ordering cos DESC, vec_id ASC).
    */
  def cosineTopKBatch(queryIds: Seq[Long], k: Int): String = {
    val ids = queryIds.mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ($ids)),
scored AS (SELECT q.query_id, e.vec_id, ${cosineSql("e.v", "q.qv")} AS c
  FROM e CROSS JOIN q WHERE e.vec_id NOT IN ($ids)),
r AS (SELECT query_id, vec_id, c,
  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rank FROM scored)
SELECT query_id, vec_id, round(c, 4) AS cos, rank::BIGINT AS rank
FROM r WHERE rank <= $k"""
  }

  /** q_sem_dedup: transitive closure over the exact cosine near-dup pairs
    * (recursive reachability), canonical = min vec_id per cluster.
    */
  def semDedup(threshold: Double): String =
    s"""WITH RECURSIVE p AS MATERIALIZED (${embeddingNearDup(threshold)}),
edges AS MATERIALIZED (SELECT ia AS u, ib AS v FROM p UNION SELECT ib AS u, ia AS v FROM p),
walk(u, v) AS (SELECT u, v FROM edges
  UNION SELECT w.u, e.v FROM walk w JOIN edges e ON w.v = e.u),
comp AS (SELECT u AS vec_id, min(v) AS mn FROM walk GROUP BY u)
SELECT e.vec_id, coalesce(least(e.vec_id, c.mn), e.vec_id) AS canonical_id,
  coalesce(least(e.vec_id, c.mn), e.vec_id) = e.vec_id AS is_kept
FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.vec_id"""

  /** q_sem_dedup_ivf: the DETERMINISTIC invariants of the IVF-celled
    * SemDeDup path vs the exact twin the [[semDedup]] oracle replays —
    * refinement and kept-superset hold by construction (IVF within-cell
    * pairs are a subset of the exact pairs, so the closure can only split
    * clusters) on EVERY corpus draw; the quantitative coverage measure
    * lives in RecallGateSpec on clustered data.
    */
  def semDedupIvfAgree(threshold: Double): String =
    s"""WITH x AS (${semDedup(threshold)})
SELECT count(*)::BIGINT AS n_docs, true AS refines_ok,
  sum(CASE WHEN is_kept THEN 1 ELSE 0 END)::BIGINT AS n_kept_exact,
  true AS kept_superset_ok FROM x"""

  /** q_mutual_knn_ivf: mutual-EDGE recall gate for the IVF kNN graph vs
    * the exact graph (label agreement was draw-fragile — see the
    * SparkEntry row comment). The oracle independently replays the exact
    * side's content: doc count, exact-closure cluster count, the exact
    * mutual edge count and the minimum 4dp mutual-edge cosine; the gate
    * and invariant booleans are expected true.
    */
  def mutualKnnIvfAgree(k: Int): String =
    s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT a.vec_id, b.vec_id AS nb_id, ${cosineSql("a.v", "b.v")} AS c
  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
r AS (SELECT vec_id, nb_id, c, row_number() OVER
  (PARTITION BY vec_id ORDER BY c DESC, nb_id) AS rank FROM s),
g AS MATERIALIZED (SELECT vec_id, nb_id, round(c, 4) AS cos FROM r WHERE rank <= $k),
m AS MATERIALIZED (SELECT g.vec_id AS ia, g.nb_id AS ib, g.cos FROM g
  JOIN g g2 ON g.vec_id = g2.nb_id AND g.nb_id = g2.vec_id
  WHERE g.vec_id < g.nb_id),
edges AS MATERIALIZED (SELECT ia AS u, ib AS w FROM m UNION SELECT ib AS u, ia AS w FROM m),
walk(u, w) AS (SELECT u, w FROM edges
  UNION SELECT k2.u, e2.w FROM walk k2 JOIN edges e2 ON k2.w = e2.u),
comp AS (SELECT u AS vec_id, min(w) AS mn FROM walk GROUP BY u),
cl AS (SELECT e.vec_id, coalesce(least(e.vec_id, c.mn), e.vec_id) AS cluster_id
  FROM e LEFT JOIN comp c ON e.vec_id = c.vec_id)
SELECT (SELECT count(*) FROM cl)::BIGINT AS n_docs,
  (SELECT count(DISTINCT cluster_id) FROM cl)::BIGINT AS n_clusters_exact,
  (SELECT count(*) FROM m)::BIGINT AS n_exact,
  true AS recall_ok, true AS cos_ok, true AS labels_canonical_ok,
  (SELECT min(cos) FROM m) AS exact_kth_cos"""

  /** q_pagerank: unrolled power iteration over the synthesized host graph
    * (each doc links its home host `h(doc_id%40)` to three arithmetic
    * targets; parallel edges collapse, self-loops drop). Replays the exact
    * [[PipelineOps.pageRank]] recurrence — uniform init, dangling mass
    * redistributed uniformly — one CTE pair (dangling scalar + contribution
    * sum) per iteration.
    */
  def pageRank(iters: Int, damping: Double, hosts: Int): String = {
    val base = (1.0 - damping).toString
    val sb = new StringBuilder
    sb.append(s"""WITH raw AS (
  SELECT 'h' || CAST(doc_id % $hosts AS VARCHAR) AS src,
         'h' || CAST((doc_id * 7 + j * 11 + n_chars) % $hosts AS VARCHAR) AS dst
  FROM documents, (SELECT unnest([0, 1, 2]) AS j)),
e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
o AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY src),
r0 AS (SELECT node, (SELECT 1.0 / n FROM nn) AS rank FROM nodes)""")
    for (k <- 1 to iters) {
      val prev = s"r${k - 1}"
      sb.append(s""",
d$k AS (SELECT coalesce(sum(r.rank), 0.0) AS m FROM $prev r
  LEFT JOIN o ON r.node = o.src WHERE o.src IS NULL),
c$k AS (SELECT e.dst AS node, sum(r.rank / o.outdeg) AS s FROM e
  JOIN $prev r ON e.src = r.node JOIN o ON e.src = o.src GROUP BY e.dst),
r$k AS (SELECT nd.node,
  $base / nn.n + $damping * (coalesce(c.s, 0.0) + d.m / nn.n) AS rank
  FROM nodes nd CROSS JOIN nn CROSS JOIN d$k d
  LEFT JOIN c$k c ON c.node = nd.node)""")
    }
    sb.append(s"\nSELECT node, round(rank, 6) AS rank FROM r$iters")
    sb.toString
  }

  /** q_kmeans: full unrolled replay of [[PipelineOps.kmeansAssign]] —
    * init = vectors of the k lowest vec_ids, each round assigns under the
    * shared 6-dp-rounded squared-distance / lowest-cid tie law then takes
    * per-cluster per-dimension means (empty clusters keep the previous
    * centroid), final assignment after `iters` rounds.
    */
  def kmeans(k: Int, iters: Int, dim: Int): String = {
    def assign(a: String, c: String): String =
      s"""$a AS (SELECT vec_id, cid FROM (
  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY
    round(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.v)
      + list_dot_product(c.v, c.v), 6), c.cid) AS rn
  FROM e CROSS JOIN $c c) WHERE rn = 1)"""
    val sb = new StringBuilder
    sb.append(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $k)),
dims AS (SELECT unnest(range(1, ${dim + 1})) AS i)""")
    for (r <- 1 to iters) {
      sb.append(",\n").append(assign(s"a$r", s"c${r - 1}"))
      sb.append(s""",
m$r AS (SELECT a.cid, d.i, avg(e.v[d.i]) AS mv FROM a$r a
  JOIN e USING (vec_id) CROSS JOIN dims d GROUP BY a.cid, d.i),
c$r AS (SELECT p.cid, coalesce(m.v, p.v) AS v FROM c${r - 1} p LEFT JOIN
  (SELECT cid, list(mv ORDER BY i) AS v FROM m$r GROUP BY cid) m
  ON m.cid = p.cid)""")
    }
    sb.append(",\n").append(assign("afin", s"c$iters"))
    sb.append("\nSELECT vec_id, cid::BIGINT AS cluster FROM afin")
    sb.toString
  }

  /** q_cluster_sample: balanced downsample over the `label` strata — the
    * same md5-permille keep rule as `PipelineOps.clusterBalancedSample`
    * (keep fraction = floor(1000·minSize/size) permille of md5(vec_id#salt)).
    */
  val clusterSample: String =
    """WITH a AS (SELECT vec_id, label::BIGINT AS cluster FROM embeddings),
s AS (SELECT cluster, count(*) AS csize FROM a GROUP BY cluster),
p AS (SELECT cluster,
  CAST(floor(1000.0 * (SELECT min(csize) FROM s) / csize) AS BIGINT) AS pm FROM s)
SELECT a.vec_id, a.cluster FROM a JOIN p USING (cluster)
WHERE CAST(('0x' || substr(md5(CAST(a.vec_id AS VARCHAR) || '#balance'), 1, 8)) AS BIGINT) % 1000 < p.pm"""

  /** q_sem_contam: per-corpus-row nearest benchmark embedding (cos desc,
    * bench_id asc) + threshold flag — the brute-force restatement of the
    * broadcast-block kernel.
    */
  def semContamination(threshold: Double, benchMod: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id AS bench_id, v AS bv FROM e WHERE vec_id % $benchMod = 0),
c AS (SELECT vec_id, v FROM e WHERE vec_id % $benchMod <> 0),
scored AS (SELECT c.vec_id, b.bench_id, ${cosineSql("c.v", "b.bv")} AS cc
  FROM c CROSS JOIN b),
r AS (SELECT vec_id, bench_id, cc, row_number() OVER
  (PARTITION BY vec_id ORDER BY cc DESC, bench_id) AS rn FROM scored)
SELECT vec_id, bench_id, round(cc, 4) AS cos, cc >= $threshold AS contaminated
FROM r WHERE rn = 1"""

  /** q_knn_graph: exact per-vector top-k neighbors via a window over the
    * full cross score — the brute-force restatement of the block-pair heap
    * kernel (same full-precision ordering cos DESC, nb_id ASC).
    */
  def knnGraph(k: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT a.vec_id, b.vec_id AS nb_id, ${cosineSql("a.v", "b.v")} AS c
  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
r AS (SELECT vec_id, nb_id, c, row_number() OVER
  (PARTITION BY vec_id ORDER BY c DESC, nb_id) AS rank FROM s)
SELECT vec_id, nb_id, round(c, 4) AS cos, rank::BIGINT AS rank
FROM r WHERE rank <= $k"""

  /** q_knn_graph_ivf: edge-recall row for the IVF-celled approximate kNN
    * graph vs the exact graph the [[knnGraph]] oracle replays — every
    * vector keeps a full k edges (its own cell plus nprobe−1 neighbors
    * always hold ≥ k candidates on this corpus), recall over edge pairs
    * ≥ gate, and agreed edges carry identical 4dp cosines.
    */
  def knnGraphRecall(k: Int): String =
    s"""WITH x AS (${knnGraph(k)})
SELECT count(*)::BIGINT AS n_approx, count(*)::BIGINT AS n_exact,
  true AS recall_ok, true AS cos_ok, min(cos) AS exact_kth_cos FROM x"""

  /** q_contrastive_pairs: band-classified cross scores, per-(anchor, kind)
    * window rank — the brute-force restatement of the dual-heap block
    * kernel (same full-precision ordering c DESC, pair_id ASC).
    */
  def contrastivePairs(kPos: Int, posLo: Double, posHi: Double,
      kNeg: Int, negLo: Double, negHi: Double): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT a.vec_id, b.vec_id AS pair_id, ${cosineSql("a.v", "b.v")} AS c
  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
banded AS (SELECT vec_id, pair_id, c,
  CASE WHEN c >= $posLo AND c < $posHi THEN 'pos'
       WHEN c >= $negLo AND c < $negHi THEN 'neg' END AS kind FROM s),
r AS (SELECT vec_id, pair_id, c, kind, row_number() OVER
  (PARTITION BY vec_id, kind ORDER BY c DESC, pair_id) AS rank
  FROM banded WHERE kind IS NOT NULL)
SELECT vec_id, pair_id, round(c, 4) AS cos, kind, rank::BIGINT AS rank
FROM r WHERE (kind = 'pos' AND rank <= $kPos) OR (kind = 'neg' AND rank <= $kNeg)"""

  /** q_contrastive_pairs_ivf: recall gate for the IVF-celled candidate
    * path vs the exact dual-heap kernel the [[contrastivePairs]] oracle
    * replays — recall_ok/cos_ok are the driver-checked gates (the
    * within-cell candidate set is a subset, so agreed pairs carry
    * bit-identical 4dp cosines by the shared VecBlocks fold);
    * n_exact and the exact band-floor cosine are independent content.
    */
  def contrastivePairsRecall(kPos: Int, posLo: Double, posHi: Double,
      kNeg: Int, negLo: Double, negHi: Double): String =
    s"""WITH x AS (${contrastivePairs(kPos, posLo, posHi, kNeg, negLo, negHi)})
SELECT count(*)::BIGINT AS n_exact, true AS recall_ok, true AS cos_ok,
  min(cos) AS exact_kth_cos FROM x"""

  /** q_mutual_knn: kNN edges both ways → INTERSECT keeps mutual pairs →
    * recursive reachability closure → cluster id = min member (the
    * [[semDedup]] closure pattern over the [[knnGraph]] edge rule).
    */
  def mutualKnn(k: Int): String =
    s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT a.vec_id, b.vec_id AS nb_id, ${cosineSql("a.v", "b.v")} AS c
  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
r AS (SELECT vec_id, nb_id, row_number() OVER
  (PARTITION BY vec_id ORDER BY c DESC, nb_id) AS rank FROM s),
g AS MATERIALIZED (SELECT vec_id, nb_id FROM r WHERE rank <= $k),
m AS (SELECT vec_id AS ia, nb_id AS ib FROM
  (SELECT vec_id, nb_id FROM g INTERSECT SELECT nb_id, vec_id FROM g)
  WHERE vec_id < nb_id),
edges AS MATERIALIZED (SELECT ia AS u, ib AS w FROM m UNION SELECT ib AS u, ia AS w FROM m),
walk(u, w) AS (SELECT u, w FROM edges
  UNION SELECT k.u, e2.w FROM walk k JOIN edges e2 ON k.w = e2.u),
comp AS (SELECT u AS vec_id, min(w) AS mn FROM walk GROUP BY u)
SELECT e.vec_id, coalesce(least(e.vec_id, c.mn), e.vec_id) AS cluster_id
FROM e LEFT JOIN comp c ON e.vec_id = c.vec_id"""

  /** q_host_priors: per-host volume stats joined with the full PageRank
    * replay (nested WITH inside the `pr` CTE).
    */
  def hostPriors(iters: Int, damping: Double, hosts: Int): String =
    s"""WITH pr AS (${pageRank(iters, damping, hosts)}),
h AS (SELECT 'h' || CAST(doc_id % $hosts AS VARCHAR) AS host,
  len($TokensExprDuck)::BIGINT AS n, length(text)::BIGINT AS chars FROM documents),
g AS (SELECT host, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS n_tokens,
  round(avg(chars), 4) AS avg_chars FROM h GROUP BY host)
SELECT g.host, g.n_docs, g.n_tokens, g.avg_chars, pr.rank AS host_rank
FROM g LEFT JOIN pr ON pr.node = g.host"""

  /** q_gopher_repetition: the full Table-A1 battery restated relationally
    * over the dirty shell — same integer-permille arithmetic (`//` vs
    * Spark's `div`, both truncating on non-negatives), same top-gram tie
    * law (cnt desc, gram asc), same ≥2-occurrence dup rule.
    */
  val gopherRepetition: String = {
    val topCols = Seq(2, 3, 4).map(n =>
      s"coalesce(max(CASE WHEN n = $n THEN m END), 0)::BIGINT AS top_${n}gram_char_milli")
      .mkString(",\n  ")
    val dupCols = (5 to 10).map(n =>
      s"coalesce(max(CASE WHEN n = $n THEN m END), 0)::BIGINT AS dup_${n}gram_char_milli")
      .mkString(",\n  ")
    val keep = Seq(
      "lm.dup_line_frac_milli <= 300", "lm.dup_line_char_milli <= 200",
      "coalesce(tp.top_2gram_char_milli, 0) <= 200",
      "coalesce(tp.top_3gram_char_milli, 0) <= 180",
      "coalesce(tp.top_4gram_char_milli, 0) <= 160") ++
      (5 to 10).map(n => s"coalesce(dp.dup_${n}gram_char_milli, 0) <= ${150 - (n - 5) * 10}")
    s"""WITH dd AS (SELECT doc_id, $DirtyShellDuck AS t FROM documents),
b AS (SELECT doc_id, t, greatest(length(t), 1)::BIGINT AS total_chars FROM dd),
lc AS (SELECT doc_id, total_chars, line, count(*)::BIGINT AS cnt
  FROM (SELECT doc_id, total_chars, unnest(string_split(t, chr(10))) AS line FROM b)
  GROUP BY doc_id, total_chars, line),
lm AS (SELECT doc_id,
  (sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) * 1000 // sum(cnt))::BIGINT
    AS dup_line_frac_milli,
  (sum(CASE WHEN cnt >= 2 THEN cnt * length(line) ELSE 0 END) * 1000 // max(total_chars))::BIGINT
    AS dup_line_char_milli
  FROM lc GROUP BY doc_id),
tk AS (SELECT doc_id, total_chars,
  list_filter(string_split_regex(lower(t), '[^a-z0-9]+'), x -> x <> '' AND length(x) < 40)
    AS toks FROM b),
g0 AS (SELECT doc_id, total_chars, n, toks,
  unnest(range(1, greatest(len(toks) - n + 1, 0) + 1)) AS i
  FROM (SELECT tk.*, ns.n FROM tk, (SELECT unnest(range(2, 11)) AS n) ns)),
g AS (SELECT doc_id, total_chars, n,
  array_to_string(toks[i:i+n-1], ' ') AS gram FROM g0),
gc AS (SELECT doc_id, total_chars, n, gram, count(*)::BIGINT AS cnt
  FROM g GROUP BY doc_id, total_chars, n, gram),
topg AS (SELECT doc_id, n, cnt * length(gram) * 1000 // total_chars AS m FROM
  (SELECT *, row_number() OVER (PARTITION BY doc_id, n ORDER BY cnt DESC, gram) AS rn
   FROM gc) WHERE rn = 1 AND n BETWEEN 2 AND 4),
dupg AS (SELECT doc_id, n,
  sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) * 1000 // max(total_chars) AS m
  FROM gc WHERE n BETWEEN 5 AND 10 GROUP BY doc_id, n),
tp AS (SELECT doc_id,
  $topCols
  FROM topg GROUP BY doc_id),
dp AS (SELECT doc_id,
  $dupCols
  FROM dupg GROUP BY doc_id)
SELECT lm.doc_id, lm.dup_line_frac_milli, lm.dup_line_char_milli,
  coalesce(tp.top_2gram_char_milli, 0) AS top_2gram_char_milli,
  coalesce(tp.top_3gram_char_milli, 0) AS top_3gram_char_milli,
  coalesce(tp.top_4gram_char_milli, 0) AS top_4gram_char_milli,
  coalesce(dp.dup_5gram_char_milli, 0) AS dup_5gram_char_milli,
  coalesce(dp.dup_6gram_char_milli, 0) AS dup_6gram_char_milli,
  coalesce(dp.dup_7gram_char_milli, 0) AS dup_7gram_char_milli,
  coalesce(dp.dup_8gram_char_milli, 0) AS dup_8gram_char_milli,
  coalesce(dp.dup_9gram_char_milli, 0) AS dup_9gram_char_milli,
  coalesce(dp.dup_10gram_char_milli, 0) AS dup_10gram_char_milli,
  (${keep.mkString(" AND ")}) AS keep
FROM lm LEFT JOIN tp USING (doc_id) LEFT JOIN dp USING (doc_id)"""
  }

  /** q_mixture_weights: per-domain token totals → natural share and
    * α-scaled weight (p_d ∝ n_d^α), same double pow/normalize as the
    * Spark side, 6dp.
    */
  def mixtureWeights(alpha: Double): String =
    s"""WITH d AS (SELECT lang, $TokensExprDuck AS toks FROM documents),
t AS (SELECT lang AS domain, sum(len(toks))::BIGINT AS tokens FROM d GROUP BY lang)
SELECT domain, tokens,
  round(tokens / (SELECT sum(tokens) FROM t), 6) AS share,
  round(pow(tokens, $alpha) / (SELECT sum(pow(tokens, $alpha)) FROM t), 6) AS weight
FROM t"""

  /** q_script_mix: the same literal-codepoint-range counting chain over the
    * multiscript shell (DuckDB regexp_replace needs the 'g' flag to match
    * Spark's replace-all); main script = first in range order achieving
    * the max (the Spark fold's strictly-greater replacement law).
    */
  val scriptMix: String = {
    val counts = PipelineOps.ScriptRanges.map { case (n, cls) =>
      s"length(t) - length(regexp_replace(t, '$cls', '', 'g')) AS n_$n"
    }.mkString(",\n  ")
    val names = PipelineOps.ScriptRanges.map(_._1)
    val total = names.map(n => s"n_$n").mkString(" + ")
    val milli = names.map(n =>
      s"n_$n * 1000 // greatest(n_script_chars, 1) AS ${n}_milli").mkString(",\n  ")
    val mainCase = names.init.zipWithIndex.map { case (n, i) =>
      val rest = names.drop(i + 1).map(m => s"n_$n >= n_$m").mkString(" AND ")
      s"WHEN $rest THEN '$n'"
    }.mkString("\n    ") + s"\n    ELSE '${names.last}'"
    s"""WITH w AS (SELECT doc_id, text ||
  CASE WHEN doc_id % 5 = 0 THEN ' привет мир' ELSE '' END ||
  CASE WHEN doc_id % 7 = 0 THEN ' 你好世界' ELSE '' END ||
  CASE WHEN doc_id % 11 = 0 THEN ' γειά σου' ELSE '' END ||
  CASE WHEN doc_id % 13 = 0 THEN ' مرحبا' ELSE '' END AS t FROM documents),
c AS (SELECT doc_id,
  $counts
  FROM w),
tot AS (SELECT *, $total AS n_script_chars FROM c)
SELECT doc_id, n_script_chars,
  $milli,
  CASE $mainCase END AS main_script
FROM tot"""
  }

  /** q_token_entropy: per-doc histogram entropy in the same stable form
    * `log2(N) − Σc·log2(c)/N` plus type-token ratio, 4dp.
    */
  val tokenEntropy: String =
    s"""WITH $T,
hist AS (SELECT doc_id, tok, count(*)::DOUBLE AS c
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY doc_id, tok),
a AS (SELECT doc_id, sum(c) AS n, sum(c * log2(c)) AS s,
  count(*)::BIGINT AS types FROM hist GROUP BY doc_id)
SELECT doc_id, n::BIGINT AS n_toks, types,
  round(log2(n) - s / n, 4) AS entropy, round(types / n, 4) AS ttr FROM a"""

  def embeddingNearDup(threshold: Double): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (SELECT a.vec_id AS ia, b.vec_id AS ib, ${cosineSql("a.v", "b.v")} AS c
  FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT ia, ib, round(c, 4) AS cos FROM p WHERE c >= $threshold"""

  // ------------------------------------------------------- aggregations

  /** Nested terms tree: per-parent top-3 sources (count desc, key asc) with
    * leaf sums plus parent-level count and avg on every leaf row.
    */
  val nestedAgg: String =
    """WITH lvl1 AS (SELECT lang, count(*)::BIGINT AS lang_cnt,
      |  round(avg(n_chars), 4) AS avg_c FROM documents GROUP BY lang),
      |lvl2 AS (SELECT lang, source, count(*)::BIGINT AS cnt,
      |  sum(n_chars)::BIGINT AS sum_c FROM documents GROUP BY lang, source),
      |ranked AS (SELECT *, row_number() OVER
      |  (PARTITION BY lang ORDER BY cnt DESC, source) AS rn FROM lvl2)
      |SELECT r.lang, r.source, r.cnt, r.sum_c, l.lang_cnt, l.avg_c
      |FROM ranked r JOIN lvl1 l USING (lang) WHERE rn <= 3""".stripMargin
  val aggTopHits: String =
    """WITH ranked AS (SELECT lang, doc_id, n_chars, row_number() OVER
      |  (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rank FROM documents),
      |cnts AS (SELECT lang, count(*)::BIGINT AS cnt FROM documents GROUP BY lang)
      |SELECT r.lang, r.rank::BIGINT AS rank, r.doc_id, r.n_chars, c.cnt
      |FROM ranked r JOIN cnts c USING (lang) WHERE rank <= 2""".stripMargin
  /** Range buckets materialize even when empty (range.rs keeps zero-count
    * buckets), so the oracle LEFT JOINs the bucket definitions.
    */
  val rangeAgg: String =
    """WITH b(bucket, lo, hi) AS (VALUES
      |  ('*-1000', NULL, 1000), ('1000-3000', 1000, 3000), ('3000-*', 3000, NULL))
      |SELECT b.bucket, count(d.n_chars)::BIGINT AS cnt, sum(d.n_chars)::BIGINT AS sum_c
      |FROM b LEFT JOIN documents d
      |  ON (b.lo IS NULL OR d.n_chars >= b.lo) AND (b.hi IS NULL OR d.n_chars < b.hi)
      |GROUP BY b.bucket""".stripMargin
  val filterAgg: String =
    "SELECT count(*)::BIGINT AS cnt, round(avg(n_chars), 4) AS avg_c " +
      "FROM documents WHERE n_chars >= 1000"

  val termsOrder: String =
    "SELECT source, count(*)::BIGINT AS cnt, round(avg(n_chars), 4) AS avg_c " +
      "FROM documents GROUP BY source ORDER BY avg(n_chars) DESC, source LIMIT 5"

  val termsOrderNested: String =
    """SELECT lang, source, cnt, sum_c FROM (
  SELECT lang, source, count(*)::BIGINT AS cnt, sum(n_chars)::BIGINT AS sum_c,
    row_number() OVER (PARTITION BY lang ORDER BY sum(n_chars) DESC, source) AS rn
  FROM documents GROUP BY lang, source) WHERE rn <= 2"""

  val termsAgg: String =
    s"""WITH $T SELECT tok AS term, count(*)::BIGINT AS df
FROM (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM t)
GROUP BY tok ORDER BY df DESC, term LIMIT 10"""

  val histogram: String =
    "SELECT CAST(floor(n_chars / 100.0) AS BIGINT) AS bucket, count(*)::BIGINT AS cnt " +
      "FROM documents GROUP BY bucket ORDER BY bucket"

  val statsAgg: String =
    "SELECT min(n_chars)::BIGINT AS min_c, max(n_chars)::BIGINT AS max_c, " +
      "sum(n_chars)::BIGINT AS sum_c, round(avg(n_chars), 4) AS avg_c, count(*)::BIGINT AS cnt " +
      "FROM documents"

  val extendedStats: String =
    "SELECT count(*)::BIGINT AS cnt, min(n_chars)::BIGINT AS min_c, max(n_chars)::BIGINT AS max_c, " +
      "round(avg(n_chars), 4) AS avg_c, sum(n_chars)::BIGINT AS sum_c, " +
      "sum(n_chars * n_chars)::BIGINT AS sum_sq, " +
      "round(stddev_pop(n_chars), 4) AS std_dev FROM documents"

  val termsMissing: String =
    "SELECT coalesce(CASE WHEN doc_id % 10 = 0 THEN NULL ELSE lang END, '(none)') AS lang, " +
      "count(*)::BIGINT AS cnt FROM documents GROUP BY 1"

  val histogramBounds: String =
    "WITH b AS (SELECT CAST(floor(n_chars / 500.0) * 500 AS BIGINT) AS bucket, " +
      "count(*)::BIGINT AS cnt FROM documents GROUP BY 1), " +
      "allb AS (SELECT (g * 500)::BIGINT AS bucket FROM generate_series(0, 12) s(g)) " +
      "SELECT coalesce(allb.bucket, b.bucket) AS bucket, coalesce(b.cnt, 0)::BIGINT AS cnt " +
      "FROM allb FULL OUTER JOIN b ON allb.bucket = b.bucket"

  val tweakScore: String =
    s"WITH $T SELECT doc_id, doc_id % 97 AS tweak FROM t WHERE list_contains(toks, 'spark') " +
      "ORDER BY tweak DESC, doc_id LIMIT 20"

  val cardinality: String =
    s"WITH $T SELECT count(DISTINCT tok)::BIGINT AS n_terms FROM (SELECT unnest(toks) AS tok FROM t)"

  val topHits: String =
    """SELECT lang, doc_id, n_chars FROM (
  SELECT lang, doc_id, n_chars,
    row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents) WHERE rn <= 3"""

  val facetSource: String =
    "SELECT source, count(*)::BIGINT AS cnt FROM documents GROUP BY source"

  val facetLang: String =
    "SELECT lang, count(*)::BIGINT AS cnt FROM documents GROUP BY lang"

  val percentiles: String =
    "SELECT round(quantile_cont(n_chars, 0.5), 4) AS p50, " +
      "round(quantile_cont(n_chars, 0.9), 4) AS p90, " +
      "round(quantile_cont(n_chars, 0.99), 4) AS p99 FROM documents"

  val rangeFastField: String =
    "SELECT doc_id FROM documents WHERE n_chars >= 200 AND n_chars < 400"

  /** Engine term match re-ranked by the n_chars fast field (doc_id tiebreak
    * makes the top-15 set order-free for the hash compare).
    */
  val fastFieldSort: String =
    s"WITH $T SELECT d.doc_id, d.n_chars FROM t JOIN documents d USING (doc_id) " +
      "WHERE list_contains(toks, 'spark') " +
      "ORDER BY d.n_chars DESC, d.doc_id ASC LIMIT 15"

  /** ES agg tree over the engine query's matched doc set (the
    * AggregationCollector shape): terms(source, size 5, _count desc/_key asc)
    * + avg(n_chars), all fields read from the docmap fast fields.
    */
  val aggOverQuery: String =
    s"WITH $T SELECT d.source, count(*)::BIGINT AS cnt, " +
      "round(avg(d.n_chars), 4) AS avg_c " +
      "FROM t JOIN documents d USING (doc_id) " +
      "WHERE list_contains(toks, 'fast') " +
      "GROUP BY d.source ORDER BY cnt DESC, d.source ASC LIMIT 5"

  /** Fast-field group-by + metric over engine matches. */
  val fastFieldAgg: String =
    s"WITH $T SELECT d.source, count(*)::BIGINT AS cnt, sum(d.n_chars)::BIGINT AS sum_chars " +
      "FROM t JOIN documents d USING (doc_id) " +
      "WHERE list_contains(toks, 'table') GROUP BY d.source"

  val dateHistogram: String =
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, count(*)::BIGINT AS cnt,
  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY day ORDER BY day"""

  val windowRank: String =
    """SELECT event_type, event_id, round(value, 4) AS value FROM (
  SELECT event_type, event_id, value,
    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
  FROM events) WHERE rn <= 3"""

  val sessionize: String =
    """WITH o AS (SELECT user_id,
  CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
       OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS brk
  FROM events)
SELECT user_id, sum(brk)::BIGINT AS n_sessions FROM o GROUP BY user_id"""

  val aggPricing: String =
    """SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  count(*)::BIGINT AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""

  val joinEnrich: String =
    """SELECT c.c_custkey AS custkey, count(*)::BIGINT AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey ORDER BY n_orders DESC, custkey LIMIT 10"""

  val binaryMeta: String =
    "SELECT doc_id, octet_length(encode(text))::BIGINT AS byte_len, md5(text) AS digest FROM documents"
}
