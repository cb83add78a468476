package graft.index

import java.sql.Timestamp

/** One row of a segment's postings table — the on-disk unit of the inverted
  * index. The whole segment (term dictionary + postings + skip + positions +
  * fieldnorms) lives in ONE Parquet table sorted by (field, term):
  * Parquet min/max column statistics over the sorted `term` column play the
  * role of the reference's FST prefix pruning (`/root/reference/src/termdict/
  * fst_termdict/termdict.rs:24,118` — SURVEY.md §2.1 "sorted-by-term Parquet").
  *
  * Special rows (reserved `field` names):
  *  - `field == "__norms__"`, `term == <textField>`: `postings` holds the
  *    segment's fieldnorm bytes (1 byte/doc, docId-indexed — the reference's
  *    fieldnorm file, ARCHITECTURE.md:257-260); docFreq = numDocs;
  *    totalTf = total token count of the field in this segment.
  *  - `field == "__stats__"`, `term == ""`: segment build metrics, written
  *    only by builds before the manifest became their one home; readers
  *    skip these rows.
  */
final case class PostingRow(
    segment: Int,
    field: String,
    term: String,
    docFreq: Int,
    totalTf: Long,
    postings: Array[Byte],
    skip: Array[Byte],
    positions: Array[Byte],
    ts: Timestamp = null,
    lang: String = null,
    /** General fast fields (doc rows only): typed columnar per-doc values
      * for sorting / filtering / aggregation without touching postings —
      * the reference's fast-field columnar storage
      * (`/root/reference/src/fastfield/mod.rs`, `columnar/`). One map per
      * value type (the reference's u64/i64/date monotonic mapping all fit
      * `ffLongs`; f64 in `ffDoubles`; str in `ffStrings`); null when the
      * index declares no fast fields, so unconfigured builds pay nothing.
      */
    ffLongs: Map[String, Long] = null,
    ffDoubles: Map[String, Double] = null,
    ffStrings: Map[String, String] = null,
    /** Multi-valued fast fields (the reference's columnar multi-value
      * cardinality, `columnar/` `Cardinality::Multivalued`): per-doc value
      * ARRAYS, for tags-style filter (`array_contains`) and exploded
      * aggregation.
      */
    ffLongArrays: Map[String, Seq[Long]] = null,
    ffStringArrays: Map[String, Seq[String]] = null)

object PostingRow {
  val NormsField = "__norms__"
  val StatsField = "__stats__"

  /** Doc-map rows — the row store + fast fields — live in the SAME segment
    * Parquet as the postings (single-pass build, one write): field =
    * `__doc__`, term = the document key (url), docFreq = docId, plus the
    * typed fast-field columns (ts, lang). `docId` is the dense segment-local
    * ordinal (insertion order after the deterministic sort-within-partition,
    * `src/lib.rs:296` semantics). Sorted emission keeps them in contiguous
    * row groups, so query-term reads never touch them (field predicate) and
    * doc fetches prune to them.
    */
  val DocField = "__doc__"

  def docRow(segment: Int, docId: Int, url: String, ts: Timestamp, lang: String,
      ffLongs: Map[String, Long] = null, ffDoubles: Map[String, Double] = null,
      ffStrings: Map[String, String] = null,
      ffLongArrays: Map[String, Seq[Long]] = null,
      ffStringArrays: Map[String, Seq[String]] = null): PostingRow =
    PostingRow(segment, DocField, url, docId, 0L,
      Array.emptyByteArray, Array.emptyByteArray, Array.emptyByteArray, ts, lang,
      ffLongs, ffDoubles, ffStrings, ffLongArrays, ffStringArrays)
}

/** Per-segment build metrics, logged in the manifest (north rule: segment
  * metrics — docs/sec, postings bytes; mirrors `src/space_usage/mod.rs`).
  */
final case class SegmentMeta(
    segment: Int,
    numDocs: Int,
    totalTokens: Long,
    postingsBytes: Long,
    buildMillis: Long,
    docsPerSec: Double,
    mergeFanIn: Int,
    /** commitSeq at which this segment was published — the opstamp that
      * decides which deletes apply to it (a delete only affects segments
      * committed before it, `src/indexer/delete_queue.rs` semantics).
      */
    createdSeq: Long = 0L)

/** One tombstone: delete-by-term recorded at `opstamp` (= the commitSeq the
  * delete was published with). Applies to a segment iff
  * `segment.createdSeq < opstamp` (docs added after the delete survive).
  *
  * Delete-by-QUERY tombstones (the reference's `IndexWriter::delete_query`,
  * `src/indexer/index_writer.rs:698`) ride the SAME queue — the reference's
  * `delete_queue.rs` also holds both op kinds uniformly as `DeleteOperation
  * { opstamp, target: Weight }`. Here `field == DeleteTerm.QueryField` marks
  * a query op and `term` carries the engine query string (parsed with the
  * index's own recorded analyzer when resolved). Old readers treat the row
  * as a term tombstone on a field no document has — harmless — so the
  * manifest format is unchanged in both directions.
  */
final case class DeleteTerm(field: String, term: String, opstamp: Long)

object DeleteTerm {
  /** Sentinel field marking a delete-by-query tombstone ("__" prefix is
    * reserved for internal rows, so no user field can collide).
    */
  val QueryField = "__delete_query__"
}

/** Declared fast field: `name` is the docmap column the Searcher exposes,
  * `ftype` ∈ {"long","double","string","longs","strings"} picks the typed
  * map it lives in — plural forms are multi-valued arrays (the reference's
  * per-field `FAST` flag + column type + cardinality,
  * `src/schema/numeric_options.rs`, `src/fastfield/mod.rs`).
  */
final case class FastField(name: String, ftype: String)

/** Index manifest = the reference's `meta.json` (ARCHITECTURE.md:51-53):
  * atomically swapped on commit, carries the segment list + schema + commit
  * sequence (opstamp analog) + per-segment lineage and metrics. Resume =
  * diff planned segments against `segments` (SURVEY.md §7.3).
  */
final case class IndexManifest(
    version: Int,
    commitSeq: Long,
    keyField: String,
    textField: String,
    rawFields: Seq[String],
    numPartitions: Int,
    segments: Seq[SegmentMeta],
    deletes: Seq[DeleteTerm] = Nil,
    /** Fast fields declared at build time — the schema the Searcher uses to
      * flatten docmap map columns into named, typed columns.
      */
    fastFields: Seq[FastField] = Nil,
    /** Named analyzer of the text field (TokenizerManager registration);
      * the query parser must analyze with the same chain.
      */
    textAnalyzer: String = "default",
    /** Extra analyzed text fields (multi-field schema) and any per-field
      * analyzer overrides — `QueryParser(fieldAnalyzers =
      * manifest.textFieldAnalyzers)` keeps query-side analysis in step.
      */
    textFields: Seq[String] = Nil,
    textFieldAnalyzers: Map[String, String] = Map.empty,
    /** Build-time advisories (never fatal): currently the derived
      * heap-to-arena sizing check — see IndexBuilder's manifest assembly.
      * Absent in pre-v8 manifests; json4s fills the default.
      */
    warnings: Seq[String] = Nil,
    /** Parquet codec of the segment files (`IndexConfig.compression`);
      * merges write their segments with it. Manifests written before it
      * was recorded read as snappy, the codec their merges used.
      */
    compression: String = "snappy") {
  def totalDocs: Long = segments.map(_.numDocs.toLong).sum
  def totalTokens: Long = segments.map(_.totalTokens).sum
  def segmentIds: Seq[Int] = segments.map(_.segment)
  /** Tombstones applicable to one segment (opstamp ordering). */
  def deletesFor(meta: SegmentMeta): Seq[DeleteTerm] =
    deletes.filter(d => meta.createdSeq < d.opstamp)
}

object IndexManifest {
  /** On-disk format version (bumped when the segment schema changes). */
  val FormatVersion = 8

  import org.json4s._
  import org.json4s.jackson.Serialization
  private implicit val fmts: Formats = DefaultFormats

  def toJson(m: IndexManifest): String = Serialization.writePretty(m)
  def fromJson(s: String): IndexManifest = Serialization.read[IndexManifest](s)

  /** Atomic publish: write tmp then rename — the `meta.json` swap. Works for
    * local and HDFS-style filesystems via Hadoop FS.
    *
    * Every publish ALSO writes an immutable per-commit copy under
    * `manifests/manifest-<seq>.json` (Iceberg-style snapshot log): the
    * current pointer stays `manifest.json`, while the history enables
    * time-travel readers (`Searcher.atSnapshot`) and safe concurrent readers
    * across merges when old segment files are retained
    * (`SegmentMerger.merge(keepOld = true)` + `Snapshots.expire`).
    */
  def write(spark: org.apache.spark.sql.SparkSession, indexDir: String, m: IndexManifest): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val bytes = toJson(m).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val path = new org.apache.hadoop.fs.Path(indexDir, "manifest.json")
    val fs = path.getFileSystem(conf)
    // snapshot-log copy first, so the current pointer never lacks its history
    // entry (a resumed commit rewrites the same seq idempotently)
    val hist = Snapshots.manifestPath(indexDir, m.commitSeq)
    val hout = fs.create(hist, true)
    hout.write(bytes)
    hout.close()
    val tmp = new org.apache.hadoop.fs.Path(indexDir, s"manifest.json.tmp-${m.commitSeq}")
    val out = fs.create(tmp, true)
    out.write(bytes)
    out.close()
    fs.delete(path, false)
    if (!fs.rename(tmp, path)) throw new java.io.IOException(s"manifest rename failed: $tmp -> $path")
  }

  def read(spark: org.apache.spark.sql.SparkSession, indexDir: String): Option[IndexManifest] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(indexDir, "manifest.json")
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      val bytes = org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
      in.close()
      Some(fromJson(new String(bytes, java.nio.charset.StandardCharsets.UTF_8)))
    }
  }
}
