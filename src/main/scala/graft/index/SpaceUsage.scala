package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Space-usage accounting — the reference's `src/space_usage/mod.rs`
  * (`SearcherSpaceUsage` / `SegmentSpaceUsage` / `PerFieldSpaceUsage`).
  *
  * The reference walks each segment's component files (termdict / postings /
  * positions / fieldnorms / store / deletes) and sums their byte counts per
  * field. Here every component of a segment lives in ONE Parquet table, so
  * the whole report is a single distributed aggregate: one scan, one
  * `groupBy(segment, field)`, a tiny collect. Component mapping:
  *
  *  - termdict  = Σ bytes of the `term` strings (the sorted term column IS
  *    the dictionary; its Parquet min/max stats play the FST role)
  *  - postings  = Σ bytes of the `postings` blobs + `skip` blobs (doc/tf
  *    blocks + skip/block-max metadata, like `postings` + its skip info)
  *  - positions = Σ bytes of the `positions` blobs
  *  - fieldnorms = the `__norms__` row's postings blob (1 byte/doc)
  *  - store     = the `__doc__` rows (url keys + fast-field columns)
  *  - deletes   = tombstone terms in the manifest (driver-side, tiny)
  *
  * Like the reference's caveat (mod.rs:6-8), this counts logical bytes, not
  * filesystem blocks — and not Parquet's own encoding overhead/compression,
  * which `filesystemBytes` reports separately from the segment directory.
  */
object SpaceUsage {

  /** Per-field usage inside one segment (`FieldUsage`, mod.rs:258). */
  final case class FieldUsage(
      field: String,
      numTerms: Long,
      termdictBytes: Long,
      postingsBytes: Long,
      positionsBytes: Long) {
    def total: Long = termdictBytes + postingsBytes + positionsBytes
  }

  /** One segment (`SegmentSpaceUsage`, mod.rs:65). */
  final case class SegmentSpaceUsage(
      segment: Int,
      numDocs: Int,
      fields: Seq[FieldUsage],
      fieldnormsBytes: Long,
      storeBytes: Long,
      deletesBytes: Long) {
    def termdictBytes: Long = fields.map(_.termdictBytes).sum
    def postingsBytes: Long = fields.map(_.postingsBytes).sum
    def positionsBytes: Long = fields.map(_.positionsBytes).sum
    def total: Long =
      fields.map(_.total).sum + fieldnormsBytes + storeBytes + deletesBytes
  }

  /** Whole-searcher usage (`SearcherSpaceUsage`, mod.rs:31). */
  final case class SearcherSpaceUsage(segments: Seq[SegmentSpaceUsage]) {
    def total: Long = segments.map(_.total).sum
    def perField: Map[String, Long] =
      segments.flatMap(_.fields).groupBy(_.field)
        .map { case (f, us) => f -> us.map(_.total).sum }
  }

  /** Compute usage for the segments of `manifest` in one aggregate job. */
  def of(spark: SparkSession, indexDir: String, manifest: IndexManifest): SearcherSpaceUsage = {
    val rows = spark.read.parquet(s"$indexDir/postings")
      .where(col("segment").isin(manifest.segmentIds: _*))
      .groupBy("segment", "field")
      .agg(
        count(lit(1)).as("numTerms"),
        sum(octet_length(col("term"))).as("termdict"),
        sum(length(col("postings")) + length(col("skip"))).as("postings"),
        sum(length(col("positions"))).as("positions"),
        // store fast fields: 8-byte ts + lang bytes per __doc__ row
        sum(when(col("ts").isNotNull, lit(8)).otherwise(lit(0)) +
          coalesce(octet_length(col("lang")), lit(0))).as("fast"))
      .collect()

    val bySeg = rows.groupBy(_.getInt(0))
    val deletesBytes = manifest.deletes
      .map(d => d.field.getBytes("UTF-8").length + d.term.getBytes("UTF-8").length + 8L).sum
    val segs = manifest.segments.map { m =>
      val rs = bySeg.getOrElse(m.segment, Array.empty)
      var norms = 0L
      var store = 0L
      val fields = Seq.newBuilder[FieldUsage]
      rs.foreach { r =>
        val field = r.getString(1)
        val numTerms = r.getLong(2)
        val termdict = r.getLong(3)
        val postings = r.getLong(4)
        val positions = r.getLong(5)
        val fast = r.getLong(6)
        field match {
          case PostingRow.NormsField => norms += postings
          case PostingRow.StatsField => () // older builds' metrics row
          case PostingRow.DocField => store += termdict + fast
          case f => fields += FieldUsage(f, numTerms, termdict, postings, positions)
        }
      }
      SegmentSpaceUsage(m.segment, m.numDocs, fields.result().sortBy(_.field),
        norms, store, deletesBytes)
    }
    SearcherSpaceUsage(segs)
  }

  /** Physical bytes of the index directory (Parquet files + manifests) —
    * what the filesystem actually holds after columnar encoding/compression.
    */
  def filesystemBytes(spark: SparkSession, indexDir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(indexDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) 0L
    else fs.getContentSummary(path).getLength
  }

  /** Report as a DataFrame (one row per segment × field component) for
    * dashboard-style consumption at scale — stays distributed if the caller
    * writes it out instead of collecting.
    */
  def report(spark: SparkSession, indexDir: String, manifest: IndexManifest): DataFrame = {
    import spark.implicits._
    val u = of(spark, indexDir, manifest)
    u.segments.flatMap { s =>
      s.fields.map(f =>
        (s.segment, s.numDocs, f.field, f.numTerms, f.termdictBytes, f.postingsBytes,
          f.positionsBytes, f.total)) ++ Seq(
        (s.segment, s.numDocs, "__norms__", 0L, 0L, s.fieldnormsBytes, 0L, s.fieldnormsBytes),
        (s.segment, s.numDocs, "__doc__", 0L, 0L, s.storeBytes, 0L, s.storeBytes))
    }.toDF("segment", "numDocs", "field", "numTerms", "termdictBytes",
      "postingsBytes", "positionsBytes", "totalBytes")
  }
}
