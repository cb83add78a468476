package graft.index

import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.{MessageType, PrimitiveComparator}

/** The Parquet files of one segment of one snapshot (`postings/segment=N/`),
  * read directly with parquet-hadoop — the reference's `SegmentReader`
  * (`src/core/segment_reader.rs`), without a Spark job.
  *
  * A built segment is one file sorted by (field, term); a merged segment is
  * several. A read compiles its [[SegmentFiles.Clause]]s into one
  * predicate on (field, term, docFreq) and one exact row test on those raw
  * values. Each file is served by its [[SegmentReader]], which decodes the
  * file once per JVM and runs the row test over the decoded rows. A file
  * the reader cache has no room for is read pruned instead: the read
  * projects the requested columns and pushes the predicate down, so
  * row-group statistics and page column indexes skip what they can; the row
  * test then runs on the rows left, and only the kept rows' other columns
  * are decoded. Either way a read returns the same rows in file order.
  * Terms compare in UTF-8 byte order, as Parquet's binary statistics and
  * Spark SQL do.
  *
  * Serializable: kernel tasks get their segment's file list in the closure.
  */
final case class SegmentFiles(segment: Int, files: Seq[SegmentFiles.File]) {
  import SegmentFiles._

  /** Streams the rows matching any of `clauses` to `f`, file by file, each
    * file's rows in file order.
    */
  def read(conf: Configuration, columns: Seq[String], clauses: Seq[Clause])(
      f: PostingRow => Unit): Unit = {
    val compiled = clauses.filter {
      case Terms(_, ts) => ts.nonEmpty
      case Docs(ids) => ids.nonEmpty
      case _ => true
    }.map(compile)
    if (compiled.nonEmpty) {
      val tests = compiled.map(_._2).toArray
      val pruned: Pruned =
        (compiled.map(_._1).reduce(FilterApi.or), (fb, tb, d) => tests.exists(_(fb, tb, d)))
      files.foreach { file =>
        SegmentReader.of(file).read(conf, segment, columns, pruned)(f)
        Counters.files.incrementAndGet()
      }
    }
  }

  def rows(conf: Configuration, columns: Seq[String], clauses: Seq[Clause]): Array[PostingRow] = {
    val out = Array.newBuilder[PostingRow]
    read(conf, columns, clauses)(out += _)
    out.result()
  }

  /** Stored keys (urls) of `docIds`, from this segment's `__doc__` rows
    * (term = url, docFreq = docId): the store lookup of `Searcher::doc`.
    */
  def urls(conf: Configuration, docIds: Set[Int]): Map[Int, String] =
    rows(conf, DocColumns, Seq(Docs(docIds))).iterator.map(r => r.docFreq -> r.term).toMap
}

object SegmentFiles {

  /** One file of a listing. Segment files are immutable and uniquely named
    * by their write job, so (path, length, modification time) identifies
    * one; a file rewritten in place lists as a new one.
    */
  final case class File(path: String, length: Long, mtime: Long)

  /** One disjunct of a read's row condition. */
  sealed trait Clause extends Serializable
  /** Rows of `field` whose term is one of `terms`. */
  final case class Terms(field: String, terms: Set[String]) extends Clause
  /** Rows of `field` whose term starts with `prefix`. */
  final case class Prefix(field: String, prefix: String) extends Clause
  /** Rows of `field` whose term lies within the bounds (UTF-8 order). */
  final case class Range(field: String, lo: Option[String], hi: Option[String],
      loInclusive: Boolean, hiInclusive: Boolean) extends Clause
  /** Every row of `field` (norms rows, full dictionary walks). */
  final case class AllOf(field: String) extends Clause
  /** The `__doc__` rows of the given doc ids. */
  final case class Docs(docIds: Set[Int]) extends Clause

  /** The dictionary: term, doc freq and (norms rows) token totals. */
  val DictColumns: Seq[String] = Seq("field", "term", "docFreq", "totalTf")
  /** The postings blobs, decoded only for kernel reads. */
  val BlobColumns: Seq[String] = Seq("postings", "skip", "positions")
  /** Everything a kernel task scores from. */
  val KernelColumns: Seq[String] = DictColumns ++ BlobColumns
  val DocColumns: Seq[String] = Seq("field", "term", "docFreq")

  /** Process-wide read counters: file reads (one per file per [[read]],
    * from the cache or not), rows returned, bytes read (the reading
    * thread's Hadoop file-system statistics), Parquet file opens (pruned
    * reads and decodes), parts decoded into the [[SegmentReader]] cache, and
    * the cache's resident size estimate. These reads bypass Spark's task
    * input metrics, so a query's scan volume shows here.
    */
  object Counters {
    val files, rows, bytes, opens, decodes, cachedBytes = new AtomicLong
    def snapshot: Snapshot =
      Snapshot(files.get, rows.get, bytes.get, opens.get, decodes.get, cachedBytes.get)

    /** Rows, opens and decodes counted on each thread: a read runs on the
      * calling thread, so a kernel task's own reads are its thread's delta.
      */
    private val perThread = ThreadLocal.withInitial[Array[Long]](() => new Array[Long](3))
    private[index] def addRows(n: Long): Unit = { rows.addAndGet(n); perThread.get()(0) += n }
    private[index] def opened(): Unit = { opens.incrementAndGet(); perThread.get()(1) += 1 }
    private[index] def decoded(): Unit = { decodes.incrementAndGet(); perThread.get()(2) += 1 }
    /** The calling thread's rows, opens and decodes so far. */
    def onThisThread: Seq[Long] = perThread.get().toSeq
  }

  final case class Snapshot(files: Long, rows: Long, bytes: Long, opens: Long, decodes: Long,
      cachedBytes: Long) {
    /** The counts since `before`; `cachedBytes` stays this snapshot's level. */
    def since(before: Snapshot): Snapshot =
      Snapshot(files - before.files, rows - before.rows, bytes - before.bytes, opens - before.opens,
        decodes - before.decodes, cachedBytes)
  }

  /** The files of each of `segments` under `indexDir/postings`, skipping
    * `_`/`.`-prefixed names (commit markers, checksums) as Spark's file
    * index does. A missing segment directory lists as no files. Cached
    * readers of this index's files that are gone from disk are dropped
    * ([[dropGone]]).
    */
  def list(conf: Configuration, indexDir: String, segments: Seq[Int]): Seq[SegmentFiles] = {
    val fs = new Path(indexDir).getFileSystem(conf)
    val listed = segments.map { s =>
      val dir = new Path(indexDir, s"postings/segment=$s")
      val files = if (!fs.exists(dir)) Array.empty[FileStatus] else fs.listStatus(dir)
      SegmentFiles(s, files.toSeq
        .filter(st => st.isFile && !"_.".contains(st.getPath.getName.head))
        .sortBy(_.getPath.getName)
        .map(st => File(st.getPath.toString, st.getLen, st.getModificationTime)))
    }
    dropGone(conf, indexDir, listed.flatMap(_.files).toSet)
    listed
  }

  /** Drops this JVM's cached readers of `indexDir`'s files that are not
    * `listed` and are gone from disk as cached (merged away, deleted or
    * rewritten). Listing runs it on the driver, each segment scan task on
    * its executor.
    */
  def dropGone(conf: Configuration, indexDir: String, listed: Set[File]): Unit = {
    val fs = new Path(indexDir).getFileSystem(conf)
    SegmentReader.dropGone(fs, fs.makeQualified(new Path(indexDir, "postings")).toString + "/", listed)
  }

  /** Opens `file` — with its `footer` when known, else reading it — for
    * `body`, counting the open and the bytes read. `filter` lets row-group
    * statistics and page column indexes drop what it cannot match;
    * `FilterCompat.NOOP` reads every row group.
    */
  private[index] def withFile[T](conf: Configuration, file: File, footer: ParquetMetadata,
      filter: FilterCompat.Filter)(body: ParquetFileReader => T): T = {
    val in = HadoopInputFile.fromStatus(
      new FileStatus(file.length, false, 0, 0L, file.mtime, new Path(file.path)), conf)
    // row groups and pages only: a segment file is one row group, which the
    // dictionary filter could drop only after decoding its whole term
    // dictionary, and Parquet's record filter compares every predicate leaf
    // with every record (an `in` list element by element)
    val opts = HadoopReadOptions.builder(conf).withRecordFilter(filter)
      .useDictionaryFilter(false).useRecordFilter(false).build()
    val bytes0 = threadBytesRead()
    val reader =
      if (footer == null) ParquetFileReader.open(in, opts)
      else ParquetFileReader.open(in, footer, opts, in.newStream())
    Counters.opened()
    try body(reader)
    finally {
      reader.close()
      Counters.bytes.addAndGet(threadBytesRead() - bytes0)
    }
  }

  /** Streams the rows of `reader`'s (filtered) row groups that pass `test`
    * to `f`, projected to `columns`, in file order.
    */
  private[index] def decode(reader: ParquetFileReader, segment: Int, columns: Seq[String],
      test: RowTest)(f: PostingRow => Unit): Unit = {
    val schema = reader.getFileMetaData.getSchema
    val projection = new MessageType(schema.getName,
      schema.getFields.asScala.filter(t => columns.contains(t.getName)).asJava)
    reader.setRequestedSchema(projection)
    var pages = reader.readNextFilteredRowGroup()
    while (pages != null) {
      val store = new ColumnReadStoreImpl(pages, new IgnoreValues, projection,
        reader.getFileMetaData.getCreatedBy)
      readRowGroup(store, projection, pages.getRowCount.toInt, segment, test).foreach(f)
      pages = reader.readNextFilteredRowGroup()
    }
  }

  /** Two passes over a row group's column readers: (field, term, docFreq)
    * of every row through `test`, then the kept rows' remaining columns,
    * every other value skipped.
    */
  private def readRowGroup(store: ColumnReadStoreImpl, schema: MessageType, n: Int, segment: Int,
      test: RowTest): Array[PostingRow] = {
    def column(name: String): Option[ColumnReader] =
      if (!schema.containsField(name)) None
      else Some(store.getColumnReader(schema.getColumnDescription(Array(name))))
    def present(c: ColumnReader) = c.getCurrentDefinitionLevel == c.getDescriptor.getMaxDefinitionLevel
    val Seq(fieldR, termR, docR) = Seq("field", "term", "docFreq").map(column(_).get)
    val kept = Array.newBuilder[Int]
    val keys = Array.newBuilder[(String, String, Int)]
    for (i <- 0 until n) {
      val fb = if (present(fieldR)) fieldR.getBinary else null
      val tb = if (present(termR)) termR.getBinary else null
      val d = if (present(docR)) docR.getInteger else 0
      if (test(fb, tb, d)) {
        kept += i
        keys += ((Option(fb).map(_.toStringUsingUTF8).orNull, Option(tb).map(_.toStringUsingUTF8).orNull, d))
      }
      fieldR.consume(); termR.consume(); docR.consume()
    }
    val rows = kept.result()
    def values[T >: Null : scala.reflect.ClassTag](name: String, get: ColumnReader => T): Array[T] =
      column(name).fold(Array.fill[T](rows.length)(null)) { c =>
        var row = 0
        rows.map { r =>
          while (row < r) { if (present(c)) c.skip(); c.consume(); row += 1 }
          val v = if (present(c)) get(c) else null
          c.consume(); row += 1
          v
        }
      }
    val totalTf = values[java.lang.Long]("totalTf", _.getLong)
    val Seq(postings, skip, positions) =
      BlobColumns.map(values[Array[Byte]](_, _.getBinary.getBytes))
    keys.result().zipWithIndex.map { case ((fld, term, d), k) =>
      PostingRow(segment, fld, term, d, Option(totalTf(k)).fold(0L)(_.longValue),
        postings(k), skip(k), positions(k))
    }
  }

  /** UTF-8 byte order (= code point order) of two strings, without encoding
    * them: UTF-16 order differs only where a surrogate meets a char at or
    * above U+E000, so surrogates are ranked above the rest of the BMP.
    */
  def compareUtf8(a: String, b: String): Int = {
    def rank(c: Char): Int = if (c < 0xD800) c else if (c < 0xE000) c + 0x2000 else c - 0x800
    var i = 0
    while (i < a.length && i < b.length && a.charAt(i) == b.charAt(i)) i += 1
    if (i == a.length || i == b.length) a.length - b.length
    else rank(a.charAt(i)) - rank(b.charAt(i))
  }

  val Utf8Order: Ordering[String] = (a: String, b: String) => compareUtf8(a, b)

  def inBounds(term: String, lo: Option[String], hi: Option[String],
      loInc: Boolean, hiInc: Boolean): Boolean =
    lo.forall { v => val c = compareUtf8(term, v); if (loInc) c >= 0 else c > 0 } &&
      hi.forall { v => val c = compareUtf8(term, v); if (hiInc) c <= 0 else c < 0 }

  /** Exact test of one record's raw (field, term, docFreq) values. */
  private[index] type RowTest = (Binary, Binary, Int) => Boolean
  /** A read's clauses as one pushed-down predicate and one row test. */
  private[index] type Pruned = (FilterPredicate, RowTest)

  private val fieldCol = FilterApi.binaryColumn("field")
  private val termCol = FilterApi.binaryColumn("term")
  private val byteOrder = PrimitiveComparator.UNSIGNED_LEXICOGRAPHICAL_BINARY_COMPARATOR
  private val docField = Binary.fromString(PostingRow.DocField)

  /** A clause as its pushed-down predicate and its exact row test. */
  private def compile(c: Clause): (FilterPredicate, RowTest) = {
    // (ascriptions: the operators' common supertypes are not public)
    def onField(f: String, termPred: Option[FilterPredicate], termTest: Binary => Boolean) = {
      val fb = Binary.fromString(f)
      val eqField: FilterPredicate = FilterApi.eq(fieldCol, fb)
      (termPred.fold(eqField)(FilterApi.and(eqField, _)),
        (fv: Binary, tv: Binary, _: Int) => fb == fv && termTest(tv))
    }
    def range(f: String, lo: Option[Binary], hi: Option[Binary], loInc: Boolean, hiInc: Boolean) =
      onField(f,
        (lo.map[FilterPredicate](v => if (loInc) FilterApi.gtEq(termCol, v) else FilterApi.gt(termCol, v)) ++
          hi.map[FilterPredicate](v => if (hiInc) FilterApi.ltEq(termCol, v) else FilterApi.lt(termCol, v)))
          .reduceOption(FilterApi.and),
        t => lo.forall { v => val c = byteOrder.compare(t, v); if (loInc) c >= 0 else c > 0 } &&
          hi.forall { v => val c = byteOrder.compare(t, v); if (hiInc) c <= 0 else c < 0 })
    c match {
      case Terms(f, ts) =>
        val set = new java.util.HashSet[Binary](ts.map(Binary.fromString).asJava)
        onField(f, Some(FilterApi.in(termCol, set)), set.contains)
      case Prefix(f, p) if p.nonEmpty =>
        // [p, p with its last byte incremented): UTF-8 has no 0xFF byte, so
        // the increment never carries and the range is exactly the prefix
        val lo = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val hi = lo.updated(lo.length - 1, (lo.last + 1).toByte)
        range(f, Some(Binary.fromConstantByteArray(lo)), Some(Binary.fromConstantByteArray(hi)),
          loInc = true, hiInc = false)
      case Prefix(f, _) => range(f, None, None, loInc = true, hiInc = true)
      case AllOf(f) => range(f, None, None, loInc = true, hiInc = true)
      case Range(f, lo, hi, loInc, hiInc) =>
        range(f, lo.map(Binary.fromString), hi.map(Binary.fromString), loInc, hiInc)
      case Docs(ids) =>
        (FilterApi.and(FilterApi.eq(fieldCol, docField),
          FilterApi.in(FilterApi.intColumn("docFreq"), ids.map(Int.box).asJava)),
          (fv: Binary, _: Binary, d: Int) => ids.contains(d) && docField == fv)
    }
  }

  @annotation.nowarn("cat=deprecation") // Spark's input metrics read the same statistics
  private def threadBytesRead(): Long =
    FileSystem.getAllStatistics.asScala.map(_.getThreadStatistics.getBytesRead).sum

  /** Column readers need a converter tree; the values here are read directly. */
  private final class IgnoreValues extends GroupConverter {
    private val ignore = new PrimitiveConverter {}
    override def getConverter(i: Int): Converter = ignore
    override def start(): Unit = ()
    override def end(): Unit = ()
  }
}
