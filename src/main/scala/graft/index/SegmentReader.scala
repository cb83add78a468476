package graft.index

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.io.api.Binary

/** One segment file, decoded once per JVM and shared by every read — the
  * reference's `SegmentReader`, opened once per reader reload and shared
  * by every query (`src/reader/mod.rs:281`, `searcher.rs:69`). The driver's
  * planning reads, and in local mode the kernel tasks' reads too, go
  * through the same reader.
  *
  * The file is decoded in parts, each at the first read that needs it: the
  * dictionary (field, term, docFreq, totalTf; `__doc__` urls and doc ids)
  * at first touch, each of the postings / skip / positions columns at the
  * first read that projects it — a driver that only plans never holds
  * blobs. Decoding keeps every row in file order, with its raw (field,
  * term) values; a read runs the pruned decode's own row test over them
  * and emits the rows it keeps, in file order, as the pruned decode does.
  *
  * A part is decoded only if its size, estimated from the footer, fits the
  * cache budget beside the parts already held; to make room, readers that
  * no read has used for [[SegmentReader.IdleNanos]] are evicted, least
  * recently used first, and no others. A part that does not fit is read
  * through the pruned decode instead. So an index larger than the budget
  * keeps the files that fit and reads the rest pruned; it never evicts a
  * file the next query reads again.
  */
private[index] final class SegmentReader private (val file: SegmentFiles.File) {
  import SegmentFiles._
  import SegmentReader._

  // written under this reader's lock; the decoded parts are immutable
  private var footer: ParquetMetadata = _
  @volatile private var dict: Dictionary = _
  @volatile private var blobs: Map[String, Array[Array[Byte]]] = Map.empty
  /** The estimated size of the decoded parts, written under the cache's lock. */
  private var bytes = 0L
  /** When [[SegmentReader.of]] last served this reader, under the cache's lock. */
  private var lastUse = 0L

  /** Streams the rows of this file that `pruned` keeps to `f`. */
  def read(conf: Configuration, segment: Int, columns: Seq[String], pruned: Pruned)(
      f: PostingRow => Unit): Unit = {
    val (pred, test) = pruned
    var n = 0L
    load(conf, columns) match {
      case Some((d, bs)) =>
        val withTf = columns.contains("totalTf")
        val Seq(postings, skip, positions) = BlobColumns.map(c => if (columns.contains(c)) bs(c) else null)
        def blob(a: Array[Array[Byte]], i: Int) = if (a == null) null else a(i)
        var i = 0
        while (i < d.rows.length) {
          val r = d.rows(i)
          if (test(d.fields(i), d.terms(i), r.docFreq)) {
            f(PostingRow(segment, r.field, r.term, r.docFreq, if (withTf) r.totalTf else 0L,
              blob(postings, i), blob(skip, i), blob(positions, i)))
            n += 1
          }
          i += 1
        }
      case None =>
        val known = synchronized(footer)
        withFile(conf, file, known, FilterCompat.get(pred)) { r =>
          decode(r, segment, columns, test) { row => f(row); n += 1 }
        }
    }
    Counters.addRows(n)
  }

  /** The decoded dictionary and the blob columns `columns` project,
    * decoding what is missing; None when that does not fit the cache.
    */
  private def load(conf: Configuration, columns: Seq[String])
      : Option[(Dictionary, Map[String, Array[Array[Byte]]])] = {
    def missing = BlobColumns.filter(c => columns.contains(c) && !blobs.contains(c))
    if (dict != null && missing.isEmpty) return Some((dict, blobs))
    synchronized {
      if (dict == null) {
        if (footer == null) withFile(conf, file, null, FilterCompat.NOOP) { r =>
          footer = r.getFooter
          cache(DictColumns)(decodeDictionary(r))
        }
        else cache(DictColumns)(withFile(conf, file, footer, FilterCompat.NOOP)(decodeDictionary))
      }
      val toDecode = missing
      val cached = dict != null && cache(toDecode) {
        withFile(conf, file, footer, FilterCompat.NOOP) { r =>
          val rows = Array.newBuilder[PostingRow]
          decode(r, 0, KeyColumns ++ toDecode, KeepAll)(rows += _)
          val rs = rows.result()
          require(rs.length == dict.rows.length, s"${file.path} changed while open")
          blobs ++= toDecode.map(c => c -> rs.map(BlobOf(c)))
        }
      }
      if (cached) Some((dict, blobs)) else None
    }
  }

  /** Runs `decodePart`, the decode of `columns`, if their estimated size
    * fits the cache; whether it ran.
    */
  private def cache(columns: Seq[String])(decodePart: => Unit): Boolean =
    columns.isEmpty || {
      val size = estimate(columns)
      reserve(this, size) && {
        try decodePart
        catch { case NonFatal(e) => release(this, size); throw e }
        Counters.decoded()
        true
      }
    }

  /** Decodes the dictionary part from `r`, opened with no filter. */
  private def decodeDictionary(r: ParquetFileReader): Unit = {
    val rows = Array.newBuilder[PostingRow]
    val fields, terms = Array.newBuilder[Binary]
    // the row test sees each row's raw values before the decoder keeps it
    val keep: RowTest = (fb, tb, _) => {
      fields += (if (fb == null) null else fb.copy)
      terms += (if (tb == null) null else tb.copy)
      true
    }
    decode(r, 0, DictColumns, keep)(rows += _)
    val names = scala.collection.mutable.HashMap.empty[String, String]
    dict = new Dictionary(
      rows.result().map(r => if (r.field == null) r else r.copy(field = names.getOrElseUpdate(r.field, r.field))),
      fields.result(), terms.result())
  }

  /** Decoded size of `columns`, from the footer: their uncompressed bytes
    * plus a per-row overhead.
    */
  private def estimate(columns: Seq[String]): Long =
    footer.getBlocks.asScala.map { b =>
      b.getColumns.asScala.filter(c => columns.contains(c.getPath.toDotString))
        .map(_.getTotalUncompressedSize).sum + b.getRowCount * RowBytes
    }.sum
}

private[index] object SegmentReader {
  import SegmentFiles.{Counters, RowTest}

  /** The heap share the decoded files may hold. */
  private val HeapFraction = 8
  /** How long a reader goes unused before its parts may be evicted for another file's. */
  private val IdleNanos = 60L * 1000 * 1000 * 1000
  @volatile private var budgetOverride: Option[Long] = None
  @volatile private var idleOverride: Option[Long] = None
  private def budget: Long = budgetOverride.getOrElse(Runtime.getRuntime.maxMemory / HeapFraction)
  private def idleNanos: Long = idleOverride.getOrElse(IdleNanos)

  /** A row's objects besides its values: the row, its term's string and
    * the raw keys, or a blob's array.
    */
  private val RowBytes = 160L

  private val KeyColumns = Seq("field", "term", "docFreq")
  private val BlobOf: Map[String, PostingRow => Array[Byte]] =
    Map("postings" -> (_.postings), "skip" -> (_.skip), "positions" -> (_.positions))
  private val KeepAll: RowTest = (_, _, _) => true

  /** Readers by file, least recently used first. */
  private val lru = new java.util.LinkedHashMap[SegmentFiles.File, SegmentReader](64, 0.75f, true)

  def of(file: SegmentFiles.File): SegmentReader = lru.synchronized {
    val r = lru.computeIfAbsent(file, new SegmentReader(_))
    r.lastUse = System.nanoTime
    r
  }

  /** Reserves `size` bytes of the budget for a part of `r`, first evicting
    * readers idle for [[idleNanos]], least recently used first, while it
    * does not fit; false (nothing reserved) if it still does not. A reader
    * evicted meanwhile reserves nothing: its decode serves the reads that
    * hold it and is dropped with them.
    */
  private def reserve(r: SegmentReader, size: Long): Boolean = lru.synchronized {
    if (size > budget || (lru.get(r.file) ne r)) false
    else {
      val now = System.nanoTime
      val it = lru.values.iterator
      var idle = true
      while (Counters.cachedBytes.get + size > budget && idle && it.hasNext) {
        val e = it.next()
        idle = now - e.lastUse >= idleNanos
        if (idle && (e ne r)) { it.remove(); Counters.cachedBytes.addAndGet(-e.bytes) }
      }
      val ok = Counters.cachedBytes.get + size <= budget
      if (ok) { r.bytes += size; Counters.cachedBytes.addAndGet(size) }
      ok
    }
  }

  private def release(r: SegmentReader, size: Long): Unit = lru.synchronized {
    r.bytes -= size
    if (lru.get(r.file) eq r) Counters.cachedBytes.addAndGet(-size)
  }

  /** Drops the readers of files under `prefix` that are not `listed` and no
    * longer exist as cached (same path, length and modification time). A
    * read holding a dropped reader finishes on the parts it holds.
    */
  private[index] def dropGone(fs: FileSystem, prefix: String, listed: Set[SegmentFiles.File]): Unit = {
    val others = lru.synchronized(lru.keySet.asScala.filter(f => f.path.startsWith(prefix) && !listed(f)).toList)
    def onDisk(f: SegmentFiles.File) =
      try { val st = fs.getFileStatus(new Path(f.path)); st.getLen == f.length && st.getModificationTime == f.mtime }
      catch { case _: java.io.FileNotFoundException => false }
    val gone = others.filterNot(onDisk)
    if (gone.nonEmpty) lru.synchronized {
      gone.foreach(f => Option(lru.remove(f)).foreach(r => Counters.cachedBytes.addAndGet(-r.bytes)))
    }
  }

  /** The estimated size of the readers held (tests: it equals `cachedBytes`). */
  private[index] def resident: Long = lru.synchronized(lru.values.asScala.map(_.bytes).sum)

  /** Runs `body` on an empty cache with a budget of `bytes` (a budget below
    * one file sends every read down the pruned decode) and readers idle
    * after `idle` nanoseconds, and empties the cache again after it.
    */
  private[index] def withBudget[T](bytes: Long, idle: Long = IdleNanos)(body: => T): T = {
    def clear(): Unit = lru.synchronized { lru.clear(); Counters.cachedBytes.set(0L) }
    clear()
    budgetOverride = Some(bytes)
    idleOverride = Some(idle)
    try body
    finally {
      budgetOverride = None
      idleOverride = None
      clear()
    }
  }

  /** One file's dictionary part: its rows (no blobs) in file order, with
    * their raw field and term values for the row test.
    */
  private final class Dictionary(val rows: Array[PostingRow], val fields: Array[Binary],
      val terms: Array[Binary])
}
