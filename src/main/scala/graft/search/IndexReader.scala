package graft.search

import org.apache.spark.sql.SparkSession
import graft.index.IndexManifest

/** Reload policy for a long-lived [[IndexReader]] — the reference's
  * `ReloadPolicy` (`/root/reference/src/reader/mod.rs:21`): `Manual` holds
  * one snapshot until `reload()`; `OnCommitWithDelay` swaps to the newest
  * commit, rechecked at most once per `delayMillis` (the reference watches
  * the meta file from a thread; a Spark driver has no directory-watch on
  * HDFS/object stores, so a bounded-staleness poll at `searcher()` time is
  * the cluster-portable equivalent — one tiny manifest read, no job).
  */
sealed trait ReloadPolicy
object ReloadPolicy {
  case object Manual extends ReloadPolicy
  final case class OnCommitWithDelay(delayMillis: Long = 500L) extends ReloadPolicy
}

/** Pre-warms a freshly opened snapshot before queries see it — the
  * reference's `Warmer` (`src/reader/warming.rs`): resolve file listings,
  * prime doc-freq caches for hot terms, etc. Old snapshots are dropped by
  * GC once unreferenced (the JVM plays the role of the reference's
  * searcher-generation tracking).
  */
trait Warmer {
  def warm(searcher: Searcher): Unit
}

/** Pre-resolves global doc freqs for a fixed hot-term set, so the first
  * query batch after a reload skips the stats job (the dfCache is
  * per-snapshot).
  */
final class DocFreqWarmer(field: String, terms: Seq[String]) extends Warmer {
  override def warm(searcher: Searcher): Unit =
    searcher.docFreqs(terms.map(field -> _).toSet)
}

/** Long-lived handle dispensing point-in-time [[Searcher]]s — the
  * reference's `IndexReader` (`src/reader/mod.rs:267`). Each `Searcher` is
  * immutable (pinned to one manifest); `reload()` opens the latest commit
  * and runs the warmers on it before swapping, so in-flight queries keep
  * their old snapshot and new queries see a warmed one.
  */
final class IndexReader private (
    spark: SparkSession,
    indexDir: String,
    policy: ReloadPolicy,
    warmers: Seq[Warmer]) {

  @volatile private var current: Searcher = open()
  @volatile private var lastPollNanos: Long = System.nanoTime()

  private def open(): Searcher = {
    val s = new Searcher(spark, indexDir)
    warmers.foreach(_.warm(s))
    s
  }

  /** Open the latest commit (always — policy governs only the automatic
    * path), warm it, swap.
    */
  def reload(): Unit = synchronized { current = open() }

  /** The current snapshot's searcher. Under `OnCommitWithDelay`, at most
    * once per delay window the manifest's commitSeq is re-read (driver-side
    * file read, no Spark job) and a newer commit triggers a warmed reload.
    */
  def searcher(): Searcher = {
    policy match {
      case ReloadPolicy.Manual => ()
      case ReloadPolicy.OnCommitWithDelay(delayMs) =>
        val now = System.nanoTime()
        if ((now - lastPollNanos) >= delayMs * 1000000L) synchronized {
          if ((System.nanoTime() - lastPollNanos) >= delayMs * 1000000L) {
            lastPollNanos = System.nanoTime()
            val latest = IndexManifest.read(spark, indexDir).map(_.commitSeq)
            if (latest.exists(_ != current.manifest.commitSeq)) reload()
          }
        }
    }
    current
  }
}

object IndexReader {
  def apply(spark: SparkSession, indexDir: String,
      policy: ReloadPolicy = ReloadPolicy.OnCommitWithDelay(),
      warmers: Seq[Warmer] = Nil): IndexReader =
    new IndexReader(spark, indexDir, policy, warmers)
}
