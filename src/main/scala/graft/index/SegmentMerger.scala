package graft.index

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.codec.PostingsCodec

/** Hierarchical segment merge — the reference's `IndexMerger`
  * (`/root/reference/src/indexer/merger.rs:148-528`) as a pure Dataset job:
  *
  *  - merge groups are contiguous runs of segments picked by a log-bucketed
  *    size policy (`src/indexer/log_merge_policy.rs:20-130` in spirit);
  *  - docId rebase: newDocId = groupOffset(oldSegment) + oldDocId
  *    (`merger.rs:316-330`), offsets from the manifest — ranges are disjoint
  *    so per-term merge is ordered concatenation, no k-way heap needed;
  *  - the shuffle is keyed by (newSegment, field, term): a hot term costs one
  *    reducer at most `fanIn` posting rows, and fan-in is bounded — merging
  *    wider happens in ROUNDS (hierarchical), which is the skew defusal: no
  *    single reducer ever sees more than fanIn rows per term regardless of
  *    how hot the term is (north rule: salted/hierarchical repartitioning);
  *  - merge fan-in is recorded per merged segment in the manifest.
  */
object SegmentMerger {

  /** Merge plan entry: the old segments (in order) fused into one new id. */
  final case class MergeGroup(newSegment: Int, oldSegments: Seq[Int])

  /** Plan: greedy contiguous groups of up to `fanIn` segments. New ids
    * continue above the current max so they never collide.
    */
  def plan(manifest: IndexManifest, fanIn: Int): Seq[MergeGroup] = {
    val base = manifest.segments.map(_.segment).max + 1
    manifest.segments.map(_.segment).sorted.grouped(fanIn).zipWithIndex
      .map { case (g, i) => MergeGroup(base + i, g) }
      .toSeq
  }

  /** The reference's `LogMergePolicy` (`log_merge_policy.rs:8-130`): merge
    * segments of similar size. Segments sort by size (desc) and bucket into
    * exponential levels — a new level opens when log2(clipped size) falls
    * more than `levelLogSize` below the current level's opening size; levels
    * with at least `minNumSegments` members become merge candidates.
    * `maxFanIn` additionally chunks a wide level so no reducer sees more
    * than `maxFanIn` posting rows per term in one round (the hot-term bound;
    * the hierarchy's next rounds finish the level).
    */
  /** `delDocsRatioBeforeMerge`: a log level also becomes a merge candidate
    * when ANY of its segments carries more than this fraction of deleted
    * docs (`log_merge_policy.rs:62-90,123` — the reference's
    * `del_docs_ratio_before_merge`); a single-segment level then expunges
    * its deletes by rewriting alone. The default 1.0 disables the rule
    * (a ratio can never exceed 1), exactly like the reference default.
    */
  final case class LogMergePolicy(
      minNumSegments: Int = 8,
      maxDocsBeforeMerge: Int = 10000000,
      minLayerSize: Int = 10000,
      levelLogSize: Double = 0.75,
      maxFanIn: Int = 16,
      delDocsRatioBeforeMerge: Double = 1.0) {
    require(delDocsRatioBeforeMerge > 0.0 && delDocsRatioBeforeMerge <= 1.0)
  }

  def planLog(manifest: IndexManifest, policy: LogMergePolicy,
      deadBySeg: Map[Int, Int] = Map.empty): Seq[MergeGroup] = {
    val sorted = manifest.segments
      .filter(_.numDocs <= policy.maxDocsBeforeMerge)
      .sortBy(m => -m.numDocs.toLong)
    if (sorted.isEmpty) return Nil
    val levels = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[SegmentMeta]]
    var currentMax = Double.MaxValue
    sorted.foreach { m =>
      val logSize = math.log(math.max(policy.minLayerSize, m.numDocs).toDouble) / math.log(2.0)
      if (logSize < currentMax - policy.levelLogSize) {
        currentMax = logSize
        levels += scala.collection.mutable.ArrayBuffer.empty[SegmentMeta]
      }
      levels.last += m
    }
    var next = manifest.segments.map(_.segment).max + 1
    @inline def delRatio(m: SegmentMeta): Double =
      if (m.numDocs == 0) 0.0
      else deadBySeg.getOrElse(m.segment, 0).toDouble / m.numDocs
    levels.toSeq.filter(level => level.size >= policy.minNumSegments ||
        level.exists(s => delRatio(s) > policy.delDocsRatioBeforeMerge)).flatMap { level =>
      // merge in ascending-id order (global address determinism) and chunk
      // wide levels to bound per-term reducer fan-in. A level admitted only
      // by the deletes threshold may merge a chunk of ONE — that rewrite is
      // the reference's single-segment delete expunge.
      val minGroup =
        if (level.exists(s => delRatio(s) > policy.delDocsRatioBeforeMerge)) 1 else 2
      level.map(_.segment).sorted.grouped(policy.maxFanIn).filter(_.size >= minGroup).map { g =>
        val id = next
        next += 1
        MergeGroup(id, g.toSeq)
      }
    }
  }

  /** Run log-policy merge rounds until no level qualifies (the
    * `SegmentUpdater` consolidation loop, sequential for determinism).
    */
  def mergeUntilStable(spark: SparkSession, indexDir: String,
      policy: LogMergePolicy = LogMergePolicy(),
      keepOld: Boolean = false): IndexManifest = {
    var m = IndexManifest.read(spark, indexDir)
      .getOrElse(throw new IllegalStateException(s"no manifest at $indexDir"))
    // dead counts feed the deletes-ratio trigger; resolved only when the
    // rule is armed AND tombstones exist (one pruned read, see resolveDeadDocs)
    def deadCounts(mm: IndexManifest): Map[Int, Int] =
      if (policy.delDocsRatioBeforeMerge >= 1.0 || mm.deletes.isEmpty) Map.empty
      else new graft.search.Searcher(spark, indexDir)
        .resolveDeadDocs(mm.segments.map(_.segment))
        .map { case (s, dead) => s -> dead.length }
    var groups = planLog(m, policy, deadCounts(m))
    while (groups.nonEmpty) {
      m = merge(spark, indexDir, groups, keepOld = keepOld)
      groups = planLog(m, policy, deadCounts(m))
    }
    m
  }

  /** Execute one merge round; returns the updated (published) manifest.
    * Segments carrying applicable tombstones are PURGED: dead docs are
    * dropped, docIds compact (the reference merger's `doc_id_mapping`,
    * `merger.rs:316-330`), and fully-applied tombstones leave the manifest.
    *
    * `keepOld = true` is snapshot-retention mode: the merged-away segment
    * files stay on disk, so searchers opened on earlier commits — and
    * `Searcher.atSnapshot` time-travel readers over the `manifests/` log —
    * keep answering identically while the merge publishes; reclaim space
    * later with `Snapshots.expire`. The default (false) deletes the inputs
    * eagerly, which is safe only when no reader spans the commit.
    */
  def merge(spark: SparkSession, indexDir: String, groups: Seq[MergeGroup],
      keepOld: Boolean = false): IndexManifest =
    // single writer per index dir (INDEX_WRITER_LOCK): the publish below is
    // a manifest read-modify-write
    WriterLock.withLock(spark, indexDir) {
      mergeLocked(spark, indexDir, groups, keepOld)
    }

  private def mergeLocked(spark: SparkSession, indexDir: String, groups: Seq[MergeGroup],
      keepOld: Boolean): IndexManifest = {
    import spark.implicits._
    val manifest = IndexManifest.read(spark, indexDir)
      .getOrElse(throw new IllegalStateException(s"no manifest at $indexDir"))
    val byId = manifest.segments.map(m => m.segment -> m).toMap
    val oldSegsAll = groups.flatMap(_.oldSegments)

    // dead docIds per old segment — term AND delete-query tombstones,
    // resolved through the Searcher's own per-segment assembly (one tiny
    // pruned read of the tombstones' term/range/norms rows, decoded on the
    // driver — tombstone resolution cost is proportional to the tombstoned
    // terms' postings, not segment data)
    val deletedBySeg: Map[Int, Array[Int]] =
      if (oldSegsAll.forall(s => manifest.deletesFor(byId(s)).isEmpty)) Map.empty
      else new graft.search.Searcher(spark, indexDir).resolveDeadDocs(oldSegsAll)
    @inline def aliveCount(s: Int): Int =
      byId(s).numDocs - deletedBySeg.get(s).map(_.length).getOrElse(0)

    // (oldSegment) -> (newSegment, ALIVE docId offset, ordinal in group)
    val mapping: Map[Int, (Int, Int, Int)] = groups.flatMap { g =>
      var off = 0
      g.oldSegments.zipWithIndex.map { case (old, ord) =>
        val e = old -> ((g.newSegment, off, ord))
        off += aliveCount(old)
        e
      }
    }.toMap
    val bcMap = spark.sparkContext.broadcast(mapping)
    val bcDel = spark.sparkContext.broadcast(deletedBySeg)
    val oldSegs = mapping.keys.toSeq

    // exactly-once under kill/resume: a previous attempt of this same plan
    // (ids are deterministic from the manifest) may have died after writing
    // segment dirs but before the manifest swap — those ids are absent from
    // the manifest, so their dirs are partial output; delete them first
    val hconf = spark.sparkContext.hadoopConfiguration
    groups.foreach { g =>
      val pth = new org.apache.hadoop.fs.Path(s"$indexDir/postings/segment=${g.newSegment}")
      val fs = pth.getFileSystem(hconf)
      if (fs.exists(pth)) fs.delete(pth, true)
    }

    // segments built before the manifest held their metrics carry a
    // `__stats__` row; it is not carried into the merged segment
    val postings = spark.read.parquet(s"$indexDir/postings")
      .where(col("segment").isin(oldSegs: _*) && col("field") =!= PostingRow.StatsField)
      .as[PostingRow]

    val merged = postings
      .groupByKey(r => (bcMap.value(r.segment)._1, r.field, r.term))
      .flatMapGroups { (key: (Int, String, String), rows: Iterator[PostingRow]) =>
        val (newSeg, field, term) = key
        val sorted = rows.toArray.sortBy(r => bcMap.value(r.segment)._3)
        @inline def deletedOf(s: Int): Array[Int] =
          bcDel.value.getOrElse(s, Array.emptyIntArray)
        // alive rebase: new id = group offset + old id − |dead ids below it|
        @inline def rebase(s: Int, d: Int): Int = {
          val del = deletedOf(s)
          val idx = java.util.Arrays.binarySearch(del, d)
          bcMap.value(s)._2 + d - (-idx - 1)
        }
        if (field == PostingRow.DocField) {
          // doc-map rows: one per (segment, url). A delete→re-add flow puts
          // the SAME url in two group segments (dead old copy + alive new
          // copy) — drop dead rows first, then rebase every survivor, so the
          // re-added doc's map row is never shadowed by the dead one.
          sorted.iterator
            .filter(r => java.util.Arrays.binarySearch(deletedOf(r.segment), r.docFreq) < 0)
            .map(r => r.copy(segment = newSeg, docFreq = rebase(r.segment, r.docFreq)))
        } else if (field == PostingRow.NormsField) {
          // norms: concatenation in group order, dead bytes dropped
          val total = sorted.map(r => r.postings.length - deletedOf(r.segment).length).sum
          val out = new Array[Byte](total)
          var p = 0
          sorted.foreach { r =>
            val del = deletedOf(r.segment)
            if (del.isEmpty) {
              System.arraycopy(r.postings, 0, out, p, r.postings.length)
              p += r.postings.length
            } else {
              var i = 0
              var di = 0
              while (i < r.postings.length) {
                if (di < del.length && del(di) == i) di += 1
                else { out(p) = r.postings(i); p += 1 }
                i += 1
              }
            }
          }
          Iterator.single(PostingRow(newSeg, field, term, total, sorted.map(_.totalTf).sum,
            out, Array.emptyByteArray, Array.emptyByteArray))
        } else {
          val docsB = new scala.collection.mutable.ArrayBuffer[Int]()
          val tfsB = new scala.collection.mutable.ArrayBuffer[Int]()
          val boundsB = new scala.collection.mutable.ArrayBuffer[Byte]()
          val posOut = new java.io.ByteArrayOutputStream()
          sorted.foreach { r =>
            val del = deletedOf(r.segment)
            val (d, t, b) = PostingsCodec.decodeAll(r.docFreq, r.postings, r.skip, readFreqs = true)
            if (del.isEmpty) {
              val off = bcMap.value(r.segment)._2
              var i = 0
              while (i < d.length) {
                docsB += d(i) + off
                tfsB += t(i)
                boundsB += b(i)
                i += 1
              }
              posOut.write(r.positions)
            } else {
              // positions are per-doc independent VInt runs: copy alive runs
              val cur = new graft.codec.Codec.ByteCursor(r.positions, 0)
              val hasPos = r.positions.nonEmpty
              var i = 0
              while (i < d.length) {
                val start = cur.pos
                if (hasPos) cur.skipVInts(t(i))
                if (java.util.Arrays.binarySearch(del, d(i)) < 0) {
                  docsB += rebase(r.segment, d(i))
                  tfsB += t(i)
                  boundsB += b(i)
                  if (hasPos) posOut.write(r.positions, start, cur.pos - start)
                }
                i += 1
              }
            }
          }
          if (docsB.isEmpty) Iterator.empty // term existed only in dead docs
          else {
            val enc = PostingsCodec.encodeWithNormBounds(
              docsB.toArray, tfsB.toArray, posOut.toByteArray, boundsB.toArray)
            Iterator.single(PostingRow(newSeg, field, term,
              enc.docFreq, enc.totalTf, enc.postings, enc.skip, enc.positions))
          }
        }
      }
    merged.toDF().write.mode("append").partitionBy("segment")
      .option("compression", manifest.compression).parquet(s"$indexDir/postings")

    // purged segments: exact alive token totals from the merged postings
    // (total tokens == sum of term tfs), one pruned aggregate
    val tokSums: Map[Int, Long] =
      if (deletedBySeg.isEmpty) Map.empty
      else spark.read.parquet(s"$indexDir/postings")
        .where(col("segment").isin(groups.map(_.newSegment): _*) &&
          col("field") === manifest.textField)
        .groupBy("segment").agg(org.apache.spark.sql.functions.sum("totalTf").as("tt"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    val newCommitSeq = manifest.commitSeq + 1
    val newMetas = groups.map { g =>
      val olds = g.oldSegments.map(byId)
      SegmentMeta(
        segment = g.newSegment,
        numDocs = g.oldSegments.map(aliveCount).sum,
        totalTokens = tokSums.getOrElse(g.newSegment, olds.map(_.totalTokens).sum),
        postingsBytes = olds.map(_.postingsBytes).sum,
        buildMillis = olds.map(_.buildMillis).sum,
        docsPerSec = 0.0,
        mergeFanIn = g.oldSegments.size,
        createdSeq = newCommitSeq)
    }

    val untouched = manifest.segments.filterNot(m => mapping.contains(m.segment))
    val outSegments = (untouched ++ newMetas).sortBy(_.segment)
    val out = manifest.copy(
      commitSeq = newCommitSeq,
      segments = outSegments,
      // a tombstone leaves the manifest once no remaining segment predates it
      deletes = manifest.deletes.filter(d => outSegments.exists(s => s.createdSeq < d.opstamp)))
    IndexManifest.write(spark, indexDir, out)

    if (!keepOld) {
      val conf = spark.sparkContext.hadoopConfiguration
      for (sub <- Seq("postings"); s <- oldSegs) {
        val pth = new org.apache.hadoop.fs.Path(s"$indexDir/$sub/segment=$s")
        val fs = pth.getFileSystem(conf)
        fs.delete(pth, true)
      }
    }
    out
  }
}
