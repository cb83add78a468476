package graft.search

import org.apache.hadoop.conf.Configuration
import org.apache.spark.{Partition, SerializableWritable, SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, QueryExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftshim.ScanShim
import org.apache.spark.sql.util.QueryExecutionListener
import graft.index.SegmentFiles
import graft.index.SegmentFiles.Clause

/** What one segment scan runs: one task per (segment, query shard), where
  * the i-th query belongs to shard i % nShards. Each task reads its own
  * segment's files pruned to its shard's `clauses`, assembles the segment's
  * kernel context and runs `kernel` over it and its shard's queries; the
  * kernel's rows are the scan's output.
  */
private[search] final case class ScanSpec(indexDir: String, segs: Array[SegmentFiles], shards: Array[ScanShard],
    state: Broadcast[Searcher.KernelState], conf: Broadcast[SerializableWritable[Configuration]],
    kernel: (Searcher.SegmentTask, Iterator[(CQuery, Int)]) => Iterator[InternalRow]) {
  def numPartitions: Int = segs.length * shards.length
  /** The plan string's arguments: counts only, never the queries. */
  def summary: String =
    s"segments=${segs.length}, shards=${shards.length}, queries=${shards.map(_.queries.size).sum}"
}

/** One query shard: its queries (with their batch indices) and the clauses
  * of its pruned read.
  */
private[search] final case class ScanShard(queries: Seq[(CQuery, Int)], clauses: Seq[Clause])

/** The logical leaf of every kernel-running call, planned by
  * [[SegmentScanStrategy]] into a [[SegmentScanExec]].
  */
private[search] final case class SegmentScan(output: Seq[Attribute], spec: ScanSpec) extends LeafNode {
  // Joins over a scan's matches (aggregations, re-ranking) broadcast it:
  // its size is unknown before it runs, and one row per task stands in.
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(math.max(1, spec.numPartitions)) *
      org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils.getSizePerRow(output))
  override protected def stringArgs: Iterator[Any] = Iterator(spec.summary)
}

object SegmentScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SegmentScan(output, spec) => SegmentScanExec(output, spec) :: Nil
    case _ => Nil
  }
}

/** The physical segment scan: a leaf outside whole-stage codegen whose
  * partitions are the spec's (segment, query shard) tasks. Each task
  * reports what it read as task input metrics (posting rows, including the
  * url rows of a top-k fetch; postings, skip and positions blob bytes) and
  * as this node's metrics, with the Parquet opens and parts decoded it
  * caused.
  */
private[search] final case class SegmentScanExec(output: Seq[Attribute], spec: ScanSpec)
    extends LeafExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "rows" -> SQLMetrics.createMetric(sparkContext, "posting rows read"),
    "bytes" -> SQLMetrics.createSizeMetric(sparkContext, "blob bytes read"),
    "opens" -> SQLMetrics.createMetric(sparkContext, "Parquet opens"),
    "decodes" -> SQLMetrics.createMetric(sparkContext, "parts decoded"))

  override protected def stringArgs: Iterator[Any] = Iterator(spec.summary)

  override protected def doExecute(): RDD[InternalRow] =
    new SegmentScanRDD(sparkContext, spec, schema, metrics)
}

private final class ScanPartition(val index: Int, val seg: Int, val shard: Int) extends Partition

private final class SegmentScanRDD(sc: SparkContext, spec: ScanSpec,
    schema: org.apache.spark.sql.types.StructType, metrics: Map[String, SQLMetric])
    extends RDD[InternalRow](sc, Nil) {

  override protected def getPartitions: Array[Partition] =
    Array.tabulate[Partition](spec.numPartitions)(p =>
      new ScanPartition(p, p / spec.shards.length, p % spec.shards.length))

  override def compute(p: Partition, ctx: TaskContext): Iterator[InternalRow] = {
    val part = p.asInstanceOf[ScanPartition]
    val files = spec.segs(part.seg)
    val shard = spec.shards(part.shard)
    val conf = spec.conf.value.value
    // this JVM's readers of files the index no longer holds go first
    SegmentFiles.dropGone(conf, spec.indexDir, spec.segs.iterator.flatMap(_.files).toSet)
    // the reads run eagerly on this thread in `rows` and `kernel` (url
    // fetches), so the thread's delta across them is this partition's own
    val before = SegmentFiles.Counters.onThisThread
    val rows = files.rows(conf, SegmentFiles.KernelColumns, shard.clauses)
    val out =
      if (rows.isEmpty) Iterator.empty
      else spec.kernel(Searcher.SegmentTask(files, conf, Searcher.makeContext(rows.iterator,
        spec.state.value, files.segment), rows), shard.queries.iterator)
    val Seq(nRows, opens, decodes) = SegmentFiles.Counters.onThisThread.zip(before).map(d => d._1 - d._2)
    val bytes = rows.iterator.map(r => len(r.postings) + len(r.skip) + len(r.positions)).sum
    ScanShim.addInput(ctx, nRows, bytes)
    metrics("rows") += nRows
    metrics("bytes") += bytes
    metrics("opens") += opens
    metrics("decodes") += decodes
    // most tasks emit a few fruits or counts: building an interpreted
    // projection costs about a tenth of generating one (BENCH.md
    // "Per-call floor")
    if (rows.isEmpty) out
    else out.map(InterpretedUnsafeProjection.createProjection(schema.fields.toSeq.zipWithIndex.map {
      case (f, i) => BoundReference(i, f.dataType, f.nullable) }))
  }

  private def len(b: Array[Byte]): Long = if (b == null) 0L else b.length
}

object SegmentScan extends AdaptiveSparkPlanHelper {

  /** The summed metrics of every segment scan in `plans`, by name. */
  def metricsOf(plans: Seq[SparkPlan]): Map[String, Long] =
    plans.flatMap(collect(_) { case s: SegmentScanExec => s.metrics.view.mapValues(_.value) })
      .flatten.groupMapReduce(_._1)(_._2)(_ + _)

  /** Runs `body`; returns its result and the queries it ran on `spark`, as
    * a query execution listener saw them.
    */
  def executedDuring[T](spark: SparkSession)(body: => T): (T, Seq[QueryExecution]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // events of earlier queries still queued would reach the new listener
    ScanShim.drainListeners(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      ScanShim.drainListeners(spark.sparkContext)
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
