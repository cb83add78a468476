package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One executor task as the listener saw it, attributed to the span that was
  * open on the calling thread when its job started.
  */
final case class TaskRec(span: Long, stage: Int, launchMs: Long, finishMs: Long,
    cpuNs: Long, gcMs: Long, inBytes: Long, inRecords: Long,
    shuffleWrite: Long, shuffleRead: Long, outBytes: Long)

/** A span recorded by the benchmark around one public call. Times are
  * wall-clock milliseconds (the clock Spark stamps task launch/finish with)
  * plus a nanoTime duration.
  */
final case class Span(id: Long, parent: Long, name: String, req: Long,
    startMs: Long, endMs: Long, durNs: Long)

/** Per-span roll-up of the tasks its jobs ran. */
final case class SpanStats(span: Span, jobs: Int, stages: Int, tasks: Seq[TaskRec]) {
  def durMs: Double = span.durNs / 1e6
  def taskCpuMs: Double = tasks.map(_.cpuNs).sum / 1e6
  def gcMs: Double = tasks.map(_.gcMs).sum.toDouble
  def inBytes: Long = tasks.map(_.inBytes).sum
  def inRecords: Long = tasks.map(_.inRecords).sum
  def shuffleBytes: Long = tasks.map(_.shuffleWrite).sum
  def outBytes: Long = tasks.map(_.outBytes).sum

  /** Span duration minus the union of its tasks' run intervals: time spent
    * outside executor tasks (planning, scheduling, collecting results).
    */
  def selfMs: Double = {
    val iv = tasks.map(t => (math.max(t.launchMs, span.startMs), math.min(t.finishMs, span.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, durMs - covered)
  }

  /** Slowest ÷ median task duration in the stage with the most tasks. */
  def taskSkew: Double = {
    if (tasks.isEmpty) return 1.0
    val widest = tasks.groupBy(_.stage).values.maxBy(_.size)
    val d = widest.map(t => math.max(1L, t.finishMs - t.launchMs).toDouble)
    d.max / Stats.median(d)
  }
}

/** Span recorder. With tracing off every call is a plain pass-through; with
  * tracing on, each span sets a SparkContext local property that the
  * listener reads at job start, so jobs, stages and tasks land on the span
  * that caused them. Spans stay in memory and are written out at exit.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val nextId = new AtomicLong(1)
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private val stageSpan = new ConcurrentHashMap[Integer, java.lang.Long]()
  private val jobSpan = new ConcurrentHashMap[Integer, java.lang.Long]()
  private val stageIds = new ConcurrentHashMap[Integer, java.lang.Boolean]()
  private val taskRecs = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Tracer.Prop)))
      p.foreach { s =>
        jobSpan.put(e.jobId, s.toLong)
        e.stageInfos.foreach(si => stageSpan.put(si.stageId, s.toLong))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (stageSpan.containsKey(e.stageInfo.stageId)) stageIds.put(e.stageInfo.stageId, true)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val sp = stageSpan.get(e.stageId)
      if (sp != null && e.taskInfo != null) {
        val m = e.taskMetrics
        val info = e.taskInfo
        taskRecs.add(if (m == null)
          TaskRec(sp, e.stageId, info.launchTime, info.finishTime, 0, 0, 0, 0, 0, 0, 0)
        else TaskRec(sp, e.stageId, info.launchTime, info.finishTime,
          m.executorCpuTime, m.jvmGCTime,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.outputMetrics.bytesWritten))
      }
    }
  }

  private var listening = false
  /** Before unregistering, waits for the bus to deliver what is queued, so
    * the last tasks of the calls traced so far are not lost.
    */
  private def listen(on: Boolean): Unit = if (on != listening) {
    if (on) sc.addSparkListener(listener)
    else { org.apache.spark.BenchListenerBus.drain(sc); sc.removeSparkListener(listener) }
    listening = on
  }
  listen(enabled)

  /** While paused the listener is unregistered and spans are not recorded,
    * so the traced run can also time a stretch of untraced calls.
    */
  def paused_=(p: Boolean): Unit = if (enabled) listen(!p)
  def paused: Boolean = enabled && !listening

  /** Time `f` as span `name`; with tracing off or paused only the body runs. */
  def span[T](name: String, req: Long = -1L)(f: => T): T = {
    if (!listening) return f
    val id = nextId.getAndIncrement()
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    sc.setLocalProperty(Tracer.Prop, id.toString)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val dur = System.nanoTime() - t0
      val endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.toString).orNull)
      spans.synchronized { spans += Span(id, parent, name, req, startMs, endMs, dur) }
    }
  }

  /** Drains the listener bus, then rolls every recorded span up. */
  def finish(): Seq[SpanStats] = {
    if (!enabled) return Nil
    listen(false)
    val bySpan = taskRecs.asScala.toSeq.groupBy(_.span)
    val stagesBySpan = stageSpan.asScala.toSeq
      .filter { case (st, _) => stageIds.containsKey(st) }
      .groupBy(_._2.longValue).view.mapValues(_.size).toMap
    val jobsBySpan = jobSpan.asScala.toSeq.groupBy(_._2.longValue).view.mapValues(_.size).toMap
    spans.toSeq.map { s =>
      SpanStats(s, jobsBySpan.getOrElse(s.id, 0), stagesBySpan.getOrElse(s.id, 0),
        bySpan.getOrElse(s.id, Nil))
    }
  }

  /** One JSON object per span, in start order. */
  def dump(stats: Seq[SpanStats], path: java.nio.file.Path): Unit = {
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val lines = stats.sortBy(_.span.id).map { st =>
      val s = st.span
      Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> st.durMs,
        "jobs" -> st.jobs, "stages" -> st.stages, "tasks" -> st.tasks.size,
        "self_ms" -> st.selfMs, "task_cpu_ms" -> st.taskCpuMs, "gc_ms" -> st.gcMs,
        "in_bytes" -> st.inBytes, "in_records" -> st.inRecords,
        "shuffle_bytes" -> st.shuffleBytes, "out_bytes" -> st.outBytes))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val Prop = "graftbench.span"
}
