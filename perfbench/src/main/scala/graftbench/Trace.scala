package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters summed over the Spark work attributed to one span. */
final class SpanStats {
  var jobs, stages, tasks = 0L
  var taskCpuNs, queueMs, gcMs = 0L
  var shuffleWriteBytes, shuffleWriteRecords = 0L
  var spillBytes, inputRecords = 0L
  var scanBytes, writeBytes, filesWritten = 0L
  var cachePeakBytes = 0L
}

final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startUs: Long, var endUs: Long = -1L)

final case class JobInterval(jobId: Int, span: Int, startMs: Long, var endMs: Long = -1L)

/** Peak bytes held in memory by persisted RDD blocks, from block-update
  * events. Registered in every run: it is the only listener an untraced
  * run carries.
  */
final class CacheListener extends SparkListener {
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile var current = 0L
  @volatile var peak = 0L
  /** called on every change, so a tracer can keep per-span peaks */
  @volatile var onChange: Long => Unit = _ => ()

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val size = if (info.storageLevel.useMemory) info.memSize else 0L
      val old = Option(blocks.get(key)).map(_.longValue).getOrElse(0L)
      if (size > 0) blocks.put(key, size) else blocks.remove(key)
      current += size - old
      if (current > peak) peak = current
      onChange(current)
    }
  }

  def resetPeak(): Unit = synchronized { peak = current }
}

/** Spans around the benchmark's calls into each layer, and the listeners
  * that attribute Spark jobs, stages, tasks and SQL scans/writes to the
  * span that caused them.
  *
  * Attribution: the active span id is set as a Spark local property, so
  * every job carries it; stages and tasks inherit their job's span. SQL
  * execution events carry no job id, so the listener bus is drained at
  * every span boundary and such events go to the span that was open when
  * they were processed. Spans are only opened from the one client thread.
  */
final class Tracer(spark: SparkSession, cache: CacheListener) {
  private val sc: SparkContext = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private val t0Us = System.currentTimeMillis() * 1000L
  private def nowUs: Long = t0Us + (System.nanoTime() - t0Ns) / 1000L

  val spans = ArrayBuffer[Span]()
  val stats = mutable.Map[Int, SpanStats]()
  val jobs = ArrayBuffer[JobInterval]()
  private var stack: List[Span] = Nil
  @volatile private var current = 0 // 0 = no span open
  private var enabled = false

  private val jobSpan = new ConcurrentHashMap[Int, JobInterval]()
  private val stageSpan = new ConcurrentHashMap[Int, Integer]()

  private def statsOf(span: Int): SpanStats = stats.synchronized(stats.getOrElseUpdate(span, new SpanStats))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tagged = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
        .map(_.toInt).getOrElse(current)
      val ji = JobInterval(e.jobId, tagged, e.time)
      jobSpan.put(e.jobId, ji)
      jobs.synchronized(jobs += ji)
      e.stageIds.foreach(s => stageSpan.put(s, tagged))
      statsOf(tagged).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      statsOf(spanOfStage(e.stageInfo.stageId)).stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val s = statsOf(spanOfStage(e.stageId))
        val info = e.taskInfo
        s.tasks += 1
        s.taskCpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.queueMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        s.spillBytes += m.diskBytesSpilled
        s.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  private def spanOfStage(stage: Int): Int =
    Option(stageSpan.get(stage)).map(_.intValue).getOrElse(current)

  private val queryListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                           durationNs: Long): Unit = {
      val s = statsOf(current)
      def visit(plan: SparkPlan): Unit = collectWithSubqueries(plan) {
        case scan: FileSourceScanExec =>
          scan.metrics.get("filesSize").foreach(m => s.scanBytes += m.value)
        case w: DataWritingCommandExec =>
          w.cmd.metrics.get("numOutputBytes").foreach(m => s.writeBytes += m.value)
          w.cmd.metrics.get("numFiles").foreach(m => s.filesWritten += m.value)
        case c: CommandResultExec => visit(c.commandPhysicalPlan)
      }: Unit
      visit(qe.executedPlan)
    }
    override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                           exception: Exception): Unit = ()
  }

  /** Start attributing. Before this, spans are free pass-throughs. */
  def enable(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    cache.onChange = bytes => {
      val s = statsOf(current)
      if (bytes > s.cachePeakBytes) s.cachePeakBytes = bytes
    }
    enabled = true
  }

  /** Wait until every posted listener event has been handled. */
  def drain(): Unit = Tracer.drain(sc)

  def span[T](layer: String, fn: String)(body: => T): T =
    if (!enabled) body
    else {
      drain()
      val parent = stack.headOption
      val s = Span(spans.size + 1, parent.map(_.id).getOrElse(0), s"$layer.$fn", layer, nowUs)
      spans += s
      stack = s :: stack
      current = s.id
      sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      val cachedAtStart = cache.current
      statsOf(s.id).cachePeakBytes = cachedAtStart
      try body
      finally {
        drain()
        s.endUs = nowUs
        stack = stack.tail
        current = parent.map(_.id).getOrElse(0)
        sc.setLocalProperty(Tracer.SpanProperty, parent.map(_.id.toString).orNull)
      }
    }
}

object Tracer {
  val SpanProperty = "graftbench.span"

  /** `LiveListenerBus.waitUntilEmpty` is package-private in Scala but
    * public in bytecode.
    */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(30000L))
  }
}
