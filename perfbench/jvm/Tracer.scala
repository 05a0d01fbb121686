package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds. `parent` is -1 when
  * the span is attached to its parent later, by time containment. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    t0: Double, t1: Double, attrs: Map[String, Double] = Map.empty) {
  def toJson: String = Json.obj("id" -> id, "parent" -> parent,
    "layer" -> layer, "name" -> name, "t0" -> t0, "t1" -> t1, "attrs" -> attrs)
}

/** Wall clock in epoch milliseconds with nanosecond-timer resolution, the
  * same time base Spark's listener events use. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Collects spans from two sides. The benchmark opens a span around each
  * call into a layer's public function ([[span]]); Spark's public listeners
  * add jobs, stages (with their tasks' metrics summed), query-execution
  * phases and streaming micro-batches. Nothing is registered until
  * [[install]], so untraced windows run without any listener. */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Double]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageDone = new ConcurrentHashMap[(Int, Int), StageInfo]()
  // (stage, attempt) -> tasks, run ms, cpu ns, gc ms, shuffle read B,
  // shuffle write B, spill B, scheduler delay ms, input records, output records
  private val taskSums = new ConcurrentHashMap[(Int, Int), Array[Double]]()

  def nextId(): Long = ids.incrementAndGet()

  /** Runs `body` inside a benchmark span; the span is kept when it throws. */
  def span[T](layer: String, name: String, parent: Long)(body: Long => T): T = {
    val id = nextId()
    val t0 = Clock.now()
    try body(id)
    finally spans.add(Span(id, parent, layer, name, t0, Clock.now()))
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobSpan.put(e.jobId, nextId())
      jobStart.put(e.jobId, e.time.toDouble)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val id = jobSpan.get(e.jobId)
      val t0 = jobStart.get(e.jobId)
      if (id != null && t0 != null)
        spans.add(Span(id, -1, "sched.job", s"job ${e.jobId}", t0, e.time.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageDone.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), e.stageInfo)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val i = e.taskInfo
        val duration = (i.finishTime - i.launchTime).toDouble
        val fetch = if (i.gettingResultTime > 0) (i.finishTime - i.gettingResultTime).toDouble else 0.0
        val delay = math.max(0.0, duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - fetch)
        val sr = m.shuffleReadMetrics
        val add = Array(1.0, m.executorRunTime.toDouble, m.executorCpuTime.toDouble,
          m.jvmGCTime.toDouble, (sr.remoteBytesRead + sr.localBytesRead).toDouble,
          m.shuffleWriteMetrics.bytesWritten.toDouble,
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble, delay,
          m.inputMetrics.recordsRead.toDouble, m.outputMetrics.recordsWritten.toDouble)
        val acc = taskSums.computeIfAbsent((e.stageId, e.stageAttemptId),
          _ => new Array[Double](add.length))
        acc.synchronized { add.indices.foreach(k => acc(k) += add(k)) }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def phases(funcName: String, qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        spans.add(Span(nextId(), -1, s"plan.$phase", funcName,
          p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(funcName, qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      spans.add(Span(nextId(), -1, "stream.batch", s"batch ${p.batchId}", t0,
        t0 + d.getOrElse("triggerExecution", 0.0),
        d ++ Map("rows" -> p.numInputRows.toDouble)))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Delivers every queued event, then detaches the listeners. */
  def detach(): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** All spans recorded while installed, stages included. */
  def finish(): Seq[Span] = {
    val stages = stageDone.asScala.toSeq.map { case ((sid, att), info) =>
      val s = Option(taskSums.get((sid, att))).getOrElse(new Array[Double](10))
      val parent = Option(stageJob.get(sid)).flatMap(j => Option(jobSpan.get(j)))
        .map(_.longValue).getOrElse(-1L)
      val t0 = info.submissionTime.getOrElse(0L).toDouble
      Span(nextId(), parent, "sched.stage", s"stage $sid.$att", t0,
        info.completionTime.map(_.toDouble).getOrElse(t0),
        Map("tasks" -> s(0), "run_ms" -> s(1), "cpu_ns" -> s(2), "gc_ms" -> s(3),
          "shuffle_read_bytes" -> s(4), "shuffle_write_bytes" -> s(5),
          "spill_bytes" -> s(6), "sched_delay_ms" -> s(7),
          "records_read" -> s(8), "records_written" -> s(9)))
    }
    spans.asScala.toSeq ++ stages
  }
}

/** Process-wide counters read around each operation: Janino compiles from
  * Spark's codegen metrics, JIT compiler time and heap pool peaks. */
object JvmCounters {
  private val compiler = java.lang.management.ManagementFactory.getCompilationMXBean
  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  def codegenClasses(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def jitMs(): Long =
    if (compiler != null && compiler.isCompilationTimeMonitoringSupported)
      compiler.getTotalCompilationTime else 0L

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakBytes(): Long = heapPools.map(_.getPeakUsage.getUsed).sum
}
