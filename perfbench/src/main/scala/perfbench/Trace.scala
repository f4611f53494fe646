package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch microseconds, read from `nanoTime` so intervals are
  * monotonic, and anchored once to the epoch so they line up with the
  * millisecond timestamps Spark puts on its listener events.
  */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000L
  def micros(): Long = baseMicros + (System.nanoTime() - baseNanos) / 1000L
}

/** One interval of the trace tree: run > workload > op > phase > job >
  * stage > task. `parent` is -1 for the root or when no owner is known.
  */
final class Span(val id: Long, val parent: Long, val kind: String, val name: String,
                 val start: Long) {
  @volatile var end: Long = -1L
  val attrs: mutable.Map[String, Any] = mutable.LinkedHashMap.empty

  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "kind" -> kind,
    "name" -> name, "start" -> start, "end" -> end, "attrs" -> attrs)
}

/** In-memory span store, written out once when the run ends. */
final class Spans {
  private val ids = new AtomicLong(0L)
  private val all = mutable.ArrayBuffer.empty[Span]

  def open(parent: Long, kind: String, name: String, start: Long = Clock.micros()): Span = {
    val s = new Span(ids.incrementAndGet(), parent, kind, name, start)
    all.synchronized(all += s)
    s
  }

  def snapshot: Seq[Span] = all.synchronized(all.toList)
}

/** The traced run's listener. Jobs find their owning span through the
  * `SpanKey` local property the calling thread sets around each phase; stages and
  * tasks hang under their job. RDD block updates are summed so cached and
  * checkpointed bytes can be read at op boundaries.
  */
final class SparkTrace(spans: Spans) extends SparkListener {
  private val jobs = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Span]
  private val stages = mutable.Map.empty[(Int, Int), Span]
  private val rddBlocks = mutable.Map.empty[String, Long]
  @volatile private var peakBytes = 0L

  private def ms(t: Long): Long = t * 1000L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val owner = Option(e.properties).flatMap(p => Option(p.getProperty(SparkTrace.SpanKey)))
      .map(_.toLong).getOrElse(-1L)
    val s = spans.open(owner, "job", s"job ${e.jobId}", ms(e.time))
    // Lloyd's init jobs carry the init method in their call site; the rest
    // of a Lloyd call is its iterations
    s.attrs("init") = e.stageInfos.exists(_.details.contains("initCentroids"))
    s.attrs("stages") = e.stageIds.size
    s.attrs("site") = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobs(e.jobId) = s
    e.stageIds.foreach(stageJob(_) = s)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { s =>
      s.attrs("ok") = e.jobResult == JobSucceeded
      s.end = ms(e.time)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    val parent = stageJob.get(info.stageId).map(_.id).getOrElse(-1L)
    val start = info.submissionTime.map(ms).getOrElse(Clock.micros())
    val s = spans.open(parent, "stage", s"stage ${info.stageId}.${info.attemptNumber()}", start)
    s.attrs("tasks") = info.numTasks
    stages((info.stageId, info.attemptNumber())) = s
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stages.remove((info.stageId, info.attemptNumber())).foreach { s =>
      s.attrs("ok") = info.failureReason.isEmpty
      s.end = info.completionTime.map(ms).getOrElse(Clock.micros())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val parent = stages.get((e.stageId, e.stageAttemptId)).map(_.id).getOrElse(-1L)
    val info = e.taskInfo
    val s = spans.open(parent, "task", s"task ${info.taskId}", ms(info.launchTime))
    s.end = ms(info.finishTime)
    s.attrs("type") = e.taskType
    s.attrs("ok") = info.successful
    val m = e.taskMetrics
    if (m != null) {
      s.attrs("run_ms") = m.executorRunTime
      s.attrs("cpu_ns") = m.executorCpuTime
      s.attrs("deser_ms") = m.executorDeserializeTime
      s.attrs("gc_ms") = m.jvmGCTime
      s.attrs("shuffle_write_b") = m.shuffleWriteMetrics.bytesWritten
      s.attrs("shuffle_read_b") = m.shuffleReadMetrics.totalBytesRead
      s.attrs("fetch_wait_ms") = m.shuffleReadMetrics.fetchWaitTime
      s.attrs("spill_b") = m.memoryBytesSpilled + m.diskBytesSpilled
      s.attrs("input_b") = m.inputMetrics.bytesRead
      s.attrs("result_b") = m.resultSize
      s.attrs("peak_mem_b") = m.peakExecutionMemory
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val bytes = b.memSize + b.diskSize
      if (b.storageLevel.isValid && bytes > 0) rddBlocks(b.blockId.name) = bytes
      else rddBlocks.remove(b.blockId.name)
      peakBytes = math.max(peakBytes, rddBlocks.valuesIterator.sum)
    }
  }

  /** Streaming progress reaches the shared bus from every session, also
    * from the separate sessions the engine's streaming keys run in, which a
    * listener on one session's `streams` would miss. One `batch` span per
    * micro-batch; batches are attributed to ops by time afterwards.
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case q: StreamingQueryListener.QueryProgressEvent =>
      val p = q.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val s = spans.open(-1L, "batch", s"batch ${p.batchId}", start)
      s.end = start + p.batchDuration * 1000L
      p.durationMs.forEach((k, v) => s.attrs(s"${k}_ms") = v.longValue)
      s.attrs("input_rows") = p.numInputRows
      s.attrs("state_rows") = p.stateOperators.map(_.numRowsTotal).sum
    case _ =>
  }

  /** (stored RDD blocks, their bytes, peak bytes since the last call). */
  def takeBlocks(): (Int, Long, Long) = synchronized {
    val now = rddBlocks.valuesIterator.sum
    val r = (rddBlocks.size, now, math.max(peakBytes, now))
    peakBytes = now
    r
  }
}

object SparkTrace {
  val SpanKey = "perfbench.span"
}

/** The traced run's recorder: spans and the listener, which is attached
  * only around traced ops.
  */
final class Tracer(sc: SparkContext, val spans: Spans, val root: Span) {
  val spark = new SparkTrace(spans)

  def attach(): Unit = sc.addSparkListener(spark)

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(spark)
  }

  /** Runs `body` inside a new span; jobs it submits point back to it. */
  def span[T](parent: Span, kind: String, name: String)(body: Span => T): T = {
    val s = spans.open(parent.id, kind, name)
    val prev = sc.getLocalProperty(SparkTrace.SpanKey)
    sc.setLocalProperty(SparkTrace.SpanKey, s.id.toString)
    try body(s)
    finally {
      s.end = Clock.micros()
      sc.setLocalProperty(SparkTrace.SpanKey, prev)
    }
  }

  /** Waits until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}
