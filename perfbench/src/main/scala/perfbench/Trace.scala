package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** In-memory span log for a traced run: one span per timed call into a
  * layer, with the span that caused it. Nothing is written until the run
  * ends. */
final class Spans {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  /** Run `body` as a span named `name`; returns its result and seconds. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val s = Span(spans.size, name, open.headOption.getOrElse(-1), t0, -1L)
    spans += s
    open = s.id :: open
    try { val r = body; (r, (System.nanoTime() - t0) / 1e9) }
    finally { s.endNs = System.nanoTime(); open = open.tail }
  }

  /** Every span, with its times in seconds from `t0` (a `nanoTime`). */
  def records(t0: Long): Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
    "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9))
}

/** Spark's own hooks, registered from the benchmark: engine counters from
  * a `SparkListener`, micro-batch splits from a `StreamingQueryListener`.
  * Both only accumulate; a traced unit reads the difference of two
  * [[snapshot]]s taken after draining the listener bus. */
final class EngineListener extends SparkListener {
  private val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val blocks = mutable.Map.empty[String, Long]
  private var cachedNow = 0L
  private var cachedPeak = 0L

  private def add(k: String, v: Double): Unit = totals(k) += v

  def snapshot(): Map[String, Double] = synchronized(totals.toMap)

  /** Restart the cached-bytes peak from what is cached now. */
  def resetPeak(): Unit = synchronized { cachedPeak = cachedNow }

  def peakCachedBytes: Long = synchronized(cachedPeak)

  /** Milliseconds of [from, to] (epoch ms) covered by at least one job. */
  def jobBusyMs(from: Long, to: Long): Long = synchronized {
    val clipped = jobSpans.iterator.map { case (s, e) => (s.max(from), e.min(to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = curE.max(e)
    }
    busy + (curE - curS)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("spark.jobs", 1)
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(add("spark.stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      add("spark.tasks", 1)
      add("spark.task_busy_s", m.executorRunTime / 1e3)
      add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.input_bytes", m.inputMetrics.bytesRead)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("spark.output_bytes", m.outputMetrics.bytesWritten)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = info.memSize + info.diskSize
      val key = info.blockId.name
      cachedNow += size - blocks.getOrElse(key, 0L)
      if (size == 0) blocks.remove(key) else blocks(key) = size
      cachedPeak = cachedPeak.max(cachedNow)
    }
  }
}

/** Per-micro-batch duration splits and state-store figures, summed over
  * every progress event. */
final class StreamListener extends StreamingQueryListener {
  private val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def snapshot(): Map[String, Double] = synchronized(totals.toMap)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.durationMs.containsKey("addBatch")) totals("streaming.batches") += 1
    p.durationMs.forEach((k, v) => totals(s"streaming.${k}_s") += v.longValue / 1e3)
    p.stateOperators.foreach { s =>
      totals("streaming.state_rows") += s.numRowsTotal
      totals("streaming.state_mem_bytes") += s.memoryUsedBytes
      totals("streaming.state_commit_s") += s.commitTimeMs / 1e3
    }
  }
}
