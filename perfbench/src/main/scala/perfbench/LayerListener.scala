package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._

/** Counters Spark reports for one span (a job group set by the benchmark
  * thread around one call into the engine). */
final class SpanCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runS = 0.0
  var cpuS = 0.0
  var gcS = 0.0
  var scanStageS = 0.0
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var stragglerS = 0.0

  def add(o: SpanCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runS += o.runS; cpuS += o.cpuS; gcS += o.gcS
    scanStageS += o.scanStageS; inputBytes += o.inputBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; stragglerS += o.stragglerS
  }
}

/** Spark's exchange and executor layers as seen from outside the engine.
  *
  * The benchmark thread tags every job it causes with a span id through
  * `SparkContext.setJobGroup`; this listener files each job, and the
  * stages and tasks of that job, under the span. Events arrive on
  * Spark's listener-bus thread, so all state is guarded by `this`.
  *
  * [[awaitQuiet]] is the read barrier: counters are read only once every
  * job that started has also ended and every stage that a job submitted
  * has completed. Polling the sizes of the job maps is not enough,
  * because a job end mutates an existing record without changing any
  * size; the start and end counts are what must agree, after the bus
  * has delivered everything posted before the read.
  */
final class LayerListener extends SparkListener {
  private val jobStarts = new AtomicLong
  private val jobEnds = new AtomicLong
  private val stageSubmits = new AtomicLong
  private val stageDone = new AtomicLong
  private val stageSpan = mutable.Map.empty[Int, String]
  private val taskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val spans = mutable.Map.empty[String, SpanCounters]

  /** Jobs that start while this is off are not filed anywhere (they are
    * still counted for [[awaitQuiet]]). */
  @volatile var recording = false

  private def counters(span: String): SpanCounters =
    spans.getOrElseUpdate(span, new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(LayerListener.Untagged)
    if (recording) synchronized {
      e.stageIds.foreach(s => stageSpan(s) = span)
      counters(span).jobs += 1
    }
    jobStarts.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.incrementAndGet(): Unit

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmits.incrementAndGet(): Unit

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null && stageSpan.contains(e.stageId))
      taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    synchronized(stageSpan.get(si.stageId).foreach { span =>
      val c = counters(span)
      c.stages += 1
      c.tasks += si.numTasks
      val times = taskTimes.remove((si.stageId, si.attemptNumber()))
        .map(_.toSeq).getOrElse(Seq.empty)
      c.stragglerS += LayerListener.stragglerMs(times) / 1e3
      if (m != null) {
        c.runS += m.executorRunTime / 1e3
        c.cpuS += m.executorCpuTime / 1e9
        c.gcS += m.jvmGCTime / 1e3
        val in = m.inputMetrics.bytesRead
        c.inputBytes += in
        if (in > 0) c.scanStageS += m.executorRunTime / 1e3
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
      }
    })
    stageDone.incrementAndGet()
  }

  /** The read barrier. Drains Spark's listener bus (every event posted
    * before this call, which includes the start and end of every job an
    * action that has returned ran, has reached this listener), then
    * checks that job ends equal job starts and stage completions equal
    * stage submissions. Returns false if that does not hold within
    * `timeoutMs`: the counters may then still be short. */
  def awaitQuiet(sc: SparkContext, timeoutMs: Long = 10000L): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def left = math.max(1L, (deadline - System.nanoTime()) / 1000000L)
    def quiet =
      jobEnds.get == jobStarts.get && stageDone.get >= stageSubmits.get
    var drained = BusDrain.drain(sc, left)
    while (drained && !quiet && System.nanoTime() < deadline) {
      Thread.sleep(5)
      drained = BusDrain.drain(sc, left)
    }
    drained && quiet
  }

  def jobsStarted: Long = jobStarts.get
  def jobsEnded: Long = jobEnds.get

  /** Counters summed over every job filed while recording. */
  def total: SpanCounters = synchronized {
    val out = new SpanCounters
    spans.values.foreach(out.add)
    out
  }

  /** Counters of one span (zero when no job was tagged with it). */
  def span(id: String): SpanCounters = synchronized {
    val out = new SpanCounters
    spans.get(id).foreach(out.add)
    out
  }
}

object LayerListener {
  val Untagged = "-"

  /** Straggler time of one stage: slowest task minus the median task. */
  def stragglerMs(durations: Seq[Long]): Long =
    if (durations.isEmpty) 0L
    else {
      val s = durations.sorted
      s.last - s(s.size / 2)
    }
}
