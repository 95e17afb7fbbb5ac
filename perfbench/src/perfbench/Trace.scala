package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-boundary counters of one span label. */
final class LayerStats {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, taskMs = 0L
  var inputBytes, inputRecords, shuffleWrite, shuffleRead, fetchWaitMs = 0L
  var spillBytes, resultBytes = 0L
  var taskSkew = 0.0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Aggregates task, stage and job metrics by the job description that was
  * active when each job started — the span label [[Trace.span]] sets.
  * Events arrive on Spark's listener bus thread; read only after
  * [[Trace.drain]].
  */
final class BoundaryListener extends SparkListener {
  val byLabel = mutable.LinkedHashMap.empty[String, LayerStats]
  val unlabelled = mutable.ArrayBuffer.empty[Int]
  private val stageLabel = mutable.Map.empty[Int, String]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobOpen = mutable.Map.empty[Int, (String, Long)]

  private def stats(label: String) = byLabel.getOrElseUpdate(label, new LayerStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    if (label.isEmpty) unlabelled += e.jobId
    val s = stats(label)
    s.jobs += 1
    e.stageInfos.foreach(s => stageLabel(s.stageId) = label)
    jobOpen(e.jobId) = (label, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(e.jobId).foreach { case (label, t0) =>
      val s = stats(label)
      s.jobIntervals += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageLabel.getOrElse(e.stageId, ""))
    s.tasks += 1
    val d = e.taskInfo.duration
    s.taskMs += d
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += d
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.resultBytes += m.resultSize
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val s = stats(stageLabel.getOrElse(id, ""))
    s.stages += 1
    stageTasks.remove(id).filter(_.nonEmpty).foreach { ts =>
      val sorted = ts.sorted
      val median = math.max(sorted(sorted.size / 2), 1L)
      s.taskSkew = math.max(s.taskSkew, sorted.last.toDouble / median)
    }
  }
}

/** Counts WARN lines per active span label, and the unpartitioned-window
  * warning separately.
  */
final class WarnTagger extends org.apache.logging.log4j.core.appender.AbstractAppender(
    "perfbench-warn-tagger", null, null, true,
    Array.empty[org.apache.logging.log4j.core.config.Property]) {
  val warns = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val windowWarns = mutable.Map.empty[String, Long].withDefaultValue(0L)

  override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
    if (Trace.on && e.getLevel == org.apache.logging.log4j.Level.WARN) synchronized {
      val label = Trace.current
      warns(label) += 1
      if (String.valueOf(e.getMessage.getFormattedMessage)
          .contains("No Partition Defined for Window"))
        windowWarns(label) += 1
    }
}

/** One closed span: a call into a layer's public function. */
final case class Span(label: String, t0Ms: Long, t1Ms: Long) {
  def seconds: Double = (t1Ms - t0Ms) / 1e3
}

/** Span recorder. With tracing off, [[span]] only times its body; with
  * tracing on it also labels every Spark job the body starts and keeps the
  * span for the per-layer report.
  */
object Trace {
  @volatile var current: String = ""
  @volatile private var enabled = false
  private var sc: SparkContext = _
  val spans = mutable.ArrayBuffer.empty[Span]
  var listener: BoundaryListener = _
  var tagger: WarnTagger = _

  def on: Boolean = enabled

  def install(ctx: SparkContext): Unit = {
    sc = ctx
    listener = new BoundaryListener
    ctx.addSparkListener(listener)
    tagger = new WarnTagger
    tagger.start()
    val lc = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    lc.getConfiguration.getRootLogger.addAppender(
      tagger, org.apache.logging.log4j.Level.WARN, null)
    lc.updateLoggers()
    enabled = true
  }

  /** Run `body` as span `label`; returns its result and wall seconds. */
  def span[A](label: String)(body: => A): (A, Double) = {
    val traced = enabled
    val prev = current
    if (traced) { sc.setJobDescription(label); current = label }
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try {
      val a = body
      (a, (System.nanoTime() - n0) / 1e9)
    } finally {
      if (traced) {
        spans += Span(label, t0, System.currentTimeMillis())
        current = prev
        sc.setJobDescription(if (prev.isEmpty) null else prev)
      }
    }
  }

  /** Detach the listener so the next ops run as in an untraced run. */
  def pause(): Unit = if (sc != null) {
    drain()
    sc.removeSparkListener(listener)
    enabled = false
  }

  def resume(): Unit = if (sc != null) {
    sc.addSparkListener(listener)
    enabled = true
  }

  def drain(): Unit = if (sc != null) org.apache.spark.PerfbenchShim.drain(sc)

  /** Span time during which no job of that span was running. */
  def idleMs(label: String, spansOf: Seq[Span]): Long = {
    val jobs = Option(listener).flatMap(_.byLabel.get(label))
      .map(_.jobIntervals.toSeq.sortBy(_._1)).getOrElse(Seq.empty)
    spansOf.map { sp =>
      var busy = 0L
      var cursor = sp.t0Ms
      jobs.foreach { case (a, b) =>
        val s = math.max(a, cursor)
        val e = math.min(b, sp.t1Ms)
        if (e > s) { busy += e - s; cursor = e }
      }
      math.max(0L, sp.t1Ms - sp.t0Ms - busy)
    }.sum
  }
}
