package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** One recorded span: a named interval around a call into the engine.
  * `parent` is the id of the enclosing span (0 at the top of an
  * operation); every span of one operation shares `op`. */
final case class Span(id: Long, parent: Long, op: Int, name: String,
                      startNs: Long, endNs: Long, thread: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark counters of one operation, read from [[Probe]]. */
final case class OpCounters(jobs: Long, stages: Long, tasks: Long,
                            taskMs: Long, taskCpuNs: Long, gcMs: Long,
                            shuffleWrite: Long, shuffleRead: Long,
                            spill: Long, driverGapMs: Long, wallMs: Long,
                            peakStorage: Long, jobsByFile: Map[String, Long],
                            jobsBySpan: Map[Long, Long])

/** The benchmark's own `SparkListener` plus its span recorder. Counting is
  * off until [[begin]]; [[end]] drains the listener bus and returns the
  * counters of the interval. Spans stay in memory until the run ends. */
final class Probe(sc: SparkContext) extends SparkListener {
  @volatile private var on = false
  private var jobs, stages, tasks, taskMs, taskCpuNs, gcMs = 0L
  private var shuffleWrite, shuffleRead, spill = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobsByFile = mutable.Map.empty[String, Long]
  private val jobsBySpan = mutable.Map.empty[Long, Long]
  private val blocks = mutable.Map.empty[String, Long]
  private var storage, peakStorage = 0L
  private var windowStart = 0L

  private val CallSite = """ at ([A-Za-z0-9_$.-]+\.(?:scala|java|py))""".r
  private val EngineFrame = """graft\.[\w.$]+\(([\w$]+\.scala):\d+\)""".r
  private val fileOfExecution = mutable.Map.empty[String, String]

  sc.addSparkListener(this)

  def begin(): Unit = synchronized {
    BusDrainOps.drain(sc)
    jobs = 0; stages = 0; tasks = 0; taskMs = 0; taskCpuNs = 0; gcMs = 0
    shuffleWrite = 0; shuffleRead = 0; spill = 0
    jobStart.clear(); jobIntervals.clear(); jobsByFile.clear(); jobsBySpan.clear()
    peakStorage = storage
    windowStart = System.currentTimeMillis()
    on = true
  }

  def end(): OpCounters = {
    val windowEnd = System.currentTimeMillis()
    BusDrainOps.drain(sc)
    synchronized {
      on = false
      // wall time covered by at least one running job, clipped to the window
      val merged = jobIntervals.map { case (s, e) =>
        (math.max(s, windowStart), math.min(e, windowEnd)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      merged.foreach { case (s, e) =>
        if (s > curE) { covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      covered += curE - curS
      val wall = windowEnd - windowStart
      OpCounters(jobs, stages, tasks, taskMs, taskCpuNs, gcMs, shuffleWrite,
        shuffleRead, spill, math.max(0L, wall - covered), wall, peakStorage,
        jobsByFile.toMap, jobsBySpan.toMap)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (on) {
      jobs += 1
      jobStart(e.jobId) = e.time
      jobsByFile(callSiteFile(e)) = jobsByFile.getOrElse(callSiteFile(e), 0L) + 1
      val span = property(e, Probe.SpanProperty).map(_.toLong).getOrElse(0L)
      jobsBySpan(span) = jobsBySpan.getOrElse(span, 0L) + 1
    }
  }

  private def property(e: SparkListenerJobStart, key: String): Option[String] =
    Option(e.properties).flatMap(p => Option(p.getProperty(key)))

  /** Source file of the job's call site: the innermost engine frame of the
    * stack that started its SQL execution (adaptive execution submits most
    * jobs from its own threads, whose stacks name no caller), else the call
    * site in the stage name. */
  private def callSiteFile(e: SparkListenerJobStart): String =
    property(e, "spark.sql.execution.id").flatMap(fileOfExecution.get)
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption
        .flatMap(s => CallSite.findFirstMatchIn(s.name)).map(_.group(1)))
      .getOrElse("other")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      EngineFrame.findFirstMatchIn(x.details).map(_.group(1))
        .orElse(CallSite.findFirstMatchIn(" " + x.description).map(_.group(1)))
        .foreach(f => fileOfExecution(x.executionId.toString) = f)
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => if (on) jobIntervals += ((s, e.time)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (on) stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (on) {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        taskMs += m.executorRunTime
        taskCpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case id: RDDBlockId =>
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        storage += size - blocks.getOrElse(id.name, 0L)
        if (size > 0) blocks(id.name) = size else blocks.remove(id.name)
        peakStorage = math.max(peakStorage, storage)
      case _ =>
    }
  }

  // ── spans ──────────────────────────────────────────────────────────
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  @volatile var op: Int = 0

  /** Run `body` as a span named `name`. Jobs it submits carry the span id
    * as a local property, so the listener can attribute them. */
  def span[A](name: String)(body: => A): A = {
    val id = nextId.incrementAndGet()
    val parent = Option(sc.getLocalProperty(Probe.SpanProperty)).map(_.toLong).getOrElse(0L)
    sc.setLocalProperty(Probe.SpanProperty, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(Probe.SpanProperty, if (parent == 0L) null else parent.toString)
      spans.synchronized {
        spans += Span(id, parent, op, name, t0, t1, Thread.currentThread().getName)
      }
    }
  }

  def spansOf(op: Int): Seq[Span] = spans.synchronized(spans.filter(_.op == op).toSeq)
  def allSpans: Seq[Span] = spans.synchronized(spans.toSeq)
}

object Probe {
  val SpanProperty = "perfbench.span"
}

/** Listener-bus drain, delegated so the rest of the harness never names
  * the package-private bus. */
private object BusDrainOps {
  def drain(sc: SparkContext): Unit =
    org.apache.spark.perfbench.BusDrain.drain(sc)
}

/** Samples the process's resident set size while a timed region runs. */
final class RssSampler {
  @volatile private var running = false
  @volatile private var peakKb = 0L
  private var thread: Thread = _

  def currentKb: Long =
    try {
      val it = scala.io.Source.fromFile("/proc/self/status")
      try it.getLines().find(_.startsWith("VmRSS:"))
        .map(_.split("\\s+")(1).toLong).getOrElse(0L)
      finally it.close()
    } catch { case _: Throwable =>
      val rt = Runtime.getRuntime
      (rt.totalMemory - rt.freeMemory) / 1024
    }

  def start(): Unit = {
    running = true
    thread = new Thread(() => {
      while (running) {
        peakKb = math.max(peakKb, currentKb)
        Thread.sleep(50)
      }
    }, "rss-sampler")
    thread.setDaemon(true)
    thread.start()
  }

  def stop(): Double = {
    running = false
    if (thread != null) thread.join()
    peakKb = math.max(peakKb, currentKb)
    peakKb / 1024.0
  }
}
