package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The program modules a benchmark span or Spark stage is attributed to. */
object Layers {
  val all: Seq[String] = Seq("prep", "split", "features", "ml", "operators", "queries",
    "text", "dedup", "streaming")

  /** Layer of the innermost `graft.<module>` frame of a recorded call
    * site (`StageInfo.details` or the SQL execution's `details`, one
    * frame per line, innermost first).
    * Frames of the benchmark itself live in package `perfbench` and
    * never match.
    */
  def ofCallSite(details: String): Option[String] =
    ofFrames(details.linesIterator.map(_.trim))

  def ofFrames(frames: Iterator[String]): Option[String] =
    frames.collectFirst {
      case f if f.startsWith("graft.") && all.contains(f.split('.')(1)) => f.split('.')(1)
    }
}

/** Spans around the benchmark's calls into the program. Without an
  * installed [[Tracer]] a span is just its body.
  */
object Spans {
  @volatile var tracer: Tracer = null

  def apply[T](layer: String, name: String)(body: => T): T = {
    val t = tracer
    if (t == null) body else t.span(layer, name)(body)
  }
}

final case class Span(id: Int, parent: Int, depth: Int, layer: String, name: String,
    start: Long, var end: Long)

/** Per-job record filled by the listener: call-site layer (if any),
  * submit/end times and summed task metrics.
  */
final class JobRec(val id: Int, val start: Long, val siteLayer: Option[String],
    val sqlExecutions: Seq[Long]) {
  @volatile var end: Long = -1L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var inBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

final case class Progress(rows: Long, addBatchMs: Long, time: Long)

/** Traced-run recorder: spans kept in memory, one SparkListener
  * (jobs, stages, tasks), one StreamingQueryListener (microbatch
  * progress) and a counter of MLlib fits. All times are epoch ms, the
  * clock Spark stamps its events with.
  */
final class Tracer(spark: SparkSession, val cores: Int) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execLayer = new ConcurrentHashMap[Long, String]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  /** (time, layer of the fitting caller) of every MLlib estimator fit. */
  val fits = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Option[String])]()

  def span[T](layer: String, name: String)(body: => T): T = {
    val s = synchronized {
      val parent = open.headOption
      val sp = Span(spans.size, parent.map(_.id).getOrElse(-1), open.size, layer, name,
        System.currentTimeMillis(), -1L)
      spans += sp; open = sp :: open; sp
    }
    try body finally synchronized { s.end = System.currentTimeMillis(); open = open.tail }
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = e.stageInfos.sortBy(-_.stageId).headOption.flatMap(s => Layers.ofCallSite(s.details))
      val execs = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
        .flatMap(k => Option(e.properties).flatMap(p => Option(p.getProperty(k))).map(_.toLong))
      jobs.put(e.jobId, new JobRec(e.jobId, e.time, site, execs))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    // AQE submits a query's shuffle stages from a pool thread, whose call
    // site holds no program frame; the SQL execution records the caller's
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        Layers.ofCallSite(s.details).foreach(execLayer.put(s.executionId, _))
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.tasks += 1
          if (e.reason != Success) j.failedTasks += 1
          val m = e.taskMetrics
          if (m != null) {
            j.runMs += m.executorRunTime
            j.inBytes += m.inputMetrics.bytesRead
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.diskBytesSpilled
          }
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      progress.add(Progress(p.numInputRows, ms("addBatch"), System.currentTimeMillis()))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    FitCounter.install(this)
    Spans.tracer = this
  }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)

  /** Layer of every recorded job: its call-site layer, else that of
    * its SQL execution (or root execution), else that of the innermost
    * span open when it was submitted.
    */
  def jobLayers(): Seq[(JobRec, Option[String])] = {
    val sp = allSpans
    jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      j -> j.siteLayer.orElse(j.sqlExecutions.flatMap(x => Option(execLayer.get(x))).headOption)
        .orElse(innermost(sp, j.start).map(_.layer))
    }
  }

  private def innermost(sp: Seq[Span], t: Long): Option[Span] =
    sp.filter(s => s.start <= t && (s.end < 0 || t <= s.end)).sortBy(-_.depth).headOption

  /** Write the spans and the jobs, with their layers, as JSON. */
  def write(path: String): Unit = {
    val spanRows = allSpans.map(s => Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
      "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end))
    val jobRows = jobLayers().map { case (j, l) => Map("id" -> j.id, "layer" -> l.getOrElse(""),
      "start_ms" -> j.start, "end_ms" -> j.end, "tasks" -> j.tasks, "task_ms" -> j.runMs,
      "input_bytes" -> j.inBytes, "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes,
      "failed_tasks" -> j.failedTasks) }
    val out = new java.io.PrintWriter(path, "UTF-8")
    try out.print(Json(Map("spans" -> spanRows, "jobs" -> jobRows))) finally out.close()
  }

  /** Wall ms per layer inside [from, to): at each instant the active
    * layer is that of the latest-submitted running job, or, with no
    * job running, that of the innermost open span. So a span's self
    * time excludes its child spans and the jobs other layers run
    * inside it, and a layer without spans of its own (split) gets the
    * wall time of its jobs.
    */
  def wallMs(from: Long, to: Long): Map[String, Long] = {
    val sp = allSpans.filter(s => s.end >= from && s.start < to)
    val js = jobLayers().collect { case (j, Some(l)) if j.end >= from && j.start < to => (j, l) }
    val cuts = (Seq(from, to) ++ sp.flatMap(s => Seq(s.start, s.end)) ++
      js.flatMap { case (j, _) => Seq(j.start, j.end) })
      .filter(t => t >= from && t <= to).distinct.sorted
    val acc = mutable.Map[String, Long]().withDefaultValue(0L)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val mid = (a + b) / 2.0
      val running = js.filter { case (j, _) => j.start <= mid && mid < j.end }
      val layer =
        if (running.nonEmpty) Some(running.maxBy(_._1.start)._2)
        else sp.filter(s => s.start <= mid && mid < s.end).sortBy(-_.depth).headOption.map(_.layer)
      layer.foreach(l => acc(l) += b - a)
    }
    acc.toMap
  }
}

/** Counts MLlib estimator fits from MLlib's own instrumentation log
  * ("Stage class: ..." is logged once at the start of every
  * instrumented fit), attributing each to the innermost program layer
  * on the fitting thread's stack.
  */
object FitCounter {
  import org.apache.logging.log4j.{Level, LogManager}
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

  private val loggerName = "org.apache.spark.ml.util.Instrumentation"

  def install(t: Tracer): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val app = new AbstractAppender("perfbench-fits", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("Stage class:"))
          t.fits.add((System.currentTimeMillis(),
            Layers.ofFrames(Thread.currentThread.getStackTrace.iterator.map(_.toString))))
    }
    app.start()
    config.addAppender(app)
    val lc = new LoggerConfig(loggerName, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    config.addLogger(loggerName, lc)
    ctx.updateLoggers()
  }
}
