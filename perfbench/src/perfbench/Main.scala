package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. `stage` writes the seeded inputs,
  * `pass` runs the workload once over them, `sideOps` runs operations
  * timed apart from the pass, `check` validates the latest pass.
  */
trait Workload {
  def stage(dir: String): Unit
  def pass(p: Pass): Unit
  def sideOps(p: Pass): Unit = ()
  def check(): Seq[String]
  /** The workload's own figures (phase times, rates) for the report. */
  def namedMetrics(ps: Seq[Pass]): Map[String, Double]
  /** Workload-specific per-layer figures of a traced run. */
  def layerExtras(ps: Seq[Pass], t: Tracer): Map[String, Double] = Map.empty
}

/** Timings and counts of one round (pass plus side operations). */
final class Pass(val index: Int) {
  var start = 0L
  var end = 0L
  var wallS = 0.0
  val times = mutable.LinkedHashMap[String, Double]()
  val values = mutable.LinkedHashMap[String, Double]()
  var attempted = 0
  var failed = 0
  val cpu = mutable.LinkedHashMap[String, Double]()

  /** Run and time (wall and process CPU) one operation inside a span; a
    * throw fails the run.
    */
  def op[T](layer: String, name: String)(body: => T): T = {
    attempted += 1
    val (t0, c0) = (System.nanoTime(), Cpu.now())
    val r = Spans(layer, name)(body)
    times(name) = times.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    cpu(name) = cpu.getOrElse(name, 0.0) + Cpu.now() - c0
    r
  }

  /** Run and time one operation whose failure is counted, not thrown. */
  def tryOp[T](layer: String, name: String)(body: => T): Either[Throwable, T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = try Right(Spans(layer, name)(body)) catch { case e: Exception => failed += 1; Left(e) }
    times(name) = (System.nanoTime() - t0) / 1e9
    r
  }
}

/** Largest heap occupancy seen right after a garbage collection while
  * armed (the live heap, which caching and spill move; raw occupancy
  * mostly tracks when the collector happened to run).
  */
object HeapWatch {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  @volatile var armed = false
  @volatile var peak = 0L

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener(new NotificationListener {
        override def handleNotification(n: Notification, hb: Any): Unit =
          if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
              .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
            synchronized { if (used > peak) peak = used }
          }
      }, null, null)
    case _ => ()
  }
}

/** CPU seconds used so far by this JVM, all threads. */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def now(): Double = os.getProcessCpuTime / 1e9
}

/** Share of the host's CPU time stolen from this machine (Linux
  * /proc/stat), to tell host contention from a slower program.
  */
object HostSteal {
  def read(): Array[Long] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
  } catch { case _: Exception => Array.emptyLongArray }

  def share(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) Double.NaN
    else {
      val d = b.zip(a).map { case (x, y) => x - y }
      val total = d.take(8).sum.toDouble
      if (total <= 0) Double.NaN else d(7) / total
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Json {
  def apply(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case s: Seq[_] => s.map(apply).mkString("[", ", ", "]")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case null => "null"
    case x => x.toString
  }
}

object Main {
  val workloads = Seq("tabular", "curate")
  val setupReps = 3

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = o("workload")
    require(workloads.contains(name), s"unknown workload $name (one of ${workloads.mkString(", ")})")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val work = o("work")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val spark = graft.GraftSession.builder("perfbench", shufflePartitions = cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // local-FS reads report their bytes only without vectored IO
      .config("spark.hadoop.parquet.hadoop.vectored.io.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // single-JVM checkpoints: plain file-system manager, no checksums
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val tracer = if (trace) Some(new Tracer(spark, cores)) else None
    tracer.foreach(_.install())
    HeapWatch.install()
    val w: Workload = name match {
      case "tabular" => new Tabular(spark, seed, s"$work/oracle_out")
      case "curate" => new Curate(spark, seed)
    }

    // set-up: the inputs are generated and written setupReps times
    val stageS = (0 until setupReps).map { k =>
      val t0 = System.nanoTime()
      w.stage(s"$work/input$k")
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + Stats.median(stageS)

    def round(i: Int): Pass = {
      val p = new Pass(i)
      p.start = System.currentTimeMillis()
      val (cpu0, st0) = (Cpu.now(), HostSteal.read())
      val t0 = System.nanoTime()
      Spans("bench", s"pass$i")(w.pass(p))
      p.wallS = (System.nanoTime() - t0) / 1e9
      p.end = System.currentTimeMillis()
      p.values("cpu_s") = Cpu.now() - cpu0
      p.values("steal_share") = HostSteal.share(st0, HostSteal.read())
      w.sideOps(p)
      p
    }
    // each run is one cold job, as a user's submission of the pipeline
    // is: whole rounds until `seconds` have passed
    val measured = mutable.ArrayBuffer[Pass]()
    val t0 = System.nanoTime()
    HeapWatch.armed = true
    while (measured.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
      measured += round(measured.size)
    HeapWatch.armed = false
    val rounds = measured.toSeq
    val problems = w.check()
    val attempted = rounds.map(_.attempted).sum
    val failed = rounds.map(_.failed).sum
    val passS = Stats.median(measured.map(_.wallS).toSeq)

    val metrics: Map[String, (Double, String)] = tracer match {
      case None =>
        Map("setup_s" -> (setupS, "s"), "pass_s" -> (passS, "s"),
          "pass_cpu_s" -> (Stats.median(measured.map(_.values("cpu_s")).toSeq), "s"))
      case Some(t) =>
        t.drain()
        val m = LayerMetrics(t, measured.toSeq, w.layerExtras(measured.toSeq, t))
        t.write(s"$work/trace.json")
        m
    }

    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "trace" -> trace, "seconds" -> seconds,
      "cores" -> cores, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "attempted" -> attempted, "failed" -> failed, "measured_passes" -> measured.size,
      "peak_heap_mb" -> HeapWatch.peak / 1048576.0, "session_s" -> sessionS,
      "pass_cpu_s" -> measured.map(_.values("cpu_s")).toSeq,
      "pass_steal_share" -> measured.map(_.values("steal_share")).toSeq, "stage_s" -> stageS, "pass_s" -> passS,
      "pass_walls_s" -> measured.map(_.wallS).toSeq,
      "op_s" -> rounds.last.times, "op_cpu_s" -> rounds.last.cpu,
      "named" -> w.namedMetrics(measured.toSeq),
      "problems" -> problems.take(20))
    println("PERFBENCH_REPORT " + Json(report))
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> problems.isEmpty, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }.to(mutable.LinkedHashMap))
    println("PERFBENCH_RESULT " + Json(result))
    System.out.flush()
    spark.stop()
  }
}

/** The per-layer figures of a traced run, per measured pass. */
object LayerMetrics {
  import scala.jdk.CollectionConverters._
  val mb = 1048576.0

  def apply(t: Tracer, ps: Seq[Pass], extras: Map[String, Double]): Map[String, (Double, String)] = {
    val n = ps.size.toDouble
    val inPass = t.jobLayers().collect {
      case (j, Some(l)) if ps.exists(p => j.start >= p.start && j.start <= p.end) => (j, l)
    }
    val wall = ps.map(p => t.wallMs(p.start, p.end))
    Layers.all.flatMap { l =>
      val js = inPass.collect { case (j, `l`) => j }
      val wallS = wall.map(_.getOrElse(l, 0L)).sum / 1e3 / n
      val taskS = js.map(_.runMs).sum / 1e3 / n
      Seq(
        s"$l.wall_s" -> (wallS, "s"),
        s"$l.jobs" -> (js.size / n, "count"),
        s"$l.tasks" -> (js.map(_.tasks).sum / n, "count"),
        s"$l.task_s" -> (taskS, "s"),
        s"$l.idle_core_s" -> (math.max(0.0, t.cores * wallS - taskS), "s"),
        s"$l.scan_mb" -> (js.map(_.inBytes).sum / mb / n, "MB"),
        s"$l.shuffle_mb" -> (js.map(_.shuffleBytes).sum / mb / n, "MB"),
        s"$l.spill_mb" -> (js.map(_.spillBytes).sum / mb / n, "MB"),
        s"$l.failed_tasks" -> (js.map(_.failedTasks).sum / n, "count"))
    }.toMap ++ extraDefaults.map { case (k, u) => k -> (extras.getOrElse(k, 0.0), u) } +
      ("ml.fits" -> (t.fits.asScala.count { case (time, layer) =>
        layer.contains("ml") && ps.exists(p => time >= p.start && time <= p.end)
      } / n, "count"))
  }

  val queryNames: Seq[String] = Seq("q1_pricing_summary", "q2_revenue_nation", "q3_top_orders",
    "q4_window_topn", "q_dedup_pk", "q_sessionize", "q_moving_avg", "q_scd2",
    "q_asof_attribution", "q_group_percentiles", "q_drift_audit")

  val extraDefaults: Seq[(String, String)] = Seq(
    "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
    "dedup.pair_yield" -> "ratio", "streaming.batches" -> "count",
    "streaming.jobs_per_batch" -> "count", "streaming.add_batch_s" -> "s",
    "streaming.index_rows" -> "count") ++ queryNames.map(q => s"queries.${q}_s" -> "s")
}
