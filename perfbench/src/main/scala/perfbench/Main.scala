package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs while it runs. */
final class Ctx(val spark: SparkSession, val dataDir: String, val workDir: String,
                val seed: Long, val probe: Option[Probe]) {
  /** A span when tracing, a plain call otherwise. */
  def span[A](name: String)(body: => A): A =
    probe match {
      case Some(p) if tracing => p.span(name)(body)
      case _ => body
    }
  /** Whether the running operation records spans. */
  @volatile var tracing = false
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  def fail(what: String): Unit = { System.err.println(s"[perfbench] FAILED $what"); failures += what }
}

/** Wall-clock and process CPU seconds of one timed region. */
final case class Timed(wall: Double, cpu: Double)

/** One timed operation's outcome. */
final case class OpResult(steps: Int, detail: Map[String, Any] = Map.empty)

trait Workload {
  /** One round of set-up; returns named sub-timings in seconds. */
  def setup(ctx: Ctx): Map[String, Double]
  /** One timed operation; `traced` runs the span-instrumented variant. */
  def op(ctx: Ctx, i: Int, traced: Boolean): OpResult
  /** Bookkeeping after an operation, outside the timed region; returns
    * per-layer metrics that every operation has, traced or not. */
  def afterOp(ctx: Ctx, i: Int, r: OpResult): Map[String, Double]
  /** Per-layer metrics of one traced operation, from its spans. */
  def layerMetrics(ctx: Ctx, spans: Seq[Span], c: OpCounters): Map[String, Double]
  /** What the harness needs to check the outputs after the timed region. */
  def finish(ctx: Ctx): Map[String, Any]
}

/** The benchmark's JVM side: session, set-up rounds, the cold operation,
  * then operations until the measuring window closes. Writes one JSON
  * result file; the Python harness checks it and prints the metrics. */
object Main {

  /** Every engine module that exposes a public `releaseCaches()`. Looked up
    * reflectively so a module that drops the method does not break the
    * build; what it leaves behind then shows in `cache.leaked_rdds`. */
  val CacheModules: Seq[String] = Seq(
    "graft.ops.Classifier", "graft.ops.Dedup", "graft.ops.LanguageModel",
    "graft.ops.Linkage", "graft.ops.Ranks", "graft.ops.Retrieval",
    "graft.ops.Selection", "graft.ops.SemanticDedup", "graft.ops.TextAnalysis",
    "graft.ops.TimeSeries", "graft.pipelines.ResultSort")

  def releaseModules(): Seq[String] = CacheModules.filter { n =>
    try {
      val cls = Class.forName(n + "$")
      cls.getMethod("releaseCaches").invoke(cls.getField("MODULE$").get(null))
      true
    } catch { case _: ClassNotFoundException | _: NoSuchMethodException => false }
  }

  /** Cold state between operations: release every module's caches, count
    * what is still persisted, clear the session cache, and report anything
    * that survives even that. */
  def coldState(ctx: Ctx): Int = {
    releaseModules()
    val sc = ctx.spark.sparkContext
    val leaked = sc.getPersistentRDDs.size
    ctx.spark.catalog.clearCache()
    val left = sc.getPersistentRDDs.size
    if (left > 0) {
      ctx.fail(s"$left RDD(s) still persisted after clearCache")
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    leaked
  }

  val SetupRounds = 3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(): Unit
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val workDir = a("work")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM start to a ready session; the process CPU clock starts with the JVM
    val session = Timed((System.currentTimeMillis() - jvmStartMs) / 1000.0, processCpuNs() / 1e9)
    val probe = if (trace) Some(new Probe(spark.sparkContext)) else None
    val ctx = new Ctx(spark, a("data"), workDir, a("seed").toLong, probe)
    val wl: Workload = workloadName match {
      case "etl_daily" => new EtlDaily
      case "query_mix" => new QueryMix
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ── set-up, several rounds; the median round is the set-up cost ─────
    val setupRuns = (1 to SetupRounds).map { _ =>
      coldState(ctx)
      val t0 = System.nanoTime()
      val cpu0 = processCpuNs()
      val parts = wl.setup(ctx)
      (Timed((System.nanoTime() - t0) / 1e9, (processCpuNs() - cpu0) / 1e9), parts)
    }
    coldState(ctx)

    // ── operations ─────────────────────────────────────────────────────
    val rss = new RssSampler()
    val opTimes = mutable.ArrayBuffer.empty[Double]
    val opDetails = mutable.ArrayBuffer.empty[Map[String, Any]]
    val leakedPerOp = mutable.ArrayBuffer.empty[Int]
    val tracedLayers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val untracedWarm = mutable.ArrayBuffer.empty[Timed]
    val tracedWarm = mutable.ArrayBuffer.empty[Timed]
    val afterTraced = mutable.ArrayBuffer.empty[Timed] // untraced ops that follow a traced one
    val afterMetrics = mutable.ArrayBuffer.empty[Map[String, Double]]
    val spanJobs = mutable.Map.empty[Long, Long]
    val retainedMb = mutable.ArrayBuffer.empty[Double]

    var rssPeak = 0.0
    def runOp(i: Int, phase: String, traced: Boolean): Timed = {
      probe.foreach(_.op = i)
      ctx.tracing = traced
      if (traced) probe.foreach(_.begin())
      rss.start()
      val t0 = System.nanoTime()
      val cpu0 = processCpuNs()
      val r =
        try wl.op(ctx, i, traced)
        catch { case e: Throwable =>
          ctx.fail(s"op $i (${e.getClass.getSimpleName}: ${e.getMessage})")
          OpResult(1)
        }
      val sec = (System.nanoTime() - t0) / 1e9
      val cpuSec = (processCpuNs() - cpu0) / 1e9
      rssPeak = math.max(rssPeak, rss.stop())
      if (phase == "measured" && !traced) retainedMb += retainedHeapMb()
      ctx.attempted += r.steps
      val counters = if (traced) probe.map(_.end()) else None
      ctx.tracing = false
      opTimes += sec
      opDetails += (r.detail ++ counters.map(c => "jobs_by_file" -> c.jobsByFile) +
        ("op" -> i) + ("phase" -> phase) + ("seconds" -> sec) + ("cpu_seconds" -> cpuSec) +
        ("traced" -> traced))
      val after = wl.afterOp(ctx, i, r)
      if (phase == "measured") afterMetrics += after
      val leaked = coldState(ctx)
      leakedPerOp += leaked
      counters.foreach { c =>
        spanJobs ++= c.jobsBySpan
        tracedLayers += (wl.layerMetrics(ctx, probe.get.spansOf(i), c) ++
          sparkMetrics(c, cpus) + ("cache.leaked_rdds" -> leaked.toDouble) +
          ("jvm.rss_peak_mb" -> rssPeak))
      }
      Timed(sec, cpuSec)
    }

    val cold = runOp(0, "cold", traced = false)
    // the measuring window: operations until `seconds` have passed, at least
    // one. A traced run puts every traced operation between untraced ones,
    // so one run yields the per-layer numbers and the tracing overhead.
    val windowStart = System.nanoTime()
    var i = 1
    def next(traced: Boolean): Unit = {
      val s = runOp(i, "measured", traced)
      if (!traced && tracedWarm.nonEmpty) afterTraced += s
      if (traced) tracedWarm += s else untracedWarm += s
      i += 1
    }
    def windowOpen = (System.nanoTime() - windowStart) / 1e9 < seconds
    do {
      next(traced = false)
      if (trace) next(traced = true)
    } while (windowOpen)
    if (trace) next(traced = false)
    val finishDetail =
      try wl.finish(ctx)
      catch { case e: Throwable =>
        ctx.fail(s"finish (${e.getClass.getSimpleName}: ${e.getMessage})"); Map.empty[String, Any]
      }

    def setupMedian(f: Timed => Double) = median(setupRuns.map(r => f(r._1)))
    val warmCpu = median(untracedWarm.map(_.cpu).toSeq)
    val endToEnd = Map[String, Any](
      "setup_s" -> (session.cpu + setupMedian(_.cpu)),
      "cold_cpu_s" -> cold.cpu,
      "warm_cpu_s" -> warmCpu,
      "heap_retained_mb" -> median(retainedMb.toSeq))
    val perLayer: Map[String, Any] =
      if (!trace) Map.empty
      else {
        val keys = tracedLayers.flatMap(_.keys).distinct
        val med = keys.map(k => k -> median(tracedLayers.flatMap(_.get(k)).toSeq)).toMap
        val after = afterMetrics.flatMap(_.keys).distinct
          .map(k => k -> median(afterMetrics.flatMap(_.get(k)).toSeq)).toMap
        val setupParts = setupRuns.flatMap(_._2.keys).distinct
          .map(k => k -> median(setupRuns.flatMap(_._2.get(k)))).toMap
        med ++ after ++ setupParts ++ Map(
          "wall.setup_s" -> (session.wall + setupMedian(_.wall)),
          "wall.cold_s" -> cold.wall,
          "wall.warm_s" -> median(untracedWarm.map(_.wall).toSeq),
          // against the untraced operations that follow traced ones: the JVM
          // is still warming up, so earlier ones would make tracing look free
          "tracing.overhead_frac" ->
            (median(tracedWarm.map(_.cpu).toSeq) / median(afterTraced.map(_.cpu).toSeq) - 1.0))
      }
    val result = Map[String, Any](
      "workload" -> workloadName,
      "trace" -> trace,
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer,
      "attempted" -> ctx.attempted,
      "failures" -> ctx.failures.toSeq,
      "ops" -> opDetails.toSeq,
      "leaked_rdds_per_op" -> leakedPerOp.toSeq,
      "released_modules" -> releaseModules(),
      "session" -> session,
      "setup_rounds" -> setupRuns.map(_._1),
      "setup_parts" -> setupRuns.map(_._2),
      "steady_after_ops" -> steadyAfter(opTimes.toSeq),
      "measured_ops" -> untracedWarm.size,
      "finish" -> finishDetail,
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "spark_cores" -> cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString),
      "spans" -> probe.map(_.allSpans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "thread" -> s.thread,
        "jobs" -> spanJobs.getOrElse(s.id, 0L)))).getOrElse(Nil))
    Files.write(Paths.get(a("out")), Json.render(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** How many operations it took for the wall time to settle: the first
    * index from which every later operation is within 15% of the median of
    * the last half (meaningful on a long run, `--seconds` of a few minutes). */
  def steadyAfter(xs: Seq[Double]): Int = {
    if (xs.size < 2) return 0
    val ref = median(xs.drop(xs.size / 2))
    val idx = xs.indices.find(i => xs.drop(i).forall(x => math.abs(x / ref - 1) <= 0.15))
    idx.getOrElse(xs.size)
  }

  /** Heap still reachable at the end of an operation, before its caches
    * are released: the heap in use after a full collection. A first
    * collection lets Spark's cleaner drop the broadcasts of finished queries,
    * which would otherwise count or not depending on its timing. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    var used = 0L
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
      if (p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
        used += p.getCollectionUsage.getUsed
    }
    used / (1024.0 * 1024.0)
  }

  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  def sparkMetrics(c: OpCounters, cpus: Int): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.task_s" -> c.taskMs / 1e3,
      "spark.task_cpu_s" -> c.taskCpuNs / 1e9,
      "spark.gc_s" -> c.gcMs / 1e3,
      "spark.shuffle_write_mb" -> c.shuffleWrite / mb,
      "spark.shuffle_read_mb" -> c.shuffleRead / mb,
      "spark.spill_mb" -> c.spill / mb,
      "spark.driver_gap_s" -> c.driverGapMs / 1e3,
      "spark.slot_busy_frac" -> (if (c.wallMs > 0) c.taskMs.toDouble / (c.wallMs * cpus) else 0.0),
      "cache.peak_storage_mb" -> c.peakStorage / mb)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case t: Timed => render(Map("wall_s" -> t.wall, "cpu_s" -> t.cpu))
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
