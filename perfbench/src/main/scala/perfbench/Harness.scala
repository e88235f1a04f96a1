package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, host: JsonNode, params: JsonNode)

/** Session life cycle, operation timing, warm-up and the timed loop, shared
  * by the three workloads. The program is only ever called through its
  * public functions; tracing hangs off Spark's own listener interfaces. */
final class Harness(val cfg: Config) {
  val cores: Int = cfg.host.get("master").asText.stripPrefix("local[").stripSuffix("]").toInt
  val tracer: Tracer = if (cfg.trace) new Tracer else null
  Tracer.active = tracer
  var spark: SparkSession = _
  private var opSeq = 0
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  /** named metric -> (value, unit); the record's `metrics` */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** anything else the record carries (sample counts, window, check paths) */
  val info = mutable.LinkedHashMap.empty[String, Any]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  private val born = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.2f] $msg")

  def newSession(extra: Map[String, String] = Map.empty): SparkSession = {
    stopSession()
    val b = SparkSession.builder().master(cfg.host.get("master").asText).appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cfg.host.get("shuffle_partitions").asText)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
    if (tracer != null) Tracer.confs.foreach { case (k, v) => b.config(k, v) }
    extra.foreach { case (k, v) => b.config(k, v) }
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  /** Run the program's set-up `setup_repeats` times, each from a fresh
    * session, and report the median as `setup_s`. `f` returns named
    * sub-timings (seconds), reported as medians too; `teardown` releases
    * what one set-up started before the next one begins. */
  def setup(f: () => Map[String, Double], teardown: () => Unit = () => ())
      : Map[String, Double] = {
    val n = cfg.params.get("setup_repeats").asInt
    val runs = (1 to n).map { i =>
      if (i > 1) teardown()
      stopSession()
      val t0 = System.nanoTime()
      val parts = f() + ("setup_s" -> (System.nanoTime() - t0) / 1e9)
      log(s"setup $i: $parts")
      parts
    }
    val med = runs.head.keys.map(k => k -> Stats.median(runs.map(_(k)))).toMap
    info("setup_runs_s") = runs.map(_("setup_s"))
    put("setup_s", med("setup_s"), "s")
    med
  }

  /** One operation: its Spark jobs run under job group = its id; in a traced
    * run the listener bus is drained before the next operation starts. A
    * throw is a failed operation, not a failed run. */
  def op(kind: String, name: String, t: Tracer = tracer)(f: OpStats => Unit): OpStats = {
    opSeq += 1
    val st = new OpStats(f"$kind-$opSeq%05d", kind, name)
    val sc = spark.sparkContext
    sc.setJobGroup(st.id, s"$kind $name", interruptOnCancel = false)
    if (t != null) t.begin(st, System.currentTimeMillis())
    attempted += 1
    val t0 = System.nanoTime()
    try f(st) catch { case e: Throwable =>
      st.ok = false
      failed += 1
      errors += s"$kind $name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      log(errors.last)
    }
    st.wallMs = (System.nanoTime() - t0) / 1e6
    log(f"$kind%-6s $name%-30s ${st.wallMs}%9.1f ms")
    val endMs = System.currentTimeMillis()
    if (t != null) { PerfbenchBus.drain(sc); t.end(st, endMs) }
    sc.clearJobGroup()
    st
  }

  /** Like [[op]], but always counts records and bytes per step, traced or
    * not: the untimed check pass needs the program's own row counts. */
  def countedOp(kind: String, name: String)(f: OpStats => Unit): OpStats =
    if (tracer != null) op(kind, name)(f)
    else {
      val t = new Tracer
      val l = new JobListener(null)
      Tracer.active = t
      spark.sparkContext.addSparkListener(l)
      try op(kind, name, t)(f)
      finally { spark.sparkContext.removeSparkListener(l); Tracer.active = null }
    }

  /** A named step of an operation: timed, and its Spark jobs tagged with it. */
  def step[T](st: OpStats, name: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.StepKey, name)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      st.stepMs(name) = st.stepMs.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e6
      val w1 = System.currentTimeMillis()
      st.stepEndMs(name) = w1
      if (tracer != null) tracer.stepSpan(st, name, w0, w1)
      sc.setLocalProperty(Tracer.StepKey, null)
    }
  }

  /** Repeat `unit` (returns its wall seconds) until it has settled: the
    * last two units agree within `settle_ratio` and the JIT compiled for at
    * most `jit_share` of the last unit's wall time; between `min_units` and
    * `max_units` units, so an unsettled run stops at the same point of its
    * JIT ramp every time. `done` holds units already run for the untimed
    * check, which count as the first warm-up units. Reports `warmup_s`. */
  def warmup(unit: () => Double, done: Seq[Double] = Nil): Unit = {
    val w = cfg.params.get("warmup")
    val ratio = w.get("settle_ratio").asDouble
    val jitShare = w.get("jit_share").asDouble
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime() - (done.sum * 1e9).toLong
    val times = mutable.ArrayBuffer.from(done)
    val jitMs = mutable.ArrayBuffer.empty[Double]
    def settled = times.size >= 2 && jitMs.nonEmpty &&
      math.abs(times.last - times(times.size - 2)) <= ratio * times(times.size - 2) &&
      jitMs.last <= jitShare * times.last * 1e3
    while (times.size < w.get("max_units").asInt &&
        (times.size < w.get("min_units").asInt || !settled)) {
      val j0 = jit.getTotalCompilationTime
      times += unit()
      jitMs += (jit.getTotalCompilationTime - j0).toDouble
    }
    log(s"warmup units: $times, jit ms: $jitMs")
    info("warmup_units_s") = times.toList
    info("warmup_jit_ms") = jitMs.toList
    info("warmup_settled") = settled
    put("warmup_s", (System.nanoTime() - t0) / 1e9, "s")
  }

  /** The measured loop: whole units until `--seconds` have passed and at
    * least `min_timed_units` ran (or `maxUnits`). Reports JIT and GC time
    * spent inside it. */
  def timed(maxUnits: Int = Int.MaxValue)(unit: Int => Unit): Int = {
    val jit = ManagementFactory.getCompilationMXBean
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gc = gcBeans.map(_.getCollectionTime).sum
    val (jit0, gc0) = (jit.getTotalCompilationTime, gc)
    val minUnits = cfg.params.get("min_timed_units").asInt
    val t0 = System.nanoTime()
    var n = 0
    while (n < maxUnits && (n < minUnits || (System.nanoTime() - t0) / 1e9 < cfg.seconds)) {
      unit(n)
      n += 1
    }
    info("timed_units") = n
    info("timed_s") = (System.nanoTime() - t0) / 1e9
    put("jit_compile_ms", (jit.getTotalCompilationTime - jit0).toDouble, "ms")
    put("jvm_gc_ms", (gc - gc0).toDouble, "ms")
    n
  }

  /** Median and tail latency of the workload's operation as `op_p50_ms`
    * and `op_tail_ms`, and under the workload's own name and unit when
    * `named` = (name, unit, ms per unit) is given. */
  def latency(samplesMs: Seq[Double], named: Option[(String, String, Double)]): Unit = {
    val (tail, pct, beyond) = Stats.tail(samplesMs)
    val p50 = Stats.median(samplesMs)
    put("op_p50_ms", p50, "ms")
    put("op_tail_ms", tail, "ms")
    named.foreach { case (name, unit, scale) =>
      put(s"${name}_p50_$unit", p50 / scale, unit)
      put(s"${name}_tail_$unit", tail / scale, unit)
    }
    info("op_tail") = Map("percentile" -> pct, "samples" -> samplesMs.size,
      "samples_beyond" -> beyond)
  }

  /** Per-layer counters and times common to all workloads, as means per
    * operation over `ops`. */
  def layerMetrics(ops: Seq[OpStats], counterOps: Seq[OpStats]): Unit = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def per(f: OpStats => Double) = mean(ops.map(f))
    def count(f: OpStats => Double) = mean(counterOps.map(f))
    put("build_ms", per(_.stepMs.getOrElse("build", 0.0)), "ms")
    put("build_jobs", count(_.buildJobs), "count")
    put("analysis_ms", per(_.analysisMs), "ms")
    put("optimization_ms", per(_.optimizationMs), "ms")
    put("planning_ms", per(_.planningMs), "ms")
    put("jobs", count(_.jobs), "count")
    put("stages", count(_.stages), "count")
    put("tasks", count(_.tasks), "count")
    val busy = ops.map(o => o.jobBusyMs(o.steps.filter(_._1 != "build").values))
    put("job_busy_ms", mean(busy), "ms")
    put("driver_gap_ms", mean(ops.zip(busy).map { case (o, b) =>
      o.wallMs - o.stepMs.getOrElse("build", 0.0) - b }), "ms")
    put("executor_run_ms", per(_.runMs), "ms")
    put("executor_cpu_ms", per(_.cpuMs), "ms")
    put("task_gc_ms", per(_.gcMs), "ms")
    put("shuffle_read_bytes", count(_.shuffleRead.toDouble), "bytes")
    put("shuffle_write_bytes", count(_.shuffleWrite.toDouble), "bytes")
    put("spill_bytes", count(_.spill.toDouble), "bytes")
    put("input_bytes", count(_.inputBytes.toDouble), "bytes")
    put("output_bytes", count(_.outputBytes.toDouble), "bytes")
    val allBusy = ops.map(_.jobBusyMs()).sum
    put("core_utilisation", if (allBusy > 0) ops.map(_.runMs).sum / (allBusy * cores) else 0.0,
      "ratio")
    put("task_skew", Stats.median(ops.map(_.worstSkew)), "ratio")
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def spans: Seq[Span] = if (tracer == null) Nil else tracer.allSpans
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest whole percentile (nearest rank) with at least ten samples
    * beyond it; the median when no percentile has ten. Returns (value,
    * percentile, samples beyond). */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n == 0) return (0.0, 50, 0)
    (99 to 50 by -1).iterator.map { p =>
      val idx = math.max(math.ceil(p / 100.0 * n).toInt - 1, 0)
      (s(idx), p, n - 1 - idx)
    }.find(_._3 >= 10).getOrElse((median(s), 50, n / 2))
  }
}
