package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** JVM side of the benchmark: set up, warm up, run timed passes of one
  * workload, check its outputs, and write `result.json` (plus
  * `spans.json` and `layers.json` when tracing) to the output directory.
  *
  * Usage: perfbench.Main --workload W --seconds S --passes P --trace 0|1
  *   --inputs DIR --work DIR --out DIR --cores N --broadcast-bytes B
  */
object Main {

  /** No new pass starts once it could end past this many measuring seconds. */
  val PassBudgetS = 100.0

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val minPasses = a("passes").toInt
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val (inputs, work, out) = (a("inputs"), a("work"), a("out"))
    val mapper = new ObjectMapper()
    val manifest = mapper.readValue(new File(s"$inputs/manifest.json"),
      classOf[java.util.Map[String, AnyRef]])
    new File(out).mkdirs()

    def startSession(): SparkSession = {
      val b = SparkSession.builder().master(s"local[$cores]")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        // Scaled to the workload so the growing ODS target crosses it mid-run.
        .config("spark.sql.autoBroadcastJoinThreshold", a("broadcast-bytes"))
      val s = GraftSession.configure(b, cores.toString).getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    Memory.install()
    val s0 = System.nanoTime
    val spark = startSession()
    val sessionS = (System.nanoTime - s0) / 1e9
    val runner = new Runner(spark)
    val wl = Workload(workload, spark, inputs, work, manifest)
    val w0 = System.nanoTime
    val h0 = Host.ticks()
    wl.prepare()
    runner.beginPass(-1, traced = false)
    wl.pass(-1, runner) // warm-up; its outputs are the reference for later passes
    wl.verify(-1, runner)
    val warmupS = (System.nanoTime - w0) / 1e9
    val warmupSteal = Host.stealShare(h0)

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val tracer = new Tracer(s"$work/targets")
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    def gcS = gcs.map(_.getCollectionTime).sum / 1e3
    final case class PassRec(p: Int, traced: Boolean, wallS: Double, cpuS: Double,
        gcS: Double, jitS: Double, stealShare: Double, codegenCompiles: Long)
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val t0 = System.nanoTime
    def elapsed = (System.nanoTime - t0) / 1e9
    // Traced runs alternate untraced and traced passes and end on an
    // untraced one, so each traced pass is compared with the mean of its two
    // neighbours and a JIT warm-up slope cancels out of `trace.overhead`.
    def needMore = passes.size < minPasses || elapsed < seconds ||
      (trace && (passes.size < 3 || passes.last.traced))
    while (needMore && (passes.isEmpty || elapsed + passes.last.wallS < PassBudgetS)) {
      val p = passes.size
      val traced = trace && p % 2 == 1
      // Every timed pass starts from a collected heap and a quiet listener bus.
      Memory.collect()
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      if (traced) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      runner.beginPass(p, traced)
      val (c0, g0, j0) = (os.getProcessCpuTime, gcS, jit.getTotalCompilationTime)
      val (p0, h1) = (System.nanoTime, Host.ticks())
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      wl.pass(p, runner)
      val wall = (System.nanoTime - p0) / 1e9
      val cpu = (os.getProcessCpuTime - c0) / 1e9
      runner.endPass()
      if (traced) {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
      wl.verify(p, runner)
      passes += PassRec(p, traced, wall, cpu, gcS - g0,
        (jit.getTotalCompilationTime - j0) / 1e3, Host.stealShare(h1),
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0)
    }

    val measured = runner.ops.filter(_.pass >= 0)
    // Any failure fails the run, warm-up operations included.
    val failed = runner.ops.count(!_.ok) + runner.checkFailures
    val plain = passes.filterNot(_.traced)
    val plainOps = measured.filter(o => plain.exists(_.p == o.pass)).map(_.wallS).toSeq
    val setupJvm = sessionS + warmupS
    Memory.collect()
    val mem = Memory.snapshot()
    val endToEnd = Map(
      "setup_jvm_s" -> setupJvm,
      "batch_s" -> Stats.median(plain.map(_.wallS)),
      "op_s_p50" -> Stats.quantile(plainOps, 0.5),
      "op_s_p75" -> Stats.quantile(plainOps, 0.75),
      "cpu_s" -> Stats.median(plain.map(_.cpuS)),
      "peak_mem_mb" -> mem("peak_mem_mb"))

    val layers =
      if (trace) Some(new Layers(runner, tracer, passes.filter(_.traced).map(_.p).toSeq))
      else None
    val (perLayer, opLayers) = layers match {
      case None => (Map.empty[String, Double], Seq.empty[Map[String, Any]])
      case Some(l) =>
        val overhead = passes.indices
          .filter(i => passes(i).traced && i > 0 && i + 1 < passes.size)
          .map(i => passes(i).wallS / ((passes(i - 1).wallS + passes(i + 1).wallS) / 2))
        val metrics = l.perPass() ++ Map(
          "spark.codegen_compiles" ->
            Stats.median(passes.filter(_.traced).map(_.codegenCompiles.toDouble)),
          "GraftSession.configure_s" -> sessionS,
          "trace.overhead" -> Stats.median(overhead),
          "trace.driver_share" -> l.driverShare,
          "op_fail_ratio" -> failed.toDouble / math.max(1, measured.size))
        (metrics, l.opRecords)
    }
    // The self-time sum matches by construction; the attribution checks
    // in Layers.problems are the ones that can fail.
    val selfErr = opLayers.map(_("self_err").asInstanceOf[Double]).maxOption.getOrElse(0.0)
    val traceProblems = layers.map(_.problems).getOrElse(Nil) ++
      (if (selfErr > 0.05) Seq(f"layer self times miss an op's wall time by $selfErr%.3f") else Nil)
    traceProblems.foreach(p => System.err.println(s"[perfbench] trace check failed: $p"))
    val traceOk = traceProblems.isEmpty
    val conf = spark.conf
    val result = Map(
      "workload" -> workload,
      "correct" -> (failed == 0 && traceOk),
      "attempted" -> measured.size,
      "failed" -> failed,
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer,
      "trace_self_time_max_err" -> selfErr,
      "trace_checks" -> layers.map(_.summary).orNull,
      "memory" -> mem,
      "passes" -> passes.map(p => Map("pass" -> p.p, "traced" -> p.traced,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "gc_s" -> p.gcS, "jit_s" -> p.jitS,
        "host_steal_share" -> p.stealShare, "codegen_compiles" -> p.codegenCompiles)),
      "setup" -> Map("session_start_s" -> sessionS, "warmup_s" -> warmupS,
        "warmup_host_steal_share" -> warmupSteal),
      "ops" -> runner.ops.map(o => Map("id" -> o.id, "pass" -> o.pass, "name" -> o.name,
        "wall_s" -> o.wallS, "ok" -> o.ok, "error" -> o.error.orNull)),
      "counters" -> runner.counters.toSeq.sortBy(_._1).map { case (p, m) =>
        Map("pass" -> p) ++ m },
      "provenance" -> Map(
        "master" -> spark.sparkContext.master,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
        "io_codec" -> conf.get("spark.io.compression.codec"),
        "auto_broadcast_join_threshold" -> conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "available_processors" -> Runtime.getRuntime.availableProcessors))
    Json.write(mapper, new File(s"$out/result.json"), result)
    layers.foreach { l =>
      Json.write(mapper, new File(s"$out/spans.json"), runner.spans.map(spanJson) ++ l.sparkSpans)
      Json.write(mapper, new File(s"$out/layers.json"), Map(
        "per_pass_median" -> perLayer, "checks" -> l.summary, "ops" -> opLayers))
    }
    spark.stop()
  }

  def spanJson(s: Span): Map[String, Any] = Map("id" -> s.id, "parent" -> s.parent,
    "name" -> s.name, "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs

}

/** Host CPU time stolen by the hypervisor, from the first line of Linux
  * /proc/stat; recorded per pass to tell host noise from program changes. */
object Host {
  /** (steal, total) jiffies over all CPUs. */
  def ticks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (xs.length > 7) xs(7) else 0L, xs.take(8).sum)
    } finally f.close()
  }

  def stealShare(from: (Long, Long)): Double = {
    val (s1, t1) = ticks()
    if (t1 > from._2) (s1 - from._1).toDouble / (t1 - from._2) else 0.0
  }
}

/** The program's peak memory, in MiB: the largest heap the program retains
  * across a full collection (from GC notifications; the harness collects
  * before every timed pass and at the end) plus the peak resident memory
  * outside the heap (Linux VmHWM less the committed heap, which the harness
  * pre-touches, so it is always resident). Young collections are left out:
  * what they leave behind includes old-generation garbage whose amount
  * depends on when the concurrent cycle ran. */
object Memory {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var peakLiveHeap = 0L
  private var majorGcs = 0L

  /** A full collection whose notification has been seen (they arrive on
    * another thread), so the heap it leaves counts in [[snapshot]]. */
  def collect(): Unit = {
    val before = synchronized(majorGcs)
    System.gc()
    val deadline = System.nanoTime + 2000000000L
    while (synchronized(majorGcs) == before && System.nanoTime < deadline) Thread.sleep(5)
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          if (info.getGcAction.contains("major")) {
            val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized {
              peakLiveHeap = math.max(peakLiveHeap, live)
              majorGcs += 1
            }
          }
        }, null, null)
    case _ =>
  }

  def snapshot(): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    val hwm = line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    val committed = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / mb
    val liveBytes: Long = synchronized(peakLiveHeap)
    val live = liveBytes / mb
    Map("vm_hwm_mb" -> hwm, "heap_committed_mb" -> committed,
      "native_peak_mb" -> (hwm - committed), "peak_live_heap_mb" -> live,
      "peak_mem_mb" -> (hwm - committed + live))
  }
}

object Stats {
  def median(xs: Iterable[Double]): Double = quantile(xs.toSeq, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Json {
  def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.toSeq.sortBy(_._1.toString).foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case null => null
    case x => x.asInstanceOf[AnyRef]
  }

  def write(mapper: ObjectMapper, f: File, v: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, toJava(v))
}
