package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload run: set up several times, run cycles of timed steps for
  * the given seconds (and at least the workload's minimum), check every
  * output, and print the run's environment and then one JSON result
  * line. The first set-up and the first cycle also load and compile the
  * code they run.
  *
  * {{{
  * Main --workload <tabular_io|corpus_search> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --spans <file> [--smoke]
  * }}}
  *
  * With `--trace 1` every other cycle runs with a SparkListener attached,
  * the traced run then visits the other workloads' layers once at the
  * small scale, and the result carries the per-layer metrics instead of
  * the end-to-end ones. */
object Main {
  val Workloads: Seq[String] = Seq("tabular_io", "corpus_search")

  def make(name: String, ctx: Ctx, scale: Scale): Workload = name match {
    case "tabular_io" => new TabularIo(ctx, scale)
    case "corpus_search" => new CorpusSearch(ctx, scale)
  }

  private def loadAvg(): Double =
    Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble

  /** The machine's CPU time counters: (steal, total) in clock ticks. Steal
    * is time a virtual machine's CPUs waited for the host, which slows a
    * run without showing in the load average. */
  private def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val smoke = args.contains("--smoke")
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val loadStart = loadAvg()
    val ticksStart = cpuTicks()
    val nproc = Runtime.getRuntime.availableProcessors
    val master = s"local[$nproc]"
    val spark = SparkSession.builder().master(master).appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, seed, work, tracer)
    val scale = if (smoke) Scale.Small else Scale.Full
    val w = make(workload, ctx, scale)
    val runSpan = tracer.open("workload", workload, "run")

    val phaseS = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // "start" covers the JVM and the Spark session coming up
    var mark = System.nanoTime() - (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    def endPhase(name: String): Unit = {
      val now = System.nanoTime(); phaseS(name) = (now - mark) / 1e9; mark = now
    }
    endPhase("start")
    ctx.phase = "setup"
    val setupMs = (1 to w.setups).map { i =>
      val t0 = System.nanoTime()
      ctx.span("setup", s"setup$i")(w.setup())
      (System.nanoTime() - t0) / 1e6
    }
    ctx.markHeap()
    endPhase("setup")

    ctx.phase = "measure"
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // a traced run's cycles alternate untraced and traced; its overhead
    // leaves out the first cycle, which also compiles, so it needs three
    val minCycles = if (trace) 3 else if (smoke) 1 else w.minCycles
    var cycles = 0
    while (cycles < minCycles || (!smoke && System.nanoTime() < deadline)) {
      val traced = trace && cycles % 2 == 1
      if (traced) tracer.attach()
      ctx.span("cycle", s"cycle$cycles")(w.cycle())
      if (traced) tracer.detach()
      ctx.markHeap()
      cycles += 1
    }
    endPhase("measure")

    // the traced run also visits, once and small, the layers the other
    // workload exercises, so that every per-layer metric is observed
    val visited = ArrayBuffer.empty[Workload]
    if (trace) Workloads.filter(_ != workload).foreach { other =>
      ctx.phase = "visit"
      val v = make(other, ctx, Scale.Small)
      tracer.attach()
      ctx.span("visit", other) { v.setup(); v.cycle(); v.finalChecks() }
      tracer.detach()
      v.close()
      visited += v
    }
    endPhase("visit")

    ctx.phase = "check"
    w.finalChecks()
    ctx.markHeap()
    tracer.close(runSpan)
    endPhase("check")

    val measured = tracer.spans.toSeq.filter(_.phase == "measure")
    val cyc = measured.filter(_.kind == "cycle")
    val stepMs = measured.filter(s => s.kind == "step" && s.ok).groupBy(_.name)
      .map { case (k, v) => k -> Stats.median(v.map(_.ms)) }
    val metrics: Seq[(String, Metric)] =
      if (trace) {
        val on = Stats.median(cyc.filter(_.traced).map(_.ms))
        val off = Stats.median(cyc.drop(1).filterNot(_.traced).map(_.ms))
        (w +: visited.toSeq).flatMap(v => v.results() ++ v.layers()) ++
          tracer.selfTimes("measure").toSeq.map { case (k, v) => k -> Metric(v, "s") } ++ Seq(
          "trace.overhead_share" -> Metric(on / off - 1, "ratio"),
          "peak_heap_mb" -> Metric(ctx.heapPeakMb, "MB"))
      } else {
        def geomean(kinds: Seq[String]) =
          math.exp(kinds.map(k => math.log(stepMs.getOrElse(k, Double.NaN))).sum / kinds.size)
        Seq("setup_s" -> Metric(Stats.median(setupMs) / 1e3, "s"),
          "cycle_s" -> Metric(Stats.median(cyc.map(_.ms)) / 1e3, "s"),
          "read_call_ms" -> Metric(geomean(w.readSteps), "ms"),
          "write_call_ms" -> Metric(geomean(w.writeSteps), "ms"))
      }

    val spansFile = opts.get("spans").filter(_ => trace).map(Paths.get(_))
    spansFile.foreach(tracer.write)
    w.close()
    val loadEnd = loadAvg()
    val ticksEnd = cpuTicks()
    val checkSummary = ctx.checks.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (k, v) => k -> s"${v.count(_._2)}/${v.size} passed" }.toMap
    println(Json.obj("env" -> Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "smoke" -> smoke,
      "seconds" -> seconds, "cycles" -> cycles, "phase_s" -> phaseS.toMap, "setups" -> w.setups, "setup_each_s" -> setupMs.map(_ / 1e3),
      "cycle_each_s" -> cyc.map(_.ms / 1e3),
      "nproc" -> nproc, "master" -> master,
      "load_avg_1m_start" -> loadStart, "load_avg_1m_end" -> loadEnd,
      "cpu_steal_share" -> Stats.safeDiv((ticksEnd._1 - ticksStart._1).toDouble,
        (ticksEnd._2 - ticksStart._2).toDouble),
      "jvm_heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576, "peak_heap_mb" -> ctx.heapPeakMb,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "build" -> Seq("stamp", "classpath_sha", "spark_home")
        .map(k => k -> System.getProperty(s"perfbench.$k")).toMap,
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.filterNot(a => a.startsWith("--add-opens") || a.startsWith("-Dperfbench.") ||
          a.contains("=ALL-UNNAMED")),
      "inputs" -> w.inputs.map { case (n, r, b) => Map("name" -> n, "rows" -> r, "bytes" -> b) },
      "spans_file" -> spansFile.map(_.toString).orNull,
      "results" -> scala.collection.immutable.ListMap(w.results(): _*), "notes" -> w.notes,
      "step_p50_ms" -> stepMs,
      "checks" -> checkSummary, "errors" -> ctx.errors.take(20).toSeq)))
    val correct = ctx.failed == 0 && ctx.checks.forall(_._2) && ctx.attempted > 0 &&
      metrics.forall(m => !m._2.value.isNaN && !m._2.value.isInfinite)
    println(Json.obj("correct" -> correct, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*)))
    System.out.flush()
    spark.stop()
    // library thread pools may outlive the session by their keep-alive
    System.exit(0)
  }
}
