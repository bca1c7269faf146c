package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Metric(value: Double, unit: String)

/** Input sizes. `Full` is what a measured run uses; `Small` serves the
  * smoke mode and the traced run's visits to the other workloads' layers. */
final case class Scale(name: String, lineitemRows: Long, referenceRows: Int,
    dedupDocs: Int, dedupExact: Int, dedupNear: Int,
    vectors: Int, indexDocs: Int, batchRows: Int, setups: Int)

object Scale {
  /** The BM25 documents are half as many as the sf0.1 documents table's
    * 5000 rows and the dedup corpus a quarter, with the table's 5 % near
    * copies and exact copies planted for the MinHash check (the table has
    * 8 in 5000). */
  val Full = Scale("full", lineitemRows = 80000L, referenceRows = 8000,
    dedupDocs = 1184, dedupExact = 4, dedupNear = 62,
    vectors = 8000, indexDocs = 2500, batchRows = 40, setups = 5)
  val Small = Scale("small", lineitemRows = 8000L, referenceRows = 2000,
    dedupDocs = 380, dedupExact = 4, dedupNear = 20,
    vectors = 2000, indexDocs = 400, batchRows = 10, setups = 1)
}

/** State shared by the workloads of one run: the session, the span
  * recorder, the phase, and the attempted/failed tallies. Every timed
  * call goes through [[step]]; every output check through [[check]]. */
final class Ctx(val spark: SparkSession, val seed: Long, val workDir: java.nio.file.Path,
    val tracer: Tracer) {
  val nproc: Int = spark.sparkContext.defaultParallelism
  var phase = "setup"
  var attempted = 0L
  var failed = 0L
  val checks = ArrayBuffer.empty[(String, Boolean)]
  val errors = ArrayBuffer.empty[String]
  private var heapPeakBytes = 0L

  def path(name: String): String = workDir.resolve(name).toString

  /** One timed call: an attempt; an exception fails it. */
  def step[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val s = tracer.open("step", name, phase)
    try Some(body)
    catch {
      case NonFatal(e) =>
        s.ok = false
        failed += 1
        errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    } finally tracer.close(s)
  }

  /** Independent untimed calls (checks) side by side. Each
    * thread is new, so it inherits the caller's span property. */
  def par[A](calls: Seq[() => A]): Seq[scala.util.Try[A]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(calls.size)
    try calls.map(c => pool.submit(() => c())).map(f => scala.util.Try(f.get()))
    finally pool.shutdown()
  }

  def span[T](kind: String, name: String)(body: => T): T = {
    val s = tracer.open(kind, name, phase)
    try body finally tracer.close(s)
  }

  /** An output check, made outside any timed call. A failed check is a
    * failed operation. */
  def check(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch {
      case NonFatal(e) => errors += s"check $name: ${e.getMessage}".take(400); false
    }
    checks += ((name, r))
    if (!r) failed += 1
  }

  /** Durations in ms of the successful calls of one step, measured in
    * the loop or, for a workload visited by a traced run, in the visit. */
  def samples(name: String): Seq[Double] =
    tracer.spans.toSeq.filter(s => s.kind == "step" && s.name == name && s.ok &&
      (s.phase == "measure" || s.phase == "visit")).map(_.ms)

  /** Live heap after a full collection, at a point between timed calls.
    * The second collection takes what the first one's reference
    * processing (Spark's cleaner) released. */
  def markHeap(): Unit = {
    System.gc()
    Thread.sleep(50)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    heapPeakBytes = math.max(heapPeakBytes, used)
  }
  def heapPeakMb: Double = heapPeakBytes / 1048576.0
}

/** A workload: inputs built by `setup` (run several times, each replacing
  * the last), a cycle of timed steps with their checks, checks that run
  * once after the measured loop, and the metrics its steps yield. */
trait Workload {
  def name: String
  /** How many times a run sets up; setup_s is their median. */
  def setups: Int = 1
  /** The fewest cycles a run measures; cycle_s and the per-call figures
    * are medians over them. With three, the first cycle, which also
    * compiles, drops out of the median. */
  def minCycles: Int = 3
  def setup(): Unit
  def cycle(): Unit
  /** The timed calls that only read (files, indexes, a cached corpus)
    * and those that write (files, index appends and deletes). */
  def readSteps: Seq[String]
  def writeSteps: Seq[String]
  def finalChecks(): Unit
  /** The workload's own results (throughputs, latencies) from its
    * measured calls, named as in the graft.Bench series. */
  def results(): Seq[(String, Metric)]
  /** How to read a result, where its definition depends on the run. */
  def notes: Seq[String] = Nil
  /** Per-layer metrics from the traced calls of this workload's steps. */
  def layers(): Seq[(String, Metric)]
  /** (input name, rows, bytes). */
  def inputs: Seq[(String, Long, Long)]
  def close(): Unit
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  }

  /** The highest percentile with at least `beyond` samples above it:
    * (value, percentile, sample count). */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double, Int) = {
    val s = xs.sorted
    val i = s.length - beyond - 1
    if (i < 0) (Double.NaN, Double.NaN, s.length)
    else (s(i), 100.0 * (i + 1) / s.length, s.length)
  }

  def safeDiv(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}

object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: Metric => obj("value" -> m.value, "unit" -> m.unit)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => (k.toString, x) }: _*)
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case o => quote(o.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${quote(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  def quote(s: String): String = {
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
