package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed call: its type, the scope it hit (`hot`, `cold` or
  * empty), its wall seconds and the process CPU seconds spent while
  * it ran. */
final case class OpRec(kind: String, scope: String, seconds: Double, cpu: Double)

/** Shared machinery of one benchmark run: timing, the optional trace,
  * correctness accounting and the metrics every workload reports.
  *
  * `setup_s` runs from JVM start (`RuntimeMXBean.getStartTime`) to the
  * end of [[setup]]: boot and the workload's set-up (the session's
  * input generation and import, the board's untimed pass), which is
  * real, steady work so boot jitter is a small share of it.
  * An op's latency is counted in wall and in process CPU seconds; the
  * bounded metrics use CPU (see [[endToEnd]]).
  * An op times only the engine call; its expected answer is computed
  * before the clock starts and compared after it stops.
  */
final class Run(val spark: SparkSession, val trace: Option[Trace], val seed: Long,
    val seconds: Int, val work: Path) {

  private val mx = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  val ops = ArrayBuffer.empty[OpRec]
  /** Seconds per named set-up step. */
  val setupSpans = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private var checks = 0L
  private val failures = ArrayBuffer.empty[String]
  var setupS = 0.0
  var runS = 0.0
  var cpuS = 0.0
  var heapMb = 0.0
  var cachedMb = 0.0
  private val memoStart = graft.functions.MemoStats.snapshot
  /** (memo builds, memo hits) during set-up and during the timed phase. */
  var memoSetup, memoRun = (0L, 0L)
  /** Workload-specific per-layer numbers, by metric name. */
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Progress on stderr, so a slow or stuck run shows where it is. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] $msg")

  private def traced[T](phase: String, module: String, name: String)(body: => T): T =
    trace.fold(body)(_.span(phase, module, name)(body))

  /** A set-up step: timed into `setupSpans(name)`. */
  def step[T](module: String, name: String)(body: => T): T = {
    val (v, s) = time(traced("setup", module, name)(body))
    setupSpans(name) = s
    log(f"set-up $name $s%.2f s")
    v
  }

  /** A set-up step whose calls trace themselves (as [[warm]] does):
    * timed into `setupSpans(name)` without a span of its own. */
  def untraced[T](name: String)(body: => T): T = {
    val (v, s) = time(body)
    setupSpans(name) = s
    log(f"set-up $name $s%.2f s")
    v
  }

  /** Record a correctness check outside the timed ops. */
  def check(what: String, ok: => Boolean): Unit = {
    checks += 1
    val good = try ok catch { case e: Exception => fail(what, e); false }
    if (!good) failures += what
  }

  private def fail(what: String, e: Throwable): Unit =
    System.err.println(s"[perfbench] $what: ${e.getClass.getSimpleName}: ${e.getMessage}")

  /** An untimed set-up call, still checked. */
  def warm[T](kind: String, module: String)(query: => T)(ok: T => Boolean): Unit =
    check(s"set-up $kind", ok(traced("setup", module, kind)(query)))

  /** One timed call: only `query` is timed, then `ok` checks its
    * result. A thrown exception or a wrong answer is a failed op. */
  def op[T](kind: String, module: String, scope: String = "")(query: => T)(ok: T => Boolean): Unit = {
    val c0 = mx.getProcessCpuTime
    val t0 = System.nanoTime()
    val got = try Some(traced("run", module, kind)(query)) catch { case e: Exception => fail(kind, e); None }
    val s = (System.nanoTime() - t0) / 1e9
    val cpu = (mx.getProcessCpuTime - c0) / 1e9
    val good = got.exists(g => try ok(g) catch { case e: Exception => fail(kind, e); false })
    if (!good) failures += s"$kind#${ops.size}"
    ops += OpRec(kind, scope, s, cpu)
    log(f"op $kind $scope $s%.3f s, $cpu%.3f cpu s${if (good) "" else " FAILED"}")
  }

  /** Everything before the timed phase; `setup_s` ends when it returns. */
  def setup[T](body: => T): T = {
    val v = body
    setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    log(f"set-up done $setupS%.2f s after JVM start")
    v
  }

  /** The timed phase: runs `body` and records wall and process CPU
    * seconds, memo counts, Spark's cached bytes, then the heap retained
    * after full collections. */
  def timed(body: => Unit): Unit = {
    val m0 = graft.functions.MemoStats.snapshot
    val c0 = mx.getProcessCpuTime
    runS = time(body)._2
    cpuS = (mx.getProcessCpuTime - c0) / 1e9
    val m1 = graft.functions.MemoStats.snapshot
    memoSetup = (m0._1 - memoStart._1, m0._2 - memoStart._2)
    memoRun = (m1._1 - m0._1, m1._2 - m0._2)
    cachedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    // the second and third collections free what the context cleaner
    // released after the first
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def attempted: Long = checks + ops.size
  def failed: Long = failures.size.toLong
  def failureList: Seq[String] = failures.toSeq

  private def byKind(f: OpRec => Double): Map[String, Seq[Double]] =
    ops.toSeq.groupBy(_.kind).map { case (k, v) => k -> v.map(f) }

  /** The metrics BENCHMARK.json bounds. Latency is counted in process
    * CPU seconds: on a shared host, wall time of the same run moves by
    * up to a quarter with the neighbours' load (steal), while the CPU a
    * call burns does not. */
  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("cpu_s", cpuS, "s"),
    ("op_cpu_geomean_s", Stats.geomeanOfMedians(byKind(_.cpu)), "s"),
    ("retained_heap_mb", heapMb, "MB"))

  /** Wall-clock figures of the timed phase, reported beside the
    * metrics and not bounded. */
  def wall: Seq[(String, Double)] = Seq(
    "run_s" -> runS,
    "op_p50_s" -> Stats.median(ops.map(_.seconds).toSeq),
    "op_geomean_s" -> Stats.geomeanOfMedians(byKind(_.seconds)))

  /** Median seconds of the timed ops of one kind (0 when absent). */
  def p50(kind: String): Double =
    ops.filter(_.kind == kind).map(_.seconds).toSeq match {
      case Seq() => 0.0
      case xs => Stats.median(xs)
    }
}

object Main {

  private def arg(args: Seq[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Seq(`name`, v) => v }

  def main(argv: Array[String]): Unit = {
    val args = argv.toSeq
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(10)
    val traceOn = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse("work")).toAbsolutePath
    val threads = arg(args, "--threads").map(_.toInt).getOrElse(4)
    Files.createDirectories(work)

    val spark = graft.GraftSession.local(threads)
    try {
      if (workload == "board-data") {
        Board.writeData(spark, work)
        return
      }
      val trace = if (traceOn) Some(new Trace(spark.sparkContext)) else None
      val run = new Run(spark, trace, seed, seconds, work)
      workload match {
        case "session" => Session.run(run)
        case "board" => Board.run(run,
          Paths.get(arg(args, "--data").getOrElse(sys.error("board needs --data <dir>"))),
          Paths.get(arg(args, "--oracle").getOrElse(sys.error("board needs --oracle <file>"))))
        case other => sys.error(s"unknown workload '$other' (session or board)")
      }
      val metrics =
        if (traceOn) Layers.report(run).map { case (k, v) => (k, v, Layers.unit(k)) }
        else run.endToEnd
      println("RESULT " + Json.result(run, metrics, workload))
    } finally spark.stop()
  }
}
