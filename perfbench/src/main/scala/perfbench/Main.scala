package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** Benchmark JVM: one workload per process, so heap and cache state never
  * carry over between workloads.
  *
  * Usage (normally started by `perfbench/run.py`):
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> --out <result.json>
  *
  * Phases: session start; the workload's set-up repeated [[SetupReps]]
  * times (the first also builds the inputs and runs warm-up ops).
  * `setup_s` is session start plus the median set-up; `cold_start_s` is
  * session start plus the first set-up with its warm-up, the path a user
  * pays once per process (input tables, class loading, codegen, first
  * JIT compiles).
  * Then a closed loop of ops for `--seconds` of measured time; then every
  * answer is checked against the generator's model, and the checker is
  * fed a corrupted answer to prove it rejects it. A traced run
  * (`--trace 1`) splits the loop into quarters run untraced, traced,
  * traced, untraced, so drift of op latency over the run (the JIT,
  * caches) falls on both halves alike; see [[Tracer]].
  */
object Main {

  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: File, out: File)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("out")))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Highest percentile with at least ten samples beyond it: sorted
    * index n-11 (the maximum when there are ten samples or fewer). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size <= 10) (s.lastOption.getOrElse(Double.NaN), 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  def procStatusKb(field: String): Long = {
    val f = new File("/proc/self/status")
    if (!f.exists()) 0L
    else scala.io.Source.fromFile(f).getLines()
      .find(_.startsWith(field + ":"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def main(argv: Array[String]): Unit =
    try run(parse(argv))
    catch { case e: Throwable =>
      e.printStackTrace()
      sys.exit(1) // shutdown hooks stop Spark; no result file is written
    }

  private def run(args: Args): Unit = {
    val nproc = Runtime.getRuntime.availableProcessors()
    args.work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(args.work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(args.work, "spark-local").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(args.work, "hadoop").getAbsolutePath)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    // Traced run: set-up traced, then the loop in alternating quarters
    // (untraced ones register no listener); the op medians of the two
    // halves give the tracing overhead.
    val tracer = new Tracer(spark)
    if (args.trace) tracer.enable()
    val w: Workload = args.workload match {
      case "dashboard_session" => new DashboardSession(spark, args, tracer)
      case "curation_batch"    => new CurationBatch(spark, args, tracer)
      case other => sys.error(s"unknown workload $other")
    }

    val setupTimes = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      w.setup(r)
      (System.nanoTime() - t0) / 1e9
    }

    tracer.disable()
    val opIndex = new java.util.concurrent.atomic.AtomicLong(0)
    val quarters = if (args.trace) Seq(false, true, true, false) else Seq(false)
    val before = tracer.snapshot()
    val runs = quarters.map { traced =>
      val l = new Loop(args.seconds / quarters.size, w.clients, opIndex)
      if (traced) tracer.enable()
      l.run(w)
      tracer.disable()
      traced -> l
    }
    val after = tracer.snapshot()
    val loops = runs.map(_._2)
    val untracedLat = runs.filterNot(_._1).flatMap(_._2.log.latencies)
    val tracedLat = runs.filter(_._1).flatMap(_._2.log.latencies)
    val probes = if (!args.trace) Map.empty[String, Double] else {
      tracer.enable()
      try w.traceProbes() finally tracer.disable()
    }

    val checkStart = System.nanoTime()
    val checked = w.check()
    val exceptions = loops.flatMap(_.exceptions.toArray.toSeq.map(_.toString))
    val verdict = Verdict(checked.failed + exceptions.size, exceptions ++ checked.errors)
    val selfTest = w.selfTest()
    val checkSeconds = (System.nanoTime() - checkStart) / 1e9
    val hwm = procStatusKb("VmHWM")

    val lat = untracedLat
    val window = runs.filterNot(_._1).map(_._2.windowSeconds).sum
    val (tailV, tailP) = tail(lat)
    val ops = loops.map(_.log.latencies.size).sum
    val e2e = mutable.LinkedHashMap[String, Any](
      "setup_s" -> (sessionReady + median(setupTimes)),
      "cold_start_s" -> (sessionReady + setupTimes.head),
      "op_p50_s" -> median(lat),
      "peak_rss_mb" -> hwm / 1024.0)
    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "ops" -> lat.size, "window_s" -> window, "latencies_s" -> lat,
      "completed_ops_per_window_s" -> lat.size / window,
      "op_tail_s" -> tailV, "op_tail_percentile" -> tailP,
      // closed loop without think time: throughput = clients / mean latency
      "ops_per_s" -> w.clients / (lat.sum / lat.size),
      "session_start_s" -> sessionReady, "setup_reps_s" -> setupTimes,
      "check_s" -> checkSeconds,
      "failed_frac" -> (if (ops == 0) 1.0 else verdict.failed.toDouble / ops),
      "errors" -> verdict.errors.take(5),
      "self_test_caught" -> selfTest,
      "kinds" -> loops.flatMap(_.log.kinds).groupBy(identity).map { case (k, v) => k -> v.size },
      "nproc" -> nproc, "master" -> s"local[$nproc]",
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "input" -> w.inputProperties)

    val perLayer = mutable.LinkedHashMap[String, Any]()
    if (args.trace) {
      // the tracer counts only while enabled: the delta is the traced ops
      val n = tracedLat.size
      val perOp = (x: Double) => if (n == 0) 0.0 else x / n
      perLayer ++= Layers.fromSpans(tracer)
      perLayer ++= probes
      perLayer ++= w.layerCounts
      perLayer("plans.planning_s_per_op") = perOp((after.planningNs - before.planningNs) / 1e9)
      perLayer("spark.jobs_per_op") = perOp((after.jobs - before.jobs).toDouble)
      perLayer("spark.task_s_per_op") = perOp((after.taskNs - before.taskNs) / 1e9)
      perLayer("spark.gc_s_per_op") = perOp((after.gcMs - before.gcMs) / 1e3)
      perLayer("spark.spill_mb_per_op") = perOp((after.spillBytes - before.spillBytes) / 1048576.0)
      perLayer("trace.op_p50_s") = median(tracedLat)
      perLayer("trace.untraced_op_p50_s") = median(lat)
      perLayer("trace.overhead_s") = median(tracedLat) - median(lat)
    }

    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (verdict.failed == 0 && selfTest && ops > 0),
      "attempted" -> ops, "failed" -> verdict.failed,
      "end_to_end" -> e2e, "per_layer" -> perLayer, "info" -> info)
    if (args.trace) {
      // every span as [name, op, id, parent, start ms from the first, ms]
      val spans = tracer.allSpans.sortBy(_.startNs)
      val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
      result("spans") = spans.map(s => Seq(s.name, s.op, s.id, s.parent,
        (s.startNs - t0) / 1e6, (s.endNs - s.startNs) / 1e6))
    }
    Files.write(args.out.toPath, Json(result).getBytes("UTF-8"))
    spark.stop()
  }
}

/** Outcome of checking every op of the run. */
final case class Verdict(failed: Int, errors: Seq[String])

/** One workload: set-up, one op per call, and the checks. */
trait Workload {
  def clients: Int
  /** Set-up rep 0..SetupReps-1 (what it repeats is the workload's). Rep 0
    * also runs untimed warm-up ops (JIT and codegen are per JVM, so
    * later reps have nothing left to warm). */
  def setup(rep: Int): Unit
  /** One op for `client`; timed by the loop. Returns the op's kind. */
  def op(client: Int, index: Long): String
  /** Check every op's answer after the loops. */
  def check(): Verdict
  /** Feed the checker a corrupted answer; true if it was rejected. */
  def selfTest(): Boolean
  def inputProperties: Map[String, Any]
  /** Traced run only: one-off spans measured after the loop. */
  def traceProbes(): Map[String, Double] = Map.empty
  /** Traced run only: layer counts (files, versions, cache size). */
  def layerCounts: Map[String, Any] = Map.empty
}

/** Closed loop: `clients` threads each issue their next op only after the
  * previous one returns, until `seconds` have passed. Op indices come
  * from `opIndex`, shared by every loop of the run. A failed op
  * (exception) is recorded and counted as failed. */
final class Loop(seconds: Double, clients: Int, opIndex: java.util.concurrent.atomic.AtomicLong) {
  val log = new OpLog
  val exceptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile private var startNs = 0L
  @volatile private var endNs = 0L

  def windowSeconds: Double = (endNs - startNs) / 1e9

  def run(w: Workload): Unit = {
    startNs = System.nanoTime()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        while ((System.nanoTime() - startNs) / 1e9 < seconds) {
          val i = opIndex.getAndIncrement()
          val t0 = System.nanoTime()
          val kind =
            try w.op(c, i)
            catch { case e: Throwable =>
              exceptions.add(s"op $i: $e"); "error"
            }
          log.record(kind, (System.nanoTime() - t0) / 1e9)
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    endNs = System.nanoTime()
  }
}

/** Per-layer span metrics: for each span name, the median over ops of
  * the op's total time in that span, plus the listener counters. */
object Layers {
  val WarmUp: Long = Long.MinValue
  def fromSpans(t: Tracer): Map[String, Double] = {
    // warm-up ops run with op indices below WarmUp and are left out;
    // set-up spans carry op = -(rep + 1), one sample per set-up
    val spans = t.allSpans.filter(_.op > WarmUp + 1000)
    spans.groupBy(_.name).flatMap { case (name, ss) =>
      val byOp = ss.groupBy(_.op).values.toSeq
      val secs = byOp.map(_.map(_.seconds).sum)
      val work = byOp.map { g => val w = new Work; g.foreach(s => w += t.workOf(s)); w }
      Map(
        s"${name}_s" -> Main.median(secs),
        s"$name.jobs" -> Main.median(work.map(_.jobs.toDouble)),
        s"$name.task_s" -> Main.median(work.map(_.taskNs / 1e9)),
        s"$name.shuffle_write_mb" -> Main.median(work.map(_.shuffleWriteBytes / 1048576.0)),
        s"$name.output_mb" -> Main.median(work.map(_.outputBytes / 1048576.0)))
    }
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case o => apply(o.toString)
  }
}
