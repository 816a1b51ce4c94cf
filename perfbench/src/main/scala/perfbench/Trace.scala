package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one span through its job group. */
final class Work {
  var jobs = 0L
  var taskNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
  var planningNs = 0L
  def +=(o: Work): Unit = {
    jobs += o.jobs; taskNs += o.taskNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; outputBytes += o.outputBytes
    spillBytes += o.spillBytes; planningNs += o.planningNs
  }
}

final case class Span(id: Long, name: String, op: Long, parent: Long,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run. Each span runs under its
  * own Spark job group, and a listener the benchmark registers itself
  * charges jobs, task time, GC, shuffle, output and spill to that group.
  * Planning time (analysis + optimizer + physical planning, from
  * `QueryExecution.tracker`) is summed over all queries. Spans nest per
  * thread. While disabled (always, in the untraced run) no listener is
  * registered and `span` just calls its body.
  */
class Tracer(val spark: SparkSession) {
  // SparkContext.SPARK_JOB_GROUP_ID is private[spark]; this is its value
  private val JobGroupKey = "spark.jobGroup.id"
  private val sc: SparkContext = spark.sparkContext
  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val work = new ConcurrentHashMap[String, Work]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  val total = new Work

  private def workFor(g: String): Work =
    work.computeIfAbsent(g, _ => new Work)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty(JobGroupKey))
        .flatMap(Option(_)).getOrElse("")
      e.stageIds.foreach(s => stageGroup.put(s, g))
      val w = workFor(g)
      w.synchronized(w.jobs += 1)
      total.synchronized(total.jobs += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val g = stageGroup.getOrDefault(e.stageId, "")
        for (w <- Seq(workFor(g), total)) w.synchronized {
          w.taskNs += m.executorRunTime * 1000000L
          w.gcMs += m.jvmGCTime
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.outputBytes += m.outputMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      val ph = qe.tracker.phases
      val ns = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum
      total.synchronized(total.planningNs += ns)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  @volatile private var on = false
  def enabled: Boolean = on

  def enable(): Unit = if (!on) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  def disable(): Unit = if (on) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  /** Wait until every posted listener event has been handled. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Run `body` as span `name` of op `op`. */
  def span[T](name: String, op: Long)(body: => T): T = if (!on) body else {
    val id = nextId.getAndIncrement()
    val outer = stack.get()
    val group = s"$name#$id"
    val prevGroup = sc.getLocalProperty(JobGroupKey)
    sc.setJobGroup(group, name, interruptOnCancel = false)
    stack.set(id :: outer)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(outer)
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setLocalProperty(JobGroupKey, prevGroup)
      spans.add(Span(id, name, op, outer.headOption.getOrElse(0L), t0, t1))
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Work charged to `span` (jobs started under its group). */
  def workOf(s: Span): Work = Option(work.get(s"${s.name}#${s.id}")).getOrElse(new Work)

  def snapshot(): Work = { drain(); val w = new Work; total.synchronized(w += total); w }

}

/** Per-op accounting shared by both modes: latency and kind of each op. */
final class OpLog {
  val latencies = mutable.ArrayBuffer.empty[Double]
  val kinds = mutable.ArrayBuffer.empty[String]
  def record(kind: String, secs: Double): Unit = synchronized {
    latencies += secs; kinds += kind
  }
}
