package perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Named counters and time sums, shared by every wrapper of a traced
  * run. Thread-safe: growth fetches run inside Spark tasks, and in local
  * mode those are threads of this JVM. */
final class Spans {
  private val sums = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()
  def add(name: String, v: Double): Unit =
    sums.computeIfAbsent(name, _ => new DoubleAdder).add(v)
  def get(name: String): Double = Option(sums.get(name)).map(_.sum).getOrElse(0.0)
  def reset(): Unit = sums.clear()
  /** Time `f` and add its seconds under `name`. */
  def time[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally add(name, (System.nanoTime() - t0) / 1e9)
  }
}

/** Spark-side counters from a `SparkListener` (jobs, tasks, executor
  * CPU, shuffle, spill, the intervals in which any job runs) and a
  * `QueryExecutionListener` (analysis + optimization + planning time of
  * each action, from its tracker). */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  val planningS = new DoubleAdder
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** (start, end) epoch ms of every finished job, from the events' own
    * timestamps (the bus delivers events late; their times are exact). */
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStarts.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach(t => jobIntervals.add(t -> e.time))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planningS.add(planning(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planningS.add(planning(qe))
  private def planning(qe: QueryExecution): Double =
    qe.tracker.phases.collect {
      case (phase, s) if Set("analysis", "optimization", "planning")(phase) =>
        (s.endTimeMs - s.startTimeMs) / 1e3
    }.sum
}

/** A traced run's instruments. Attach once per session; each metric is
  * the change over the traced ops (a baseline is taken at `start`). */
final class Tracer(spark: SparkSession) {
  val spans = new Spans
  val counters = new SparkCounters
  spark.sparkContext.addSparkListener(counters)
  spark.listenerManager.register(counters)
  private var base: Map[String, Double] = Map.empty
  /** (start, end) epoch ms of every traced op. */
  private val opWindows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  private def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  private def snapshot(): Map[String, Double] = Map(
    "spark.jobs" -> counters.jobs.get.toDouble,
    "spark.tasks" -> counters.tasks.get.toDouble,
    "spark.executor_cpu_s" -> counters.cpuNs.get / 1e9,
    "spark.shuffle_write_mb" -> counters.shuffleWrite.get / 1e6,
    "spark.shuffle_read_mb" -> counters.shuffleRead.get / 1e6,
    "spark.spill_mb" -> counters.spill.get / 1e6,
    "spark.planning_s" -> counters.planningS.sum,
    "jvm.gc_s" -> gcSeconds)

  def start(): Unit = { spans.reset(); opWindows.clear(); base = snapshot() }

  /** Run one traced op; its window counts toward `spark.outside_jobs_s`. */
  def op[T](f: => T): T = {
    val t0 = System.currentTimeMillis()
    try f finally opWindows += (t0 -> System.currentTimeMillis())
  }

  /** Op time during which no Spark job ran: each op window less the
    * union of the job intervals that overlap it. */
  private def outsideJobsSeconds(): Double = {
    val jobs = counters.jobIntervals.asScala.toSeq.sortBy(_._1)
    opWindows.map { case (a, b) =>
      var covered = 0L
      var reach = a
      jobs.foreach { case (s, e) =>
        val lo = math.max(s, reach)
        val hi = math.min(e, b)
        if (hi > lo) { covered += hi - lo; reach = hi }
      }
      (b - a - covered) / 1e3
    }.sum
  }

  /** Spark and JVM metrics accumulated since `start`. */
  def sparkMetrics(): Map[String, Double] = {
    // listener events arrive asynchronously; give the bus time to drain
    Thread.sleep(500)
    val now = snapshot()
    now.map { case (k, v) => k -> (v - base.getOrElse(k, 0.0)) } +
      ("spark.outside_jobs_s" -> outsideJobsSeconds())
  }
}

object Trace {
  def unit(metric: String): String =
    if (metric.endsWith("_s")) "s" else if (metric.endsWith("_mb")) "MB" else "count"
}
