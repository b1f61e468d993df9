package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: `name` is `<layer>.<step>` (the layer is the program
  * package the call enters), `op` the work item or query it served.
  * Times are epoch nanoseconds. */
final case class Span(id: Int, parent: Int, name: String, op: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder for the driver thread. Disabled, `span` is a
  * plain call; spans are only written out when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  /** Open spans, innermost first: (id, start). */
  private var stack: List[(Int, Long)] = Nil
  private var nextId = 1
  private var op = ""

  def now: Long = System.nanoTime() + epochOffset

  def inOp[T](opId: String)(body: => T): T = {
    val prev = op
    op = opId
    try body finally op = prev
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      stack = (id, now) :: stack
      try body
      finally {
        val (_, start) = stack.head
        stack = stack.tail
        done += Span(id, parent, name, op, start, now)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Duration minus the part of it covered by direct children. */
  def selfSeconds(s: Span): Double = {
    val kids = done.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    for ((a, b) <- kids) {
      if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) covered += ce - cs
    (s.end - s.start - covered) / 1e9
  }

  def writeTo(path: java.nio.file.Path): Unit = {
    val lines = done.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":"${s.op}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_s":${selfSeconds(s)}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Engine counters of one Spark job, summed over its tasks. */
final class JobStats(val id: Int, val submitMs: Long) {
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var outputRows = 0L
}

/** Outside-in engine recorder: one `SparkListener` (jobs, stages, task
  * metrics) plus one `QueryExecutionListener` (planning phases from the
  * query's tracker), registered once per session. Everything it sees is
  * attributed afterwards, by submission time, to the innermost open span. */
final class EngineRecorder private () extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageToJob = mutable.HashMap.empty[Int, JobStats]
  /** (planning start ms, planning seconds) per finished query. */
  private val planning = mutable.ArrayBuffer.empty[(Long, Double)]
  @volatile private var lastJobEnd = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobStats(e.jobId, e.time)
    j.stages = e.stageIds.size
    e.stageIds.foreach(s => stageToJob(s) = j)
    jobs(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastJobEnd = math.max(lastJobEnd, e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageToJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.outputBytes += m.outputMetrics.bytesWritten
      j.outputRows += m.outputMetrics.recordsWritten
    }
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    if (ph.nonEmpty)
      planning += ((ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum / 1e3))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Block until every event posted before this call has been delivered:
    * run a sentinel job and wait for the listener to see it end. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("perfbench-drain", "listener drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val target = sc.statusTracker.getJobIdsForGroup("perfbench-drain").max
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (lastJobEnd < target && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def jobsSnapshot: Seq[JobStats] = synchronized(jobs.values.toSeq)
  def planningSnapshot: Seq[(Long, Double)] = synchronized(planning.toSeq)
}

object EngineRecorder {
  private val registered = new java.util.IdentityHashMap[AnyRef, EngineRecorder]()

  /** Idempotent: a session gets one recorder however often this is called. */
  def setup(spark: SparkSession): EngineRecorder = registered.synchronized {
    Option(registered.get(spark.sparkContext)).getOrElse {
      val r = new EngineRecorder
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
      registered.put(spark.sparkContext, r)
      r
    }
  }
}

/** `spark.*` totals of the jobs and planning that fall inside the given
  * spans (each job goes to the innermost span open at its submission). */
final case class EngineTotals(jobs: Long, stages: Long, tasks: Long, runS: Double, cpuS: Double,
                              planningS: Double, inputBytes: Long, shuffleWriteBytes: Long,
                              spillBytes: Long, outputBytes: Long, outputRows: Long) {
  def cpuRatio: Double = if (runS > 0) cpuS / runS else 0.0
}

object EngineTotals {
  private val msToNs = 1000000L

  /** Innermost span (latest start) containing epoch-millisecond `ms`. */
  def owner(spans: Seq[Span], ms: Long): Option[Span] = {
    val ns = ms * msToNs
    spans.filter(s => s.start - msToNs < ns && ns <= s.end).sortBy(-_.start).headOption
  }

  /** Totals over the jobs and planning whose owning span is in `within`
    * (or a descendant of one of them). */
  def of(rec: EngineRecorder, all: Seq[Span], within: Seq[Span]): EngineTotals = {
    val byId = all.map(s => s.id -> s).toMap
    val roots = within.map(_.id).toSet
    def under(s: Span): Boolean =
      roots(s.id) || (s.parent != 0 && byId.get(s.parent).exists(under))
    val js = rec.jobsSnapshot.filter(j => owner(all, j.submitMs).exists(under))
    val plan = rec.planningSnapshot.filter { case (ms, _) => owner(all, ms).exists(under) }
    EngineTotals(js.size, js.map(_.stages.toLong).sum, js.map(_.tasks).sum,
      js.map(_.runMs).sum / 1e3, js.map(_.cpuNs).sum / 1e9, plan.map(_._2).sum,
      js.map(_.inputBytes).sum, js.map(_.shuffleWriteBytes).sum, js.map(_.spillBytes).sum,
      js.map(_.outputBytes).sum, js.map(_.outputRows).sum)
  }
}

/** Whole-JVM counters read from outside the program. */
object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** VmHWM of this process in MiB (peak resident set). */
  def peakRssMiB: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
