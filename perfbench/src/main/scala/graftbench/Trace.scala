package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the span tree. Times are epoch milliseconds,
  * the clock Spark's listener events carry. */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
                      start: Double, end: Double) {
  def ms: Double = end - start
}

/** Records op and layer-call spans from the benchmark's own calls.
  * Disabled, every method runs its body and records nothing, so the
  * untraced run pays no more than a branch per call. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  /** op id -> JVM-wide GC milliseconds spent during the op. */
  val gcMs = mutable.Map.empty[Long, Double]
  /** op id -> RDD blocks still cached when the op returned. */
  val residue = mutable.Map.empty[Long, Long]
  private var nextId = 1L
  private var stack: List[Span] = Nil

  private def gcTotal: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def record[T](layer: String, name: String, op: Long)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_.id).getOrElse(0L)
    val open = Span(id, parent, op, layer, name, nowMs, Double.NaN)
    stack = open :: stack
    try {
      val r = body
      spans += open.copy(end = nowMs)
      r
    } finally stack = stack.tail
  }

  /** One benchmark operation; its id is also the Spark job group, so
    * every job the op fires carries it. */
  def op[T](id: Long, name: String)(body: => T): T =
    if (!enabled) body
    else {
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      val gc0 = gcTotal
      try record("op", name, id)(body)
      finally {
        gcMs(id) = (gcTotal - gc0).toDouble
        sc.clearJobGroup()
      }
    }

  /** One call into a layer of the program. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else record(layer, name, stack.headOption.map(_.op).getOrElse(0L))(body)

  def noteResidue(op: Long): Unit =
    if (enabled) residue(op) = sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
}

/** The Spark side of the trace: jobs, stages, tasks and planning
  * phases, from Spark's public listener events. */
final class SparkCollector extends SparkListener with QueryExecutionListener {
  import SparkCollector._

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.Map.empty[Int, Stage]
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val plans = mutable.ArrayBuffer.empty[Plan]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs += Job(e.jobId, group, e.time.toDouble, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    for (a <- si.submissionTime; b <- si.completionTime; if m != null)
      stages(si.stageId) = Stage(si.stageId, a.toDouble, b.toDouble, si.numTasks,
        m.executorRunTime, m.executorCpuTime / 1e6, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.recordsWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null)
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskMetrics.executorRunTime
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans += Plan(phases.map(_.startTimeMs).min.toDouble,
        phases.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)
}

object SparkCollector {
  final case class Job(id: Int, group: Option[String], start: Double, stages: Seq[Int]) {
    var end: Double = Double.NaN
  }
  final case class Stage(id: Int, start: Double, end: Double, tasks: Int,
                         runMs: Long, cpuMs: Double, scanBytes: Long,
                         shuffleWriteBytes: Long, shuffleReadBytes: Long,
                         shuffleRecords: Long, spillBytes: Long)
  /** One executed query's planning time: when its first phase began,
    * and the summed duration of its phases. */
  final case class Plan(start: Double, ms: Double)
}
