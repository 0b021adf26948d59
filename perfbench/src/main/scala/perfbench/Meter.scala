package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The task-level counters of one finished task. */
final case class TaskRec(
    stageId: Int,
    durationMs: Long,
    cpuNs: Long,
    gcMs: Long,
    spillBytes: Long,
    shuffleWriteBytes: Long,
    shuffleWriteRecords: Long,
    shuffleWriteNs: Long,
    fetchWaitMs: Long,
    inputBytes: Long,
)

/** How one executed query counted its histogram, read from its physical
  * plan: the custom Catalyst nodes the library plans for each route, and
  * the reduce partition count of its exchange when the plan names one.
  */
final case class PlanRoute(route: String, nodes: Seq[String], reducePartitions: Option[Int])

object PlanRoute {
  private val nodeNames = Seq(
    "DenseHistogramAgg" -> "densehistogramagg",
    "CountByKeyExec" -> "countbykey",
    "PackedCountExchangeExec" -> "packedcountexchange",
    "HashAggregateExec" -> "hashaggregate",
  )
  // CountByKey prints its merge partition count last; other exchanges
  // print theirs inside hashpartitioning(...)
  private val kernelParts = """(?m)countbykey (?:true|false),.*, (\d+)\s*$""".r
  private val hashParts = """hashpartitioning\([^)]*\),\s*(\d+)""".r

  /** Classify a physical plan string. `kernel` wins over `dense` and
    * `classic` because a kernel plan also holds hash aggregates of its own
    * bookkeeping; `classic` is a hash aggregate keyed by bin indices.
    */
  def of(plan: String): PlanRoute = {
    val p = plan.toLowerCase(java.util.Locale.ROOT)
    val nodes = nodeNames.collect { case (name, key) if p.contains(key) => name }
    val route =
      if (p.contains("packedcountexchange") || p.contains("countbykey")) "kernel"
      else if (p.contains("densehistogramagg")) "dense"
      else if (p.contains("hashaggregate(keys=[_flat") ||
        p.contains("hashaggregate(keys=[bin_")) "classic"
      else "none"
    val parts = kernelParts.findFirstMatchIn(p).map(_.group(1).toInt)
      .orElse(hashParts.findFirstMatchIn(p).map(_.group(1).toInt))
      .orElse(if (p.contains("exchange singlepartition")) Some(1) else None)
    PlanRoute(route, nodes, parts)
  }
}

/** Everything the listeners saw between two marks. */
final case class Window(tasks: Seq[TaskRec], reduceTasks: Int, jobs: Int,
    routes: Seq[PlanRoute]) {
  private def sum(f: TaskRec => Long): Long = tasks.iterator.map(f).sum
  def cpuS: Double = sum(_.cpuNs) / 1e9
  def gcS: Double = sum(_.gcMs) / 1e3
  def spillBytes: Long = sum(_.spillBytes)
  def shuffleBytes: Long = sum(_.shuffleWriteBytes)
  def shuffleRecords: Long = sum(_.shuffleWriteRecords)
  def shuffleWriteS: Double = sum(_.shuffleWriteNs) / 1e9
  def fetchWaitS: Double = sum(_.fetchWaitMs) / 1e3
  def inputBytes: Long = sum(_.inputBytes)

  /** Max ÷ median task time in the stage that took the most task time. */
  def taskSkew: Double = {
    val stages = tasks.groupBy(_.stageId).values.filter(_.size >= 2)
    if (stages.isEmpty) 1.0
    else {
      val heavy = stages.maxBy(_.iterator.map(_.durationMs).sum)
      val med = Stats.median(heavy.map(_.durationMs.toDouble))
      heavy.map(_.durationMs).max / math.max(med, 1.0)
    }
  }

  /** The histogram route of this window, or `none` when no histogram ran. */
  def route: PlanRoute = routes.find(_.route != "none")
    .getOrElse(PlanRoute("none", Nil, None))
}

/** Listener-side counters: task metrics, reduce-stage task counts, job
  * count, and the route of every executed query. Events arrive on Spark's
  * listener bus, so [[drain]] must run before a window is read.
  */
final class Meter(spark: SparkSession) extends SparkListener {
  private val tasks = ArrayBuffer.empty[TaskRec]
  private var reduceTasks = 0L
  private var jobs = 0L
  private val routes = ArrayBuffer.empty[PlanRoute]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val r = PlanRoute.of(qe.executedPlan.toString)
      Meter.this.synchronized { routes += r }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += TaskRec(
        e.stageId,
        e.taskInfo.duration,
        m.executorCpuTime,
        m.jvmGCTime,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten,
        m.shuffleWriteMetrics.writeTime,
        m.shuffleReadMetrics.fetchWaitTime,
        m.inputMetrics.bytesRead,
      )
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    // a stage with parent stages reads their shuffle output
    if (e.stageInfo.parentIds.nonEmpty) reduceTasks += e.stageInfo.numTasks
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def mark(): Mark = { drain(); synchronized(Mark(tasks.length, reduceTasks, jobs, routes.length)) }

  def since(m: Mark): Window = {
    drain()
    synchronized {
      Window(tasks.slice(m.tasks, tasks.length).toSeq,
        (reduceTasks - m.reduceTasks).toInt, (jobs - m.jobs).toInt,
        routes.slice(m.routes, routes.length).toSeq)
    }
  }
}

/** Positions in the [[Meter]]'s counters; a window starts at one. */
final case class Mark(tasks: Int, reduceTasks: Long, jobs: Long, routes: Int)

object Heap {
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetPeak(): Unit = pools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since [[resetPeak]], in MB. */
  def peakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1e6

  def maxMb: Double = Runtime.getRuntime.maxMemory / 1e6
}
