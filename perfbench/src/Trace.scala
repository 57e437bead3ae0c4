package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One node of the span tree the traced run records: pass → call → job.
  * Times are epoch milliseconds (the clock Spark's listener events use). */
final case class Span(id: String, parent: String, name: String,
    start: Long, end: Long)

/** A Spark job started under a benchmark job group; `site` is the call
  * site of its result stage, e.g. "count at Graph.scala:260", which
  * repeats once per loop round. */
final case class Job(id: Int, group: String, start: Long, var end: Long,
    site: String)

/** Counters of the tasks that ran under one job group (one call). */
final class TaskAgg {
  var tasks = 0L
  var failed = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Attributes Spark jobs and tasks to the benchmark call that caused them.
  * Every call runs under `setJobGroup(<pass>/<call>)`; job start events
  * carry that group, and each task is mapped to its job's group through
  * its stage id. All callbacks run on the listener-bus thread. */
final class JobTracer extends SparkListener {
  val jobs = mutable.ArrayBuffer[Job]()
  private val byId = mutable.HashMap[Int, Job]()
  private val stageGroup = mutable.HashMap[Int, String]()
  val byGroup = mutable.HashMap[String, TaskAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    if (group != null) {
      val site =
        if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val j = Job(e.jobId, group, e.time, e.time, site)
      jobs += j
      byId(e.jobId) = j
      e.stageIds.foreach(s => stageGroup(s) = group)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    byId.get(e.jobId).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageGroup.get(e.stageId).foreach { g =>
      val a = byGroup.getOrElseUpdate(g, new TaskAgg)
      a.tasks += 1
      if (!e.taskInfo.successful) a.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
}

/** Sums the analysis, optimization and planning phases of every finished
  * query, keyed by the phase start so they can be assigned to a pass. */
final class PlanTimer extends QueryExecutionListener {
  val phases = mutable.ArrayBuffer[(Long, Long)]() // (startMs, durationMs)
  private val planning = Set("analysis", "optimization", "planning")

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      if (planning(name)) phases += ((p.startTimeMs, p.durationMs))
    }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}

/** The listeners of one traced pass, registered on the benchmark's own
  * session just before the pass and removed after the bus has delivered
  * every event of it. */
final class PassTrace(spark: SparkSession) {
  val jobs = new JobTracer
  val plans = new PlanTimer

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }

  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
  }
}
