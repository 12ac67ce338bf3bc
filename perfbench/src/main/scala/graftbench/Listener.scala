package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spark-side counters per job group, gathered in-process by a
  * `SparkListener` and a `QueryExecutionListener` the benchmark registers.
  * Every job, stage, task, SQL metric and planning phase is attributed to
  * the job group that was set on the thread which ran the action; the
  * benchmark gives each request, batch and query its own group.
  *
  * Fields per group (sums): jobs, stages, tasks, task_run_ms, task_cpu_ms,
  * gc_ms, sched_wait_ms (task launch minus stage submission),
  * sched_overhead_ms (stage wall minus its longest task), shuffle_read_b,
  * shuffle_write_b, spill_b, scan_files, scan_rows, files_written,
  * planning_ms (analysis + optimization + planning phases),
  * plan_ms (optimization + planning phases only: the ones an action runs
  * lazily, whereas analysis runs when the DataFrame is built).
  */
final class Listener extends SparkListener with QueryExecutionListener {
  private val sums = mutable.Map.empty[String, mutable.Map[String, Double]]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageLongestTask = mutable.Map.empty[Int, Long]
  private val execGroup = mutable.Map.empty[Long, String]
  private val accumKey = mutable.Map.empty[Long, (String, String)]

  @volatile private var lastEvent = System.nanoTime()

  private def add(group: String, key: String, v: Double): Unit = synchronized {
    lastEvent = System.nanoTime()
    val m = sums.getOrElseUpdate(group, mutable.Map.empty[String, Double].withDefaultValue(0.0))
    m(key) += v
  }

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    synchronized { e.stageIds.foreach(s => stageGroup(s) = g) }
    add(g, "jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val g = synchronized(stageGroup.getOrElse(info.stageId, ""))
    add(g, "stages", 1)
    for (sub <- info.submissionTime; end <- info.completionTime) {
      val longest = synchronized(stageLongestTask.remove(info.stageId).getOrElse(0L))
      add(g, "sched_overhead_ms", math.max(0L, end - sub - longest).toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = synchronized(stageGroup.getOrElse(e.stageId, ""))
    add(g, "tasks", 1)
    val info = e.taskInfo
    synchronized {
      stageLongestTask(e.stageId) = math.max(stageLongestTask.getOrElse(e.stageId, 0L),
        info.duration)
    }
    Option(e.taskMetrics).foreach { m =>
      add(g, "task_run_ms", m.executorRunTime.toDouble)
      add(g, "task_cpu_ms", m.executorCpuTime / 1e6)
      add(g, "gc_ms", m.jvmGCTime.toDouble)
      add(g, "shuffle_read_b", (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead).toDouble)
      add(g, "shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(g, "spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
    submitted(e.stageId).foreach(sub => add(g, "sched_wait_ms", math.max(0L, info.launchTime - sub).toDouble))
    info.accumulables.foreach(a => a.update.foreach(u => accum(a.id, u)))
  }

  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private def submitted(stage: Int): Option[Long] = synchronized(stageSubmitted.get(stage))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmitted(e.stageInfo.stageId) = t)
  }

  private def accum(id: Long, update: Any): Unit = {
    val target = synchronized(accumKey.get(id))
    for ((g, key) <- target) update match {
      case n: java.lang.Long => add(g, key, n.toDouble)
      case n: java.lang.Integer => add(g, key, n.toDouble)
      case _ => ()
    }
  }

  /** Register the SQL metrics this listener sums: scan files and rows, and
    * files written, found by name in the (possibly re-planned) plan. */
  private def registerPlan(execId: Long, plan: SparkPlanInfo): Unit = {
    val g = synchronized(execGroup.getOrElse(execId, ""))
    def walk(p: SparkPlanInfo): Unit = {
      val scan = p.nodeName.startsWith("Scan")
      p.metrics.foreach { m =>
        val key = m.name match {
          case "number of files read" if scan => Some("scan_files")
          case "number of output rows" if scan => Some("scan_rows")
          case "number of written files" => Some("files_written")
          case _ => None
        }
        key.foreach(k => synchronized { accumKey(m.accumulatorId) = (g, k) })
      }
      p.children.foreach(walk)
    }
    walk(plan)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execGroup(s.executionId) = s.jobGroupId.getOrElse("") }
      registerPlan(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      registerPlan(u.executionId, u.sparkPlanInfo)
    case end: SparkListenerSQLExecutionEnd =>
      // the event carries its QueryExecution in a field Spark keeps
      // package-private; it is the object the QueryExecutionListener gets
      val qe = scala.util.Try(end.getClass.getMethod("qe").invoke(end)).toOption.orNull
      if (qe != null) meet(qe, Left(synchronized(execGroup.getOrElse(end.executionId, ""))))
    case d: SparkListenerDriverAccumUpdates =>
      d.accumUpdates.foreach { case (id, v) => accum(id, java.lang.Long.valueOf(v)) }
    case _ => ()
  }

  /** Planning time reaches the QueryExecutionListener and the execution's
    * group reaches the SparkListener, on two listener queues in either
    * order; whichever arrives second attributes the time to the group. */
  private val pending = new java.util.IdentityHashMap[AnyRef, Either[String, Map[String, Double]]]()

  private def meet(qe: AnyRef, half: Either[String, Map[String, Double]]): Unit = {
    val other = synchronized(Option(pending.remove(qe)).orElse { pending.put(qe, half); None })
    (half, other) match {
      case (Left(g), Some(Right(ms))) => ms.foreach { case (k, v) => add(g, k, v) }
      case (Right(ms), Some(Left(g))) => ms.foreach { case (k, v) => add(g, k, v) }
      case _ => ()
    }
  }

  private def planning(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
    meet(qe, Right(Map("planning_ms" -> phases.values.sum,
      "plan_ms" -> (phases.getOrElse(QueryPlanningTracker.OPTIMIZATION, 0.0) +
        phases.getOrElse(QueryPlanningTracker.PLANNING, 0.0)))))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planning(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planning(qe)

  /** Wait until no event has arrived for `quietMs` (at most 10 s), so the
    * asynchronous listener bus has delivered the run's last events. */
  def quiesce(quietMs: Long = 500): Unit = {
    val limit = System.nanoTime() + 10000L * 1000000L
    while (System.nanoTime() - lastEvent < quietMs * 1000000L && System.nanoTime() < limit)
      Thread.sleep(50)
  }

  /** Snapshot of the per-group sums. */
  def snapshot(): Map[String, Map[String, Double]] = synchronized {
    sums.map { case (g, m) => g -> m.toMap }.toMap
  }
}
