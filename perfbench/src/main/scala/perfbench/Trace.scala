package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of an op's trace; times are epoch milliseconds. */
final case class Span(name: String, t0: Double, t1: Double,
    counts: Map[String, Double] = Map.empty) {
  def json(op: Int): String = Json(Map("op" -> op, "name" -> name, "t0" -> t0,
    "t1" -> t1, "counts" -> counts))
}

/** Counters summed over a set of tasks. */
final class TaskSums {
  val c: mutable.Map[String, Double] = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v
  def ++=(o: TaskSums): Unit = o.c.foreach { case (k, v) => add(k, v) }
}

/** Records job, stage and task events (SparkListener) and the executed
  * plans of every action (QueryExecutionListener) on the listener-bus
  * thread; the single client thread drains them once per op, after
  * waiting for the bus to empty, so everything drained belongs to the op
  * that just finished.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobStarts = new ConcurrentLinkedQueue[(Int, Long)]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val stages = new ConcurrentLinkedQueue[(StageInfo, Int)]()
  private val tasks = new ConcurrentLinkedQueue[(Int, TaskSums)]()
  private val plans = new ConcurrentLinkedQueue[Map[String, Double]]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.add((e.jobId, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobEnds.add((e.jobId, e.time)) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add((e.stageInfo, stageJob.getOrDefault(e.stageInfo.stageId, -1)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = new TaskSums
    val info = e.taskInfo
    s.add("tasks", 1)
    if (info.attemptNumber > 0 || info.speculative || e.reason != org.apache.spark.Success)
      s.add("task_retries", 1)
    val m = e.taskMetrics
    if (m != null) {
      s.add("run_ms", m.executorRunTime)
      s.add("cpu_ms", m.executorCpuTime / 1e6)
      s.add("gc_ms", m.jvmGCTime)
      s.add("delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime))
      s.add("result_bytes", m.resultSize)
      s.add("scan_bytes", m.inputMetrics.bytesRead)
      s.add("scan_records", m.inputMetrics.recordsRead)
      s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      s.add("shuffle_write_ms", m.shuffleWriteMetrics.writeTime / 1e6)
      s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      s.add("shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      s.add("spill_mem_bytes", m.memoryBytesSpilled)
      s.add("spill_disk_bytes", m.diskBytesSpilled)
    }
    tasks.add((e.stageId, s))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plans.add(Tracer.planCounts(qe.executedPlan))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private val bus: AnyRef = {
    val sc = spark.sparkContext
    sc.getClass.getMethod("listenerBus").invoke(sc)
  }
  private val waitEmpty = bus.getClass.getMethod("waitUntilEmpty", classOf[Long])

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Waits for the listener bus, then returns the job/stage spans and the
    * summed task and plan counters of everything since the last drain.
    */
  def drain(): (Seq[Span], Map[String, Double]) = {
    waitEmpty.invoke(bus, java.lang.Long.valueOf(60000L))
    def poll[T](q: ConcurrentLinkedQueue[T]): Seq[T] =
      Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
    val starts = poll(jobStarts).toMap
    val ends = poll(jobEnds).toMap
    val byStage = poll(tasks).groupBy(_._1).map { case (s, ts) =>
      val sum = new TaskSums; ts.foreach(t => sum ++= t._2); s -> sum }
    val total = new TaskSums
    byStage.values.foreach(total ++= _)
    val stageSpans = poll(stages).flatMap { case (si, job) =>
      for (a <- si.submissionTime; b <- si.completionTime) yield {
        val sums = byStage.get(si.stageId).map(_.c.toMap).getOrElse(Map.empty)
        (job, Span("stage", a.toDouble, b.toDouble, sums))
      }
    }
    val jobSpans = starts.toSeq.sortBy(_._1).map { case (id, a) =>
      val mine = stageSpans.filter(_._1 == id)
      Span("job", a.toDouble, ends.getOrElse(id, a).toDouble,
        Map("stages" -> mine.size.toDouble,
          "tasks" -> mine.map(_._2.counts.getOrElse("tasks", 0.0)).sum))
    }
    val planSums = mutable.Map.empty[String, Double]
    poll(plans).foreach(_.foreach { case (k, v) => planSums(k) = planSums.getOrElse(k, 0.0) + v })
    val counts = total.c.toMap ++ planSums ++ Map(
      "jobs" -> starts.size.toDouble, "stages" -> stageSpans.size.toDouble)
    (jobSpans ++ stageSpans.map(_._2), counts)
  }
}

object Tracer {
  /** Every physical node of an executed plan, through adaptive stages and
    * subqueries; reused exchanges are counted once, where they ran.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case o => o +: (o.children.flatMap(nodes) ++ o.subqueries.flatMap(nodes))
  }

  private def metric(p: SparkPlan, k: String): Double =
    p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

  private def isShingleSelfJoin(p: SparkPlan): Boolean = {
    def onShingle(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      keys.exists(_.references.exists(_.name == "shingle"))
    p match {
      case j: SortMergeJoinExec => j.joinType == Inner && onShingle(j.leftKeys) && onShingle(j.rightKeys)
      case j: ShuffledHashJoinExec => j.joinType == Inner && onShingle(j.leftKeys) && onShingle(j.rightKeys)
      case j: BroadcastHashJoinExec => j.joinType == Inner && onShingle(j.leftKeys) && onShingle(j.rightKeys)
      case _ => false
    }
  }

  /** Counters read from the SQL metrics of an executed plan. */
  def planCounts(plan: SparkPlan): Map[String, Double] = {
    val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    nodes(plan).foreach { n =>
      if (n.metrics.contains("numFiles")) c("scan_files") += metric(n, "numFiles")
      if (n.nodeName == "Generate") c("generate_rows") += metric(n, "numOutputRows")
      if (isShingleSelfJoin(n)) c("shingle_join_rows") += metric(n, "numOutputRows")
      for ((k, name) <- Seq("graft_planned_files" -> "sources_files_planned",
          "graft_pruned_files" -> "sources_files_pruned",
          "graft_rows_served" -> "sources_rows_served",
          "graft_bloom_probe_skips" -> "sources_bloom_skips"))
        if (n.metrics.contains(k)) c(name) += metric(n, k)
    }
    c.toMap
  }

  /** This JVM's GC and JIT compilation milliseconds so far (local mode:
    * driver and executors share it).
    */
  def jvmMs(): (Long, Long) = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    (gc, jit)
  }
}
