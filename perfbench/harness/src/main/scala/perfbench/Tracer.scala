package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer ledger of a traced run.
  *
  * A span charges one harness call to a layer: it sets the Spark job group
  * `<layer>/<name>` around the call, so every job the call starts — on the
  * calling thread or on a thread it spawns, which inherits the group —
  * carries the layer. Jobs without a group land in `unattributed`.
  *
  * Per group it sums task metrics (tasks, tasks that read no input and no
  * shuffle records, input, shuffle, spill, output, cpu, gc, and run time of
  * tasks that scanned input). Per query execution it records the analysis +
  * optimizer + planning time and the number of graft native expressions in
  * the executed plan; per job, its start and end time, so the driver gap
  * (span time with no job running) can be computed afterwards. */
final class Tracer {
  import Tracer._

  private val spans = ArrayBuffer.empty[(String, String, Long, Long)]
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val groups = new ConcurrentHashMap[String, Agg]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[Plan]()
  private var spark: SparkSession = _

  def span[T](layer: String, name: String)(body: => T): T = {
    val sc = Option(spark).map(_.sparkContext)
    val prev = sc.map(_.getLocalProperty("spark.jobGroup.id")).orNull
    sc.foreach(_.setJobGroup(s"$layer/$name", name))
    val start = System.currentTimeMillis()
    try body
    finally {
      spans.synchronized { spans += ((layer, name, start, System.currentTimeMillis())) }
      sc.foreach(c => if (prev == null) c.clearJobGroup() else c.setJobGroup(prev, prev))
    }
  }

  def install(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(listener)
    s.listenerManager.register(planListener)
  }

  /** Waits until every posted listener event has been delivered. */
  def flush(s: SparkSession): Unit = org.apache.spark.perfbench.Bus.drain(s.sparkContext)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      val group = Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
        .getOrElse("unattributed/-")
      jobs.put(e.jobId, Job(e.jobId, group, e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val job = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
      val a = groups.computeIfAbsent(job.map(_.group).getOrElse("unattributed/-"), _ => new Agg)
      val in = m.inputMetrics.recordsRead
      val sr = m.shuffleReadMetrics.recordsRead
      a.synchronized {
        a.tasks += 1
        if (in == 0 && sr == 0) a.emptyTasks += 1
        a.inputBytes += m.inputMetrics.bytesRead
        a.recordsRead += in
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.runMs += m.executorRunTime
        a.outputBytes += m.outputMetrics.bytesWritten
        if (in > 0) a.scanRunMs += m.executorRunTime
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.filter { case (k, _) =>
        k == "analysis" || k == "optimization" || k == "planning" }.values
      if (phases.nonEmpty)
        plans.add(Plan(phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum,
          nativeNodes(qe.executedPlan)))
    }
  }

  /** graft.functions expressions in a physical plan, through AQE stages
    * and subqueries. */
  private def nativeNodes(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => nativeNodes(a.executedPlan)
    case q: QueryStageExec => nativeNodes(q.plan)
    case n =>
      n.expressions.map(_.collect {
        case e if e.getClass.getName.startsWith("graft.functions.") => e
      }.size).sum + n.children.map(nativeNodes).sum + n.subqueries.map(nativeNodes).sum
  }

  def json: String = {
    val spanJs = spans.synchronized(spans.toList).map { case (l, n, s, e) =>
      Json.obj(Seq("layer" -> Json.str(l), "name" -> Json.str(n),
        "start_ms" -> s.toString, "end_ms" -> e.toString))
    }
    val jobJs = jobs.values.asScala.toSeq.sortBy(_.id).map(j => Json.obj(Seq(
      "id" -> j.id.toString, "group" -> Json.str(j.group),
      "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString)))
    val groupJs = groups.asScala.toSeq.sortBy(_._1).map { case (g, a) => g -> Json.obj(Seq(
      "tasks" -> a.tasks, "empty_tasks" -> a.emptyTasks, "input_bytes" -> a.inputBytes,
      "records_read" -> a.recordsRead, "shuffle_read_bytes" -> a.shuffleReadBytes,
      "shuffle_write_bytes" -> a.shuffleWriteBytes, "spill_bytes" -> a.spillBytes,
      "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs, "run_ms" -> a.runMs,
      "scan_run_ms" -> a.scanRunMs, "output_bytes" -> a.outputBytes).map { case (k, v) => k -> v.toString }) }
    val planJs = plans.asScala.toSeq.map(p => Json.obj(Seq(
      "start_ms" -> p.startMs.toString,
      "plan_ms" -> p.planMs.toString, "native_nodes" -> p.nativeNodes.toString)))
    Json.obj(Seq("spans" -> Json.arr(spanJs), "jobs" -> Json.arr(jobJs),
      "groups" -> Json.obj(groupJs), "plans" -> Json.arr(planJs)))
  }
}

object Tracer {
  private final class Agg {
    var tasks, emptyTasks, inputBytes, recordsRead, shuffleReadBytes, shuffleWriteBytes,
      spillBytes, cpuNs, gcMs, runMs, scanRunMs, outputBytes = 0L
  }
  private final case class Job(id: Int, group: String, startMs: Long, var endMs: Long = -1L)
  private final case class Plan(startMs: Long, planMs: Long, nativeNodes: Int)
}
