package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.perfbench.Bridge

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Span recorder the workloads wrap around every call into the
  * library. The untraced probe does nothing, so end-to-end runs pay
  * no tracing cost.
  */
trait Probe {
  def span[A](layer: String, name: String)(f: => A): A
  /** Add `value` to counter `key` of the innermost open span. */
  def note(key: String, value: Double): Unit
  def tracing: Boolean
}

object Untraced extends Probe {
  def span[A](layer: String, name: String)(f: => A): A = f
  def note(key: String, value: Double): Unit = ()
  val tracing = false
}

/** Records a span (name, layer, start, end, parent, run id) around each
  * call, and attributes Spark work to the innermost open span: the span
  * id is set as the job group, and a SparkListener folds job, stage and
  * task metrics into that group, plus planning time and plan statistics
  * of every SQL execution started under it. (A QueryExecutionListener
  * sees the same executions, but its QueryExecution.id is not the
  * execution id jobs carry, so its queries cannot be tied to a group;
  * the execution start/end events carry both.) Spans stay in memory
  * until [[finish]].
  */
final class Tracer(spark: SparkSession, runId: String) extends Probe {
  val tracing = true
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private var overheadNs = 0L

  final class Span(val id: Long, val parent: Long, val layer: String, val name: String) {
    var start = 0L
    var end = 0L
    val attrs = mutable.LinkedHashMap.empty[String, Double]
  }

  private final class Acc {
    var jobs, stages, tasks, shuffleWrite, shuffleRead, spill, gcMs, runMs, checkpointJobMs = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  private final case class PlanStats(planMs: Double, windows: Int, leafRows: Long,
      filesRead: Long, writtenRows: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobInfo = new ConcurrentHashMap[Int, (String, Long, Boolean)]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val plans = new ConcurrentHashMap[Long, PlanStats]()

  private def acc(g: String): Acc = accs.computeIfAbsent(g, _ => new Acc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
        val a = acc(g)
        a.synchronized { a.jobs += 1 }
        e.stageIds.foreach(stageGroup.put(_, g))
        // optimize() materializes through a checkpoint whose call
        // stack passes through ArchetypeStore.optimize
        val fromOptimize = e.stageInfos.exists(_.details.contains("ArchetypeStore.optimize"))
        jobInfo.put(e.jobId, (g, e.time, fromOptimize))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
      case end: SparkListenerSQLExecutionEnd =>
        Bridge.queryExecution(end).foreach(qe => plans.put(end.executionId, planStats(qe)))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobInfo.get(e.jobId)).foreach { case (g, start, fromOptimize) =>
        if (fromOptimize) { val a = acc(g); a.synchronized { a.checkpointJobMs += e.time - start } }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
        val a = acc(g); a.synchronized { a.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { g =>
        val a = acc(g)
        a.synchronized {
          a.tasks += 1
          a.taskMs += e.taskInfo.duration
          Option(e.taskMetrics).foreach { m =>
            a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            a.gcMs += m.jvmGCTime
            a.runMs += m.executorRunTime
          }
        }
      }
  }

  sc.addSparkListener(listener)

  def span[A](layer: String, name: String)(f: => A): A = {
    val b0 = System.nanoTime()
    val s = new Span(spans.size + 1L, open.headOption.map(_.id).getOrElse(0L), layer, name)
    spans += s
    open = s :: open
    sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
    s.start = System.nanoTime()
    overheadNs += s.start - b0
    try f
    finally {
      s.end = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      overheadNs += System.nanoTime() - s.end
    }
  }

  def note(key: String, value: Double): Unit = open.headOption.foreach { s =>
    s.attrs(key) = s.attrs.getOrElse(key, 0.0) + value
  }

  /** Milliseconds the calling thread spent in the probe's own bookkeeping. */
  def overheadMs: Double = overheadNs / 1e6

  /** Flush the listener bus, fold Spark counters into their spans and
    * return every span as a JSON-ready map.
    */
  def finish(): Seq[Map[String, Any]] = {
    Bridge.drainListeners(sc)
    sc.removeSparkListener(listener)
    val byId = spans.map(s => s.id.toString -> s).toMap
    plans.asScala.foreach { case (exec, p) =>
      Option(execGroup.get(exec)).flatMap(byId.get).foreach { s =>
        def add(k: String, v: Double) = s.attrs(k) = s.attrs.getOrElse(k, 0.0) + v
        add("queries", 1); add("plan_ms", p.planMs); add("window_nodes", p.windows)
        add("leaf_rows", p.leafRows.toDouble); add("files_read", p.filesRead.toDouble)
        add("written_rows", p.writtenRows.toDouble)
      }
    }
    spans.toSeq.map { s =>
      val a = Option(accs.get(s.id.toString))
      val counters = a.map(x => Map[String, Double](
        "jobs" -> x.jobs.toDouble, "stages" -> x.stages.toDouble, "tasks" -> x.tasks.toDouble,
        "shuffle_write_bytes" -> x.shuffleWrite.toDouble,
        "shuffle_read_bytes" -> x.shuffleRead.toDouble, "spill_bytes" -> x.spill.toDouble,
        "gc_ms" -> x.gcMs.toDouble, "task_run_ms" -> x.runMs.toDouble,
        "checkpoint_job_ms" -> x.checkpointJobMs.toDouble)).getOrElse(Map.empty)
      Map[String, Any](
        "id" -> s.id, "parent" -> s.parent, "run_id" -> runId, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6,
        "attrs" -> (s.attrs.toMap ++ counters),
        "task_ms" -> a.map(_.taskMs.toSeq).getOrElse(Seq.empty))
    }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)

  private def planStats(qe: QueryExecution): PlanStats = {
    val ns = nodes(qe.executedPlan)
    val ph = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs).sum.toDouble
    PlanStats(
      planMs = planMs,
      windows = ns.count(_.isInstanceOf[WindowExec]),
      leafRows = ns.filter(_.children.isEmpty).map(metric(_, "numOutputRows")).sum,
      filesRead = ns.collect { case f: FileSourceScanExec => metric(f, "numFiles") }.sum,
      writtenRows = ns.collect { case d: DataWritingCommandExec =>
        d.cmd.metrics.get("numOutputRows").map(_.value).getOrElse(0L) }.sum)
  }
}
