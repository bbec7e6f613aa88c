package perfbench

import java.io.PrintWriter

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SortExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer attribution from outside the program, for the traced run.
  *
  * Registers a SparkListener (jobs, stages, tasks, SQL executions) and a
  * QueryExecutionListener (Catalyst phase times and per-operator SQL
  * metrics of each executed plan), and reads Spark's codegen counters
  * around each operation. Events are attributed to the operation that
  * caused them: the harness sets a job group per operation, and it drains
  * the listener bus after each operation before starting the next, so
  * events without a job group belong to the operation still open.
  *
  * Spans (pass → operation → job → stage) are kept in memory and written
  * once, when the pass has ended. */
final class Tracer(spark: SparkSession) {
  import Tracer.Span
  private val sc = spark.sparkContext

  /** Summed counters of one operation, keyed by layer metric name. */
  private val perOp = mutable.Map.empty[Int, mutable.Map[String, Double]]
  @volatile private var current = -1
  private val opByName = mutable.Map.empty[String, Int]
  private val jobOp = mutable.Map.empty[Int, Int]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSite = mutable.Map.empty[Int, String]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var codegen0 = (0L, 0L)

  private def add(op: Int, key: String, v: Double): Unit = synchronized {
    if (op >= 0) {
      val m = perOp.getOrElseUpdate(op, mutable.Map.empty)
      m(key) = m.getOrElse(key, 0.0) + v
    }
  }
  private def opOfJob(job: Int): Int = synchronized(jobOp.getOrElse(job, current))
  private def opOfStage(stage: Int): Int =
    synchronized(stageJob.get(stage).map(opOfJob).getOrElse(current))

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      // a job's call site is the name of its result stage
      val site = if (e.stageInfos.isEmpty) ""
        else e.stageInfos.maxBy(_.stageId).name
      val op = Tracer.this.synchronized {
        val op = group.flatMap(opByName.get).getOrElse(current)
        jobOp(e.jobId) = op
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
        jobStart(e.jobId) = e.time
        jobSite(e.jobId) = site
        op
      }
      add(op, "scheduler.jobs", 1)
      Tracer.jobKind(site).foreach(k => add(op, k, 1))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val op = opOfJob(e.jobId)
      Tracer.this.synchronized {
        spans += Span(s"job-${e.jobId}", s"op-$op", "job",
          jobSite.getOrElse(e.jobId, ""),
          jobStart.getOrElse(e.jobId, e.time).toDouble, e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val op = opOfStage(info.stageId)
      add(op, "scheduler.stages", 1)
      val job = Tracer.this.synchronized(stageJob.get(info.stageId))
      for (s <- info.submissionTime; c <- info.completionTime)
        Tracer.this.synchronized {
          spans += Span(s"stage-${info.stageId}.${info.attemptNumber()}",
            job.map(j => s"job-$j").getOrElse(s"op-$op"), "stage",
            info.name, s.toDouble, c.toDouble)
        }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = opOfStage(e.stageId)
      add(op, "scheduler.tasks", 1)
      if (e.reason != org.apache.spark.Success)
        add(op, "scheduler.tasks_failed", 1)
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        add(op, "executor.run_ms", m.executorRunTime.toDouble)
        add(op, "executor.gc_ms", m.jvmGCTime.toDouble)
        add(op, "executor.spill_mb",
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        add(op, "executor.input_mb", m.inputMetrics.bytesRead / 1048576.0)
        add(op, "executor.shuffle_write_mb",
          m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add(op, "executor.shuffle_read_mb",
          m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add(op, "executor.output_mb", m.outputMetrics.bytesWritten / 1048576.0)
        // the Spark UI's scheduler delay, less the rare getting-result term
        if (info != null)
          add(op, "scheduler.sched_delay_ms", math.max(0L,
            info.duration - m.executorRunTime - m.executorDeserializeTime -
              m.resultSerializationTime).toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart =>
        add(current, "driver.sql_executions", 1)
      case _ => ()
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = record(qe)
  })

  private def record(qe: org.apache.spark.sql.execution.QueryExecution)
      : Unit = {
    val op = current
    val phases = qe.tracker.phases
    def phase(name: String, key: String): Unit =
      phases.get(name).foreach(p => add(op, key, p.durationMs.toDouble))
    phase("analysis", "driver.analysis_ms")
    phase("optimization", "driver.optimizer_ms")
    phase("planning", "driver.planning_ms")
    Tracer.operatorMetrics(qe.executedPlan).foreach { case (k, v) =>
      add(op, k, v) }
  }

  /** The analysis of the frame an operation built. The listener sees
    * only executed plans; analysis of the frame `q.run` returns ran when
    * it was built, inside `catalog.build_ms`. */
  def recordAnalysis(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.tracker.phases.get("analysis")
      .foreach(p => add(current, "driver.analysis_ms", p.durationMs.toDouble))

  def beginOp(idx: Int, name: String): Unit = {
    synchronized { opByName(name) = idx; current = idx }
    codegen0 = (CodeGenerator.compileTime,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  /** Closes an operation: reads the codegen counters and waits until the
    * listener bus has delivered every event the operation posted. */
  def endOp(idx: Int, startMs: Double, endMs: Double): Unit = {
    add(idx, "driver.codegen_ms",
      (CodeGenerator.compileTime - codegen0._1) / 1e6)
    add(idx, "driver.codegen_compiles",
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0._2).toDouble)
    Tracer.drain(spark)
    synchronized {
      spans += Span(s"op-$idx", "pass", "operation", "", startMs, endMs)
    }
  }

  /** Per-operation counters, keyed by operation index. */
  def counters: Map[Int, Map[String, Double]] =
    synchronized(perOp.map { case (k, v) => k -> v.toMap }.toMap)

  /** Writes the spans, one JSON object per line, with operation names
    * filled in and the pass span at the root. */
  def writeSpans(path: String, passStartMs: Double, passEndMs: Double,
      workload: String, opNames: Seq[String]): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try {
      def line(s: Span): Unit = w.println(Json.obj(Seq(
        "id" -> Json.str(s.id),
        "parent" -> (if (s.parent == null) "null" else Json.str(s.parent)),
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs))))
      line(Span("pass", null, "pass", workload, passStartMs, passEndMs))
      synchronized(spans.toList).foreach { s =>
        val named = if (s.kind == "operation")
          s.copy(name = opNames(s.id.stripPrefix("op-").toInt)) else s
        line(named)
      }
    } finally w.close()
  }
}

object Tracer {
  private final case class Span(id: String, parent: String, kind: String,
      name: String, startMs: Double, endMs: Double)

  /** Jobs of the loop layer, classified by call site: a lineage cut
    * (`localCheckpoint`/`checkpoint`) or a driver-side probe (an action
    * whose result the driver reads to decide the next round). */
  def jobKind(callSite: String): Option[String] = {
    val verb = callSite.takeWhile(_ != ' ')
    if (verb.toLowerCase.contains("checkpoint")) Some("graph.checkpoint_jobs")
    else if (Set("count", "collect", "first", "head", "take", "isEmpty",
        "reduce", "treeAggregate", "collectAsList", "toLocalIterator")
        .contains(verb) && !callSite.contains("Main.scala"))
      Some("graph.probe_jobs")
    else None
  }

  /** SQL metrics of an executed plan, summed by node kind. Descends into
    * adaptive plans and their query stages; a reused exchange is counted
    * where it first ran. */
  def operatorMetrics(plan: SparkPlan): Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def ms(m: SQLMetric): Double =
      if (m.metricType == "nsTiming") m.value / 1e6 else m.value.toDouble
    def visit(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case s: QueryStageExec => visit(s.plan)
      case _: ReusedExchangeExec => ()
      case _ =>
        p match {
          case _: ShuffleExchangeLike =>
            p.metrics.get("dataSize").foreach(m => acc("exec.exchange.bytes") += m.value)
          case _: BroadcastExchangeLike =>
            p.metrics.get("dataSize").foreach(m => acc("exec.exchange.bytes") += m.value)
            p.metrics.get("buildTime").foreach(m => acc("exec.join.build_ms") += ms(m))
          case _: BaseAggregateExec =>
            p.metrics.get("aggTime").foreach(m => acc("exec.aggregate.ms") += ms(m))
          case _: ShuffledHashJoinExec =>
            p.metrics.get("buildTime").foreach(m => acc("exec.join.build_ms") += ms(m))
          case _: SortExec =>
            p.metrics.get("sortTime").foreach(m => acc("exec.sort.ms") += ms(m))
          case _: LeafExecNode =>
            p.metrics.get("numOutputRows").foreach(m => acc("exec.scan.rows") += m.value)
          case _ => ()
        }
        (p.children ++ p.subqueries).foreach(visit)
    }
    visit(plan)
    acc.toMap
  }

  /** Waits until the listener bus has delivered every posted event
    * (`listenerBus` is not public API, hence reflection). */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
  }
}
