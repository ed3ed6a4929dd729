package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with nanosecond resolution, on the same epoch as
  * the timestamps Spark puts on job and task events. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** The traced run's recorder. The benchmark opens one span around each
  * call it makes into a layer of the engine; the span id travels to Spark
  * as a local property, which threads started by `graft.core.Par` inherit,
  * so every job and stage is attributed to the span that caused it. A
  * `SparkListener` and a `QueryExecutionListener` record jobs, stages,
  * tasks and SQL executions. Everything stays in memory until the run
  * writes its result file. With tracing off, `span` only runs its body. */
final class Tracer(spark: SparkSession, runId: String) {
  import Tracer._

  @volatile private var on = false
  private val nextId = new AtomicLong
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  val spans = new ConcurrentLinkedQueue[Map[String, Any]]
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]
  val jobEnds = new ConcurrentLinkedQueue[Map[String, Any]]
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]
  val tasks = new ConcurrentLinkedQueue[Map[String, Any]]
  val sqls = new ConcurrentLinkedQueue[Map[String, Any]]

  def enabled: Boolean = on

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val id = nextId.incrementAndGet()
      val parents = stack.get
      val prev = sc.getLocalProperty(SpanKey)
      val codegen0 = codegenCount
      sc.setLocalProperty(SpanKey, id.toString)
      stack.set(id :: parents)
      val t0 = Clock.nowMs
      try body
      finally {
        val t1 = Clock.nowMs
        stack.set(parents)
        sc.setLocalProperty(SpanKey, prev)
        spans.add(Map("id" -> id, "parent" -> parents.headOption.getOrElse(0L),
          "layer" -> layer, "name" -> name, "run" -> runId,
          "start" -> t0, "end" -> t1, "codegen" -> (codegenCount - codegen0)))
      }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Map("id" -> e.jobId, "span" -> spanOf(e.properties),
        "sql" -> Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong).getOrElse(-1L),
        "start" -> e.time, "stages" -> e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.add(Map("id" -> e.jobId, "end" -> e.time))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stages.add(Map("id" -> e.stageInfo.stageId,
        "attempt" -> e.stageInfo.attemptNumber(),
        "span" -> spanOf(e.properties), "tasks" -> e.stageInfo.numTasks))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      def v(f: org.apache.spark.executor.TaskMetrics => Long): Long =
        m.map(f).getOrElse(0L)
      val gettingMs =
        if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      tasks.add(Map("stage" -> e.stageId, "launch" -> i.launchTime,
        "finish" -> i.finishTime, "ok" -> i.successful,
        "run_ms" -> v(_.executorRunTime),
        "cpu_ms" -> v(_.executorCpuTime) / 1e6,
        "gc_ms" -> v(_.jvmGCTime),
        "deser_ms" -> v(_.executorDeserializeTime),
        "result_ser_ms" -> v(_.resultSerializationTime),
        "getting_ms" -> gettingMs,
        "shuffle_write" -> v(_.shuffleWriteMetrics.bytesWritten),
        "shuffle_read" -> v(_.shuffleReadMetrics.totalBytesRead),
        "fetch_wait_ms" -> v(_.shuffleReadMetrics.fetchWaitTime),
        "spill_mem" -> v(_.memoryBytesSpilled),
        "spill_disk" -> v(_.diskBytesSpilled),
        "in_bytes" -> v(_.inputMetrics.bytesRead),
        "in_records" -> v(_.inputMetrics.recordsRead),
        "out_bytes" -> v(_.outputMetrics.bytesWritten)))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      record(func, qe, ns)
    override def onFailure(func: String, qe: QueryExecution,
        e: Exception): Unit = record(func, qe, 0L)
    private def record(func: String, qe: QueryExecution, ns: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Double =
        phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val files = planNodes(qe.executedPlan).collect {
        case s: FileSourceScanExec =>
          s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      sqls.add(Map("id" -> qe.id, "func" -> func,
        "start" -> (if (phases.isEmpty) 0L
          else phases.values.map(_.startTimeMs).min),
        "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"), "files_read" -> files,
        "dur_ms" -> ns / 1e6))
    }
  }

  /** Start recording: only the traced loop is recorded, so events still
    * queued from set-up are delivered before the listeners attach. */
  def start(): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    on = true
  }

  def stop(): Unit = {
    on = false
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  def dump: Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    val ends = jobEnds.asScala.map(m => m("id") -> m("end")).toMap
    Map("spans" -> spans.asScala.toSeq,
      "jobs" -> jobs.asScala.toSeq.map(j => j + ("end" -> ends.getOrElse(j("id"), 0L))),
      "stages" -> stages.asScala.toSeq, "tasks" -> tasks.asScala.toSeq,
      "sqls" -> sqls.asScala.toSeq)
  }
}

object Tracer {
  val SpanKey = "graft.perfbench.span"

  def codegenCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(SpanKey))).map(_.toLong)
      .getOrElse(0L)

  /** Every node of an executed plan, through adaptive query stages and
    * subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case other =>
      other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  private def rows(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").map(_.value)

  /** (rows into, rows out of) the top-most filter of an executed plan:
    * for `Dedup.minhashPairs` that is the exact-Jaccard verify over the
    * LSH candidate pairs. The input count is the output-row metric of the
    * nearest node below the filter that keeps one. */
  def filterYield(df: DataFrame): Option[(Long, Long)] =
    planNodes(df.queryExecution.executedPlan).collectFirst {
      case f: FilterExec => f
    }.flatMap { f =>
      def below(p: SparkPlan): Option[Long] = p.children.headOption.flatMap {
        case q: QueryStageExec => rows(q.plan).orElse(below(q.plan))
        case c => rows(c).orElse(below(c))
      }
      for (in <- below(f); out <- rows(f)) yield (in, out)
    }
}
