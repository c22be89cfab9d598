package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval on the epoch-millisecond clock the Spark listeners
  * use. */
final case class Span(kind: String, name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

object Span {
  /** Total length covered by `spans` inside [lo, hi]. */
  def covered(spans: Seq[Span], lo: Double, hi: Double): Double = {
    val clipped = spans.map(s => (math.max(s.start, lo), math.min(s.end, hi)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (curA, curB) = (Double.NaN, Double.NaN)
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Everything the traced run learns about one query, from Spark's public
  * listener interfaces only. Listener callbacks arrive on the listener bus
  * thread; the harness flushes the bus before it reads a ledger. */
object Tracer {
  /** The engine's own optimizer and planner rules, by simple class name. */
  val GraftRules: Set[String] = Set("RankLimitRewrite", "CrossJoinGuard",
    "GlobalWindowGuard", "MvRewrite", "ConstraintRules", "EagerAggregation",
    "AutoFilePrune")

  @volatile var enabled = false
  private val jobStarts = new ConcurrentHashMap[Int, Double]
  private val jobs = new ConcurrentLinkedQueue[Span]
  private val phases = new ConcurrentLinkedQueue[Span]
  private val counters = new ConcurrentHashMap[String, java.lang.Double]

  def add(key: String, v: Double): Unit =
    if (enabled && v != 0.0) counters.merge(key, v, (a, b) => a + b)

  /** Clear the per-query state. */
  def reset(): Unit = {
    jobStarts.clear(); jobs.clear(); phases.clear(); counters.clear()
    RuleExecutor.resetMetrics()
  }

  def snapshot(): (Map[String, Double], Seq[Span], Seq[Span]) = {
    val c = counters.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
    val rule = RuleExecutor.getCurrentMetrics()
    (c + ("plans.catalyst_rule_s" -> rule.time / 1e9),
      jobs.asScala.toSeq, phases.asScala.toSeq)
  }

  class Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      jobStarts.put(e.jobId, e.time.toDouble)
      add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
      Option(jobStarts.remove(e.jobId)).foreach(t0 =>
        jobs.add(Span("job", s"job ${e.jobId}", t0, e.time.toDouble)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (enabled) add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (enabled && m != null) {
        val info = e.taskInfo
        add("spark.tasks", 1)
        add("spark.task_run_s", m.executorRunTime / 1e3)
        add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        add("spark.gc_s", m.jvmGCTime / 1e3)
        add("spark.shuffle_read_mb",
          m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("spark.shuffle_write_mb",
          m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("spark.spill_mb", m.memoryBytesSpilled / 1048576.0)
        // Spark's own definition (the UI's "Scheduler Delay")
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
          else 0L
        add("spark.sched_delay_s", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult) / 1e3)
      }
    }
  }

  /** Registered through `spark.sql.queryExecutionListeners`, so it also
    * sees the executions of sessions the queries derive with
    * `newSession()`. */
  class Executions extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)

    private def record(qe: QueryExecution): Unit = if (enabled) {
      add("plans.query_executions", 1)
      qe.tracker.phases.foreach { case (phase, p) =>
        if (phase != "parsing") {
          phases.add(Span("phase", phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
          add(s"plans.${phase}_s", p.durationMs / 1e3)
        }
      }
      qe.tracker.rules.foreach { case (rule, s) =>
        if (GraftRules(rule.split('.').last.stripSuffix("$"))) {
          add("plans.graft_rule_s", s.totalTimeNs / 1e9)
          add("plans.graft_rule_runs", s.numInvocations.toDouble)
          add("plans.graft_rule_effective_runs", s.numEffectiveInvocations.toDouble)
        }
      }
      nodes(qe.executedPlan).foreach(node)
    }
  }

  /** Every physical operator of a plan: adaptive plans by their final
    * plan, subqueries included, each reused exchange counted once. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def node(p: SparkPlan): Unit = {
    val m = p.metrics
    def v(k: String): Double = m.get(k).map(_.value.toDouble).getOrElse(0.0)
    def secs(k: String): Double = m.get(k).map { x =>
      if (x.metricType == "nsTiming") x.value / 1e9 else x.value / 1e3
    }.getOrElse(0.0)
    if (m.contains("numOutputBytes")) {
      add("sources.bytes_written_mb", v("numOutputBytes") / 1048576.0)
      add("sources.files_written", v("numFiles"))
    } else if (m.contains("filesSize") || p.nodeName.contains("Scan")) {
      add("sources.files_read", v("numFiles"))
      add("sources.scan_mb", v("filesSize") / 1048576.0)
      add("sources.metadata_s", secs("metadataTime"))
      add("sources.rows_read", v("numOutputRows"))
    }
    add("operators.codegen_s", secs("pipelineTime"))
    add("operators.agg_build_s", secs("aggTime"))
    add("operators.sort_s", secs("sortTime"))
    if (p.nodeName.contains("BroadcastExchange"))
      add("operators.broadcast_build_s", secs("buildTime") + secs("broadcastTime"))
  }

  /** Registered through `spark.sql.streaming.streamingQueryListeners`,
    * so every session's streams report here. */
  class Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      add("streaming.batches", 1)
      add("streaming.trigger_s", d.getOrElse("triggerExecution", 0L) / 1e3)
      add("streaming.wal_s",
        (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)) / 1e3)
      p.stateOperators.foreach { s =>
        add("streaming.state_rows", s.numRowsTotal.toDouble)
        add("streaming.state_commit_s", s.commitTimeMs / 1e3)
      }
    }
  }

  /** Static confs that install the session-scoped listeners; they must be
    * in place before the first session is built. */
  def sessionListenerConfs: Seq[(String, String)] = Seq(
    "spark.sql.queryExecutionListeners" -> classOf[Executions].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[Streams].getName)
}
