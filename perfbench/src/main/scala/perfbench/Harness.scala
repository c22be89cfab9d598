package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftshim.TaskTimeListener
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side: one closed-loop client that runs a given
  * query sequence against one local session and, when it ends, writes
  * one JSON record per line. `run.py` makes the sequence from the seed
  * and turns the records into metrics.
  *
  * Usage: `perfbench.Harness <plan file>`, where the plan file holds
  * `key=value` lines: `sf`, `trace` (0|1), `cores`, `work` (the
  * directory whose `target/` the engine writes derived data to),
  * `out`, `warm` (comma-separated queries run untimed in set-up) and one
  * `round` line per round of the sequence. */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  val WarmPasses = 2

  final case class Plan(
      sf: String, trace: Boolean, cores: Int, work: File,
      out: File, warm: Seq[String], rounds: Seq[Seq[String]])

  object Plan {
    def read(path: String): Plan = {
      val lines = Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
        .filter(_.contains('=')).map { l =>
          val i = l.indexOf('='); l.take(i).trim -> l.drop(i + 1).trim
        }
      def one(k: String): String = lines.collectFirst { case (`k`, v) => v }
        .getOrElse(sys.error(s"plan file has no '$k'"))
      def list(v: String): Seq[String] = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      Plan(one("sf"), one("trace") == "1",
        one("cores").toInt, new File(one("work")), new File(one("out")),
        list(one("warm")), lines.collect { case ("round", v) => list(v) })
    }
  }

  /** The outcome of one query: wall time split at the end of `fn` (the
    * build) and the start of the timed action, plus the digest or error
    * and the executor time of its tasks. */
  final case class Outcome(
      startMs: Double, buildMs: Double, endMs: Double,
      digest: Option[Digest], error: Option[String], task: TaskTime) {
    def wallS: Double = (endMs - startMs) / 1e3
  }

  /** Executor time summed over tasks, in seconds: run time (the counter
    * `graft.Bench` reports) and CPU time. */
  final case class TaskTime(runS: Double, cpuS: Double)

  /** Sums executor run and CPU time over every finished task. */
  final class TaskTimer extends SparkListener {
    private val runMs = new AtomicLong(0L)
    private val cpuNs = new AtomicLong(0L)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) { runMs.addAndGet(m.executorRunTime); cpuNs.addAndGet(m.executorCpuTime) }
    }
    def now: TaskTime = TaskTime(runMs.get / 1e3, cpuNs.get / 1e9)
  }

  // Epoch milliseconds with nanosecond resolution, on the clock Spark's
  // listener events use.
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Run one query: build its frame, execute it once into a digest, and
    * keep going whatever it throws. */
  def runQuery(spark: SparkSession, sf: String, name: String, fn: Query,
      taskTimer: Option[TaskTimer]): Outcome = {
    val m0 = taskTimer.map(_.now)
    val t0 = nowMs()
    var tb = t0
    var digest: Option[Digest] = None
    var error: Option[String] = None
    try {
      val df = fn(spark, sf)
      tb = nowMs()
      digest = Some(Digest.of(df, name))
    } catch {
      case NonFatal(e) =>
        if (tb == t0) tb = nowMs()
        error = Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
    } finally spark.catalog.clearCache()
    val t1 = nowMs()
    // the listener bus is asynchronous: drain it so that every task of
    // this query is counted before the counters are read
    val task = taskTimer.map { t =>
      TaskTimeListener.flush(spark.sparkContext)
      val (a, b) = (m0.get, t.now)
      TaskTime(b.runS - a.runS, b.cpuS - a.cpuS)
    }.getOrElse(TaskTime(0, 0))
    Outcome(t0, tb, t1, digest, error, task)
  }

  def main(args: Array[String]): Unit = {
    val plan = Plan.read(args(0))
    if (plan.trace) Tracer.sessionListenerConfs.foreach { case (k, v) =>
      System.setProperty(k, v) }
    val queries: Map[String, Query] = graft.SparkEntry.queries
    val unknown = (plan.warm ++ plan.rounds.flatten).filterNot(queries.contains).distinct
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    // records (spans included) stay in memory and are written at the end
    val records = Vector.newBuilder[ListMap[String, Any]]
    def emit(fields: Seq[(String, Any)]): Unit = records += ListMap(fields: _*)

    val spark = graft.GraftSession.create(plan.cores)
    spark.sparkContext.setLogLevel("ERROR")
    val taskTimer = new TaskTimer
    spark.sparkContext.addSparkListener(taskTimer)
    if (plan.trace) spark.sparkContext.addSparkListener(new Tracer.Jobs)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    val sessionReadyMs = nowMs()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // Clear the engine's derived data (MVs, partitioned and bucketed
    // copies, indexes, scratch tables) and rebuild it by running every
    // query of the pool, which also starts every lazily started subsystem
    // the queries use. The second pass lets the JIT compile what the
    // first one made hot: after one pass, a query's next executions still
    // ran up to twice as slow as its later ones.
    org.apache.commons.io.FileUtils.deleteQuietly(new File(plan.work, "target"))
    for (pass <- 1 to WarmPasses; q <- plan.warm) {
      val o = runQuery(spark, plan.sf, q, queries(q), None)
      emit(Seq("type" -> "warm", "pass" -> pass, "query" -> q, "wall_s" -> o.wallS,
        "digest" -> o.digest.map(_.toString), "error" -> o.error))
    }
    val readyMs = nowMs()
    emit(Seq("type" -> "setup", "setup_s" -> (readyMs - jvmStartMs) / 1e3,
      "session_s" -> (sessionReadyMs - jvmStartMs) / 1e3,
      "warm_s" -> (readyMs - sessionReadyMs) / 1e3))

    val r = window(spark, plan, queries, taskTimer, emit)

    graft.Scratch.sweep()
    // Retained heap: the least heap in use over three full collections,
    // each after a pause that lets Spark's context cleaner drop what the
    // previous one made unreachable.
    val heapMb = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    emit(Seq("type" -> "end", "rounds" -> r,
      "retained_heap_mb" -> heapMb,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "cores" -> plan.cores))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    val out = new PrintWriter(plan.out, UTF_8)
    try records.result().foreach(r => out.println(json.writeValueAsString(r)))
    finally out.close()
    spark.stop()
  }

  /** The timed window: every round of the sequence, closed loop. A query
    * that throws is recorded and the loop goes on. Returns the number of
    * rounds run. */
  def window(spark: SparkSession, plan: Plan, queries: Map[String, Query],
      taskTimer: TaskTimer, emit: Seq[(String, Any)] => Unit): Int = {
    plan.rounds.zipWithIndex.foreach { case (round, r) =>
      val r0 = nowMs()
      round.zipWithIndex.foreach { case (q, i) =>
        val (o, extra) =
          if (plan.trace) traced(spark, plan.sf, q, queries(q), taskTimer, s"$r.$i")
          else (runQuery(spark, plan.sf, q, queries(q), Some(taskTimer)), Nil)
        emit(Seq[(String, Any)]("type" -> "query", "round" -> r, "index" -> i,
          "query" -> q, "wall_s" -> o.wallS, "build_s" -> (o.buildMs - o.startMs) / 1e3,
          "task_run_s" -> o.task.runS, "task_cpu_s" -> o.task.cpuS,
          "digest" -> o.digest.map(_.toString),
          "error" -> o.error) ++ extra)
      }
      emit(Seq("type" -> "round", "round" -> r, "wall_s" -> (nowMs() - r0) / 1e3))
    }
    plan.rounds.size
  }

  /** A traced query: the untraced measurement plus the ledger and the
    * spans of everything it started. */
  def traced(spark: SparkSession, sf: String, name: String, fn: Query,
      taskTimer: TaskTimer, id: String): (Outcome, Seq[(String, Any)]) = {
    TaskTimeListener.flush(spark.sparkContext)
    Tracer.reset()
    val (hit0, miss0) = graft.plans.AutoFilePrune.skipCacheCounters
    Tracer.enabled = true
    val o = runQuery(spark, sf, name, fn, Some(taskTimer))
    Tracer.enabled = false
    val (hit1, miss1) = graft.plans.AutoFilePrune.skipCacheCounters
    val (counters, jobs, phases) = Tracer.snapshot()

    val query = Span("query", name, o.startMs, o.endMs)
    val build = Span("build", "build", o.startMs, o.buildMs)
    val action = Span("action", "action", o.buildMs, o.endMs)
    def inside(s: Span, w: Span) = s.start >= w.start && s.start < w.end
    def within(s: Span, w: Span) = s.start >= w.start && s.end <= w.end && w.dur > s.dur
    // a job or phase belongs to the innermost phase that contains it,
    // else to build or action
    def parentOf(s: Span): Span = phases.filter(p => within(s, p))
      .sortBy(_.dur).headOption.getOrElse(if (inside(s, build)) build else action)
    val children = (phases ++ jobs).groupBy(parentOf)
    def label(s: Span) = if (s.kind == "phase") s"phase.${s.name}" else s.kind
    def self(s: Span): Double = s.dur - Span.covered(
      children.getOrElse(s, Nil), s.start, s.end)
    val selfBy = (Seq(build, action) ++ phases ++ jobs).map(s => s -> self(s))
      .groupMapReduce { case (s, _) => label(s) } { case (_, v) => v / 1e3 }(_ + _)
    val spans = (Seq(query, build, action) ++ phases ++ jobs).map { s =>
      val parent = if (s == query) None else if (s == build || s == action) Some("query")
        else Some(label(parentOf(s)))
      ListMap("id" -> id, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "parent" -> parent)
    }
    val ledger = counters ++ Map(
      "queries.build_s" -> build.dur / 1e3,
      "queries.build_jobs" -> jobs.count(inside(_, build)).toDouble,
      "plans.planning_jobs" -> jobs.count(j => phases.exists(inside(j, _))).toDouble,
      "plans.skip_cache_hits" -> (hit1 - hit0).toDouble,
      "plans.skip_cache_lookups" -> ((hit1 - hit0) + (miss1 - miss0)).toDouble,
      "spark.job_wall_s" -> Span.covered(jobs, query.start, query.end) / 1e3,
      "driver.residual_s" -> (query.dur - Span.covered(jobs ++ phases,
        query.start, query.end)) / 1e3,
      "sources.rows_out" -> o.digest.map(_.rows.toDouble).getOrElse(0.0))
    (o, Seq("ledger" -> ledger, "self_s" -> selfBy, "spans" -> spans))
  }
}
