package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Micro-batch progress of one streaming query: the per-batch offset
  * ranges and commit times the latency math needs (installed in every
  * run), and the per-phase durations the traced run reports. */
final class StreamListener(tr: Tracer) extends StreamingQueryListener {
  private val byQuery = new java.util.concurrent.ConcurrentHashMap[
    java.util.UUID, ConcurrentLinkedQueue[BatchCommit]]

  /** Add per-phase durations to the tracer (the measured window only). */
  @volatile var counting = false

  def of(id: java.util.UUID): Seq[BatchCommit] =
    Option(byQuery.get(id)).map(_.asScala.toSeq).getOrElse(Seq.empty)
  private val phases = Seq("latestOffset", "getBatch", "queryPlanning",
    "walCommit", "addBatch", "commitOffsets")

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.sources.isEmpty || p.sources(0).endOffset == null) return
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val startMs = Instant.parse(p.timestamp).toEpochMilli.toDouble
    // the data commit returns at the end of addBatch; only the offset
    // commit-log write follows it inside the trigger
    val commitMs = startMs + d.getOrElse("triggerExecution", 0L) -
      d.getOrElse("commitOffsets", 0L)
    val start = Option(p.sources(0).startOffset).map(parse)
      .getOrElse(Seq.empty)
    val end = parse(p.sources(0).endOffset)
    byQuery.computeIfAbsent(p.id, _ => new ConcurrentLinkedQueue[BatchCommit]).add(BatchCommit(p.batchId,
      if (start.isEmpty) end.map(_ => 0L) else start, end, commitMs,
      p.numInputRows, d.getOrElse("triggerExecution", 0L).toDouble))
    if (p.numInputRows > 0 && counting) {
      tr.add("stream.batches", 1)
      phases.foreach(k => tr.add(s"stream.$k", d.getOrElse(k, 0L).toDouble))
      tr.record("stream.batch", startMs, startMs + d.getOrElse("triggerExecution", 0L),
        key = p.batchId.toString)
    }
  }

  private def parse(json: String): Seq[Long] =
    json.trim.stripPrefix("\"").stripSuffix("\"").split(",").toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.toLong)
}

/** Spark scheduler counters for the traced run: jobs, stages, tasks,
  * task time, CPU, GC, shuffle, input and spill, and the time from a
  * job's submission to its first task launch. Job spans are keyed by the
  * `perfbench.key` local property (the query name). */
final class EngineListener(tr: Tracer) extends SparkListener {
  val taskIv = new ConcurrentLinkedQueue[(Long, Long)]
  private val jobSubmit = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  private val firstTaskSeen = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  val events = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val key = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.key")))
      .getOrElse("")
    jobSubmit.put(e.jobId, (e.time, key))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    tr.add("spark.jobs", 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobSubmit.remove(e.jobId)).foreach { case (t0, key) =>
      tr.record("spark.job", t0.toDouble, e.time.toDouble, key = key)
    }
    ()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    events.incrementAndGet()
    tr.add("spark.stages", 1)
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    events.incrementAndGet()
    Option(stageJob.get(e.stageId)).foreach { job =>
      if (firstTaskSeen.add(job))
        Option(jobSubmit.get(job)).foreach { case (t0, _) =>
          tr.add("spark.submit_to_first_task_ms", (e.taskInfo.launchTime - t0).toDouble)
          tr.add("spark.first_tasks", 1)
        }
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    tr.add("spark.tasks", 1)
    if (e.taskInfo != null) {
      taskIv.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
      tr.add("spark.task_busy_s", (e.taskInfo.finishTime - e.taskInfo.launchTime) / 1e3)
    }
    val m = e.taskMetrics
    if (m != null) {
      tr.add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      tr.add("spark.gc_s", m.jvmGCTime / 1e3)
      tr.add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      tr.add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      tr.add("spark.input_mb", m.inputMetrics.bytesRead / 1e6)
      tr.add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
    }
  }

  /** The `spark.*` per-layer metrics over the window [fromMs, toMs);
    * the scheduling gap is the wall time no task was running. */
  def report(m: scala.collection.mutable.Map[String, Double], fromMs: Long, toMs: Long): Unit = {
    Seq("jobs", "stages", "tasks", "task_busy_s", "task_cpu_s", "gc_s",
      "shuffle_write_mb", "shuffle_read_mb", "input_mb", "spill_mb")
      .foreach(k => m(s"spark.$k") = tr.get(s"spark.$k"))
    val iv = taskIv.asScala.toSeq.collect {
      case (a, b) if b > fromMs && a < toMs => (math.max(a, fromMs), math.min(b, toMs))
    }
    m("spark.sched_gap_s") = ((toMs - fromMs) - Stats.unionLength(iv)) / 1e3
    m("spark.submit_to_first_task_ms") =
      tr.get("spark.submit_to_first_task_ms") / math.max(1.0, tr.get("spark.first_tasks"))
  }
}

/** Planning phases, exchanges and broadcast builds of every action. */
final class PlanListener(tr: Tracer) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { k =>
      tr.add(s"plan.${k}_s", ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0))
    }
    val nodes = PlanListener.nodes(qe.executedPlan)
    tr.add("plan.exchanges", nodes.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }.toDouble)
    nodes.foreach {
      case b: BroadcastExchangeExec =>
        b.metrics.get("buildTime").foreach(m => tr.add("plan.broadcast_build_s", m.value / 1e3))
      case _ =>
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object PlanListener {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** (generated classes, approximate compile seconds) so far. The compile
    * time is the histogram's mean times its count — approximate, since
    * the histogram keeps a decaying sample. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount,
      h.getSnapshot.getMean * h.getCount / 1e3)
  }
}
