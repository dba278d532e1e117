package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Spans of one run share `trace`; `parent` is 0 for
  * the workload span at the root.
  */
final case class Span(
    id: Long,
    parent: Long,
    trace: String,
    name: String,
    kind: String,
    startMs: Long,
    endMs: Long,
    attrs: Map[String, Double])

/** In-memory span store with a stack of open spans. Spans are written once,
  * when the run ends.
  */
final class Tracer(val trace: String) {
  private val ids = new AtomicLong(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Long, String, String, Long)] = Nil
  @volatile var enabled = false
  /** The workload span every pass hangs under; written by the harness. */
  val rootId: Long = ids.incrementAndGet()

  def current: Long = stack.headOption.map(_._1).getOrElse(rootId)

  def span[T](name: String, kind: String)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val parent = current
    stack = (id, name, kind, System.currentTimeMillis()) :: stack
    try body
    finally {
      val (_, n, k, start) = stack.head
      stack = stack.tail
      synchronized {
        done += Span(id, parent, trace, n, k, start, System.currentTimeMillis(), Map.empty)
      }
    }
  }

  def add(s: Span): Unit = synchronized { done += s }
  def nextId(): Long = ids.incrementAndGet()
  def spans: Seq[Span] = synchronized(done.toList)
}

/** Counters of one measurement window (one pass), with per-job tallies
  * keyed by the graft job's name.
  */
final class Counters {
  val values = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = values(k) = values(k) + v
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val phaseIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val rddsSeen = mutable.HashSet.empty[Int]
  val sparkJobsByJob = mutable.HashMap.empty[String, Int].withDefaultValue(0)
  val ckptJobsByJob = mutable.HashMap.empty[String, Int].withDefaultValue(0)
  val cpuMsByJob = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
}

/** Spark-side layer probes: a SparkListener for jobs, stages, tasks and
  * blocks, and a QueryExecutionListener for Catalyst phase times and the
  * executed plan's scan metrics. Every event lands in `window` while
  * `tracer.enabled` is set; nothing is recorded otherwise.
  */
final class Layers(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  @volatile var window = new Counters
  private val jobStart = mutable.HashMap.empty[Int, (Long, Long, Int, String)]
  private val stageJob = mutable.HashMap.empty[Int, String]

  private def on: Boolean = tracer.enabled

  /** The harness tags each job's thread with its span and job name
    * (`Layers.SpanKey`, `Layers.JobKey`); jobs from pooled threads that
    * missed the tag fall back to the span open when the event arrives.
    */
  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
    val props = Option(e.properties).getOrElse(new java.util.Properties)
    val parent = Option(props.getProperty(Layers.SpanKey)).map(_.toLong).getOrElse(tracer.current)
    val job = props.getProperty(Layers.JobKey, "")
    // a result stage is named after the call site that submitted the job
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobStart(e.jobId) = (e.time, parent, e.stageInfos.size, site)
    e.stageIds.foreach(stageJob(_) = job)
    window.sparkJobsByJob(job) += 1
    if (site.startsWith("localCheckpoint") || site.startsWith("checkpoint"))
      window.ckptJobsByJob(job) += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) synchronized {
    jobStart.remove(e.jobId).foreach { case (start, parent, nStages, site) =>
      window.jobIntervals += ((start, e.time))
      window.add("sched.jobs", 1)
      tracer.add(Span(tracer.nextId(), parent, tracer.trace, s"spark-job-${e.jobId} $site",
        "spark_job", start, e.time, Map("stages" -> nStages.toDouble)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) synchronized {
    window.add("sched.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) synchronized {
    val w = window
    w.add("sched.tasks", 1)
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      w.add("exec.run_ms", m.executorRunTime.toDouble)
      w.add("exec.cpu_ms", m.executorCpuTime / 1e6)
      w.add("exec.gc_ms", m.jvmGCTime.toDouble)
      w.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      w.add("shuffle.read_bytes",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
      w.add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      w.add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
      // Spark UI's scheduler delay: task wall minus the parts the task ran
      val wall = info.finishTime - info.launchTime
      val delay = wall - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
      w.add("sched.task_delay_ms", math.max(0L, delay).toDouble)
      stageJob.get(e.stageId).foreach(j => w.cpuMsByJob(j) += m.executorCpuTime / 1e6)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (on) synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      val rdd = b.blockId.asRDDId.get.rddId
      if (window.rddsSeen.add(rdd)) window.add("ckpt.rdds_created", 1)
      window.add("ckpt.block_bytes", (b.memSize + b.diskSize).toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) synchronized {
      val w = window
      qe.tracker.phases.foreach { case (phase, s) =>
        val key = phase match {
          case "analysis" => "catalyst.analysis_ms"
          case "optimization" => "catalyst.optimizer_ms"
          case "planning" => "catalyst.planning_ms"
          case other => s"catalyst.${other}_ms"
        }
        w.add(key, s.durationMs.toDouble)
        w.phaseIntervals += ((s.startTimeMs, s.endTimeMs))
      }
      nodes(qe.executedPlan).foreach { p =>
        val name = p.nodeName
        def metric(k: String): Double = p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
        // data-source scans only: checkpointed and local relations are not sources
        if (p.children.isEmpty && (name.startsWith("Scan") || name.startsWith("BatchScan")) &&
            !name.contains("ExistingRDD") && !name.contains("OneRowRelation")) {
          w.add("sources.rows_read", metric("numOutputRows"))
          w.add("sources.files_read", metric("numFiles"))
        }
        if (name.startsWith("Execute InsertIntoHadoopFsRelationCommand"))
          w.add("sinks.file_rows_written", metric("numOutputRows"))
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Every node of the final physical plan, looking through AQE wrappers and
    * query stages; reused exchanges are skipped so no scan counts twice.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

object Layers {
  val SpanKey = "perfbench.span"
  val JobKey = "perfbench.job"
}
