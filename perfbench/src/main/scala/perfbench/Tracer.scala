package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's hooks, all attached from outside the program: a
  * SparkListener (jobs, stages, tasks), a QueryExecutionListener
  * (Catalyst phases and the final plan's SQL metrics) and a log4j filter
  * that counts CacheManager's "already cached" warnings. Every record is
  * a span in [[Spans]]; the per-layer metrics are computed from them. */
final class Tracer(spark: SparkSession, spans: Spans) {
  import Tracer._

  /** Query (or stream batch) id → its span id, so job spans get a parent. */
  val parents = new ConcurrentHashMap[String, java.lang.Long]()
  val dupPersists = new AtomicLong()

  // Listener state: the bus calls one listener from one thread, in order.
  private val jobQid = mutable.HashMap.empty[Int, (String, Long, Long)] // job → (qid, span id, start µs)
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTasks = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[TaskRec]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val qid = (prop(QidKey), prop("streaming.sql.batchId")) match {
        case (Some(q), Some(b)) => s"$q#$b"
        case (Some(q), None) => q
        case _ => ""
      }
      jobQid(e.jobId) = (qid, spans.nextId(), e.time * 1000L)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobQid.remove(e.jobId).foreach { case (qid, id, t0) =>
        val parent = Option(parents.get(qid)).map(_.longValue).getOrElse(-1L)
        spans.add(id, parent, "job", qid, t0, e.time * 1000L,
          Map("ok" -> (e.jobResult == JobSucceeded)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val sr = m.shuffleReadMetrics
        val rec = TaskRec(e.taskInfo.duration, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
          m.shuffleWriteMetrics.bytesWritten, sr.totalBytesRead,
          sr.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled)
        stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer.empty[TaskRec]) += rec
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val ts = stageTasks.remove((si.stageId, si.attemptNumber()))
        .map(_.toSeq).getOrElse(Nil)
      val (qid, parent) = stageJob.remove(si.stageId).flatMap(jobQid.get)
        .map { case (q, id, _) => (q, id) }.getOrElse(("", -1L))
      val durs = ts.map(_.durMs).sorted
      spans.add(spans.nextId(), parent, "stage", qid,
        si.submissionTime.getOrElse(0L) * 1000L,
        si.completionTime.getOrElse(0L) * 1000L,
        Map("tasks" -> ts.size,
          "run_ms" -> ts.map(_.runMs).sum,
          "cpu_ns" -> ts.map(_.cpuNs).sum,
          "gc_ms" -> ts.map(_.gcMs).sum,
          "in_bytes" -> ts.map(_.inBytes).sum,
          "sw_bytes" -> ts.map(_.swBytes).sum,
          "sr_bytes" -> ts.map(_.srBytes).sum,
          "fetch_ms" -> ts.map(_.fetchMs).sum,
          "spill_bytes" -> ts.map(_.spill).sum,
          "task_max_ms" -> (if (durs.isEmpty) 0L else durs.last),
          "task_med_ms" -> (if (durs.isEmpty) 0L else durs(durs.size / 2))))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(funcName, qe, ok = false)
  }

  private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      phases.foreach { case (name, p) =>
        spans.add(spans.nextId(), -1L, s"catalyst.$name", "",
          p.startTimeMs * 1000L, p.endTimeMs * 1000L)
      }
      val at = phases.values.map(_.endTimeMs).max * 1000L
      spans.add(spans.nextId(), -1L, "plan", "", at, at,
        planMetrics(qe.executedPlan) + ("func" -> funcName) + ("ok" -> ok))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    countLog("org.apache.spark.sql.execution.CacheManager",
      "Asked to cache already cached data", dupPersists)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  /** Local property naming the query or stream the submitting thread runs. */
  val QidKey = "perfbench.qid"

  private final case class TaskRec(durMs: Long, runMs: Long, cpuNs: Long,
    gcMs: Long, inBytes: Long, swBytes: Long, srBytes: Long, fetchMs: Long,
    spill: Long)

  /** Seconds held by a SQL metric, by its declared type. */
  private def secs(m: SQLMetric): Double = m.metricType match {
    case "timing" => m.value / 1e3
    case "nsTiming" => m.value / 1e9
    case _ => 0.0
  }

  private def metric(p: SparkPlan, name: String): Option[SQLMetric] =
    p.metrics.get(name)

  /** Counts and SQL metrics of the final (post-AQE) physical plan,
    * subqueries and query stages included. */
  def planMetrics(root: SparkPlan): Map[String, Any] = {
    val nodes = collectWithSubqueries(root) { case p => p }
    def sumSecs(pf: PartialFunction[SparkPlan, String]): Double =
      nodes.collect { case p if pf.isDefinedAt(p) => metric(p, pf(p)).map(secs).getOrElse(0.0) }.sum
    def sumVal(pf: PartialFunction[SparkPlan, String]): Long =
      nodes.collect { case p if pf.isDefinedAt(p) => metric(p, pf(p)).map(_.value).getOrElse(0L) }.sum
    Map(
      "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      "broadcasts" -> nodes.count(_.isInstanceOf[BroadcastExchangeExec]),
      "smj" -> nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      "bcast_bytes" -> sumVal { case _: BroadcastExchangeExec => "dataSize" },
      "sort_s" -> sumSecs { case _: SortExec => "sortTime" },
      "agg_s" -> sumSecs {
        case _: HashAggregateExec | _: ObjectHashAggregateExec | _: SortAggregateExec => "aggTime"
      },
      "scan_bytes" -> sumVal { case _: FileSourceScanExec => "filesSize" },
      "scan_s" -> sumSecs { case _: FileSourceScanExec | _: BatchScanExec => "scanTime" },
      "scans" -> nodes.count(_.isInstanceOf[FileSourceScanExec]))
  }

  /** Counts log events of `logger` whose message contains `needle`,
    * passing every event on unchanged. */
  def countLog(logger: String, needle: String, counter: AtomicLong): Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.filter.AbstractFilter
    LogManager.getContext(false) match {
      case ctx: LoggerContext =>
        val cfg = ctx.getConfiguration
        val lc = cfg.getLoggerConfig(logger) match {
          case exact if exact.getName == logger => exact
          case parent =>
            val fresh = new LoggerConfig(logger, parent.getLevel, true)
            cfg.addLogger(logger, fresh)
            fresh
        }
        lc.addFilter(new AbstractFilter() {
          override def filter(event: LogEvent): Filter.Result = {
            if (event.getMessage.getFormattedMessage.contains(needle))
              counter.incrementAndGet()
            Filter.Result.NEUTRAL
          }
        })
        ctx.updateLoggers()
      case other =>
        throw new IllegalStateException(s"log4j context is ${other.getClass}, cannot count $needle")
    }
  }

  /** The cached state the program holds right now: persisted RDDs and
    * their stored bytes (memory plus disk). */
  def cacheSnapshot(spark: SparkSession): (Int, Long) = {
    val sc = spark.sparkContext
    val infos = sc.getRDDStorageInfo
    (sc.getPersistentRDDs.size, infos.map(i => i.memSize + i.diskSize).sum)
  }
}
