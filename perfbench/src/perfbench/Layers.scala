package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor and scheduler layers, from SparkListener task, stage and
  * job events. Counters cover what happened since the last `reset`. */
final class ExecLayer(spark: SparkSession) extends SparkListener {
  @volatile private var markerDone: CountDownLatch = new CountDownLatch(0)
  private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
  private val markerStages = ConcurrentHashMap.newKeySet[Int]()
  private var jobs, stages, tasks = 0L
  private var runMs, cpuNs, gcMs, shufW, shufR, spill, peakMem = 0L

  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(_.getProperty(ExecLayer.Group) != null)) {
      markerJobs.add(e.jobId)
      e.stageIds.foreach(markerStages.add)
    } else jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.remove(e.jobId)) markerDone.countDown()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      if (!markerStages.contains(e.stageInfo.stageId)) stages += 1
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!markerStages.contains(e.stageId)) {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shufW += m.shuffleWriteMetrics.bytesWritten
        shufR += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        peakMem = math.max(peakMem, m.peakExecutionMemory)
      }
    }
  }

  /** Waits until every event posted before this call was delivered:
    * runs a one-task marker job and waits for its end event, which
    * the shared listener queue delivers after all earlier events. */
  def drain(): Unit = {
    val latch = new CountDownLatch(1)
    markerDone = latch
    val sc = spark.sparkContext
    sc.setLocalProperty(ExecLayer.Group, "marker")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(ExecLayer.Group, null)
    latch.await(30, TimeUnit.SECONDS)
  }

  def reset(): Unit = { drain(); synchronized {
    jobs = 0; stages = 0; tasks = 0
    runMs = 0; cpuNs = 0; gcMs = 0; shufW = 0; shufR = 0; spill = 0
    peakMem = 0
  } }

  /** Metrics since the last reset, divided by `units` (passes or
    * drains); `wallMs` is the wall time those units took in total. */
  def metrics(units: Int, wallMs: Double, cores: Int): Seq[(String, Double)] = {
    drain()
    synchronized {
      val u = math.max(units, 1).toDouble
      Seq(
        "executor.run_ms" -> runMs / u,
        "executor.cpu_ms" -> cpuNs / 1e6 / u,
        "executor.gc_ms" -> gcMs / u,
        "executor.busy_frac" ->
          (if (wallMs > 0) runMs / (wallMs * cores) else 0.0),
        "shuffle.write_bytes" -> shufW / u,
        "shuffle.read_bytes" -> shufR / u,
        "executor.spill_bytes" -> spill / u,
        "executor.peak_task_mem_bytes" -> peakMem.toDouble,
        "scheduler.jobs" -> jobs / u,
        "scheduler.stages" -> stages / u,
        "scheduler.tasks" -> tasks / u,
        "scheduler.tasks_per_stage" ->
          (if (stages > 0) tasks.toDouble / stages else 0.0))
    }
  }
}

object ExecLayer {
  private val Group = "perfbench.marker"
}

/** Catalyst phase times (QueryPlanningTracker) and exact operator
  * counts over every executed plan, from QueryExecutionListener. */
final class CatalystLayer(spark: SparkSession) extends QueryExecutionListener {
  private val sums = scala.collection.mutable.LinkedHashMap[String, Double]()

  spark.listenerManager.register(this)

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v
    Seq("analysis", "optimization", "planning").foreach { p =>
      add(s"catalyst.${p}_ms", phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
    }
    val ns = CatalystLayer.nodes(qe.executedPlan)
    add("plan.scans", ns.count {
      case _: FileSourceScanExec | _: DataSourceV2ScanExecBase |
          _: RowDataSourceScanExec => true
      case _ => false
    })
    add("plan.exchanges", ns.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    })
    add("plan.reused_exchanges", ns.count(_.isInstanceOf[ReusedExchangeExec]))
    add("plan.sorts", ns.count(_.isInstanceOf[SortExec]))
    add("plan.smj", ns.count(_.isInstanceOf[SortMergeJoinExec]))
    add("plan.bhj", ns.count(_.isInstanceOf[BroadcastHashJoinExec]))
  }
  /** Adds the analysis a DataFrame's construction did before any
    * action (the actions' own analysis comes in through `onSuccess`). */
  def built(qe: QueryExecution): Unit = synchronized {
    val ms = qe.tracker.phases.get("analysis").map(_.durationMs.toDouble)
    sums("catalyst.analysis_ms") = sums.getOrElse("catalyst.analysis_ms", 0.0) +
      ms.getOrElse(0.0)
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def reset(): Unit = synchronized { sums.clear() }

  /** Sums since the last reset, divided by `units`. */
  def metrics(units: Int): Seq[(String, Double)] = synchronized {
    val u = math.max(units, 1).toDouble
    CatalystLayer.Names.map(n => n -> sums.getOrElse(n, 0.0) / u)
  }
}

object CatalystLayer {
  val Names: Seq[String] = Seq("catalyst.analysis_ms",
    "catalyst.optimization_ms", "catalyst.planning_ms", "plan.scans",
    "plan.exchanges", "plan.reused_exchanges", "plan.sorts", "plan.smj",
    "plan.bhj")

  /** Every node of an executed plan, through adaptive plans, query
    * stages and subqueries; a reused exchange counts once and is not
    * entered, so the work under it is not counted twice. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case r: ReusedSubqueryExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

/** Micro-batch progress of every streaming query, keyed by query
  * name, from StreamingQueryListener. */
final class StreamLayer(spark: SparkSession) extends StreamingQueryListener {
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val ended = ConcurrentHashMap.newKeySet[java.util.UUID]()

  spark.streams.addListener(this)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    ended.add(e.runId)

  /** Waits for the terminated events of `runIds`; progress events of
    * a run are delivered before its terminated event. */
  def awaitEnded(runIds: Seq[java.util.UUID]): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!runIds.forall(ended.contains) && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  def clear(): Unit = progress.clear()

  /** Progress of non-empty micro-batches, in delivery order. */
  def batches(runIds: Set[java.util.UUID]): Seq[StreamingQueryProgress] =
    progress.asScala.toSeq.filter(p => runIds(p.runId) && p.numInputRows > 0)
}

object StreamLayer {
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
}
