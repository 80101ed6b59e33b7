package perfbench

import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

object Trace {
  /** Local property that tags every job with the index of its timed query;
    * broadcast, subquery and stream-execution threads inherit it. */
  val QueryKey = "perfbench.query"
}

/** Layer spans and counters of a traced run, from public Spark hooks only:
  * a `SparkListener` (scheduler, executor, shuffle, scan), a
  * `QueryExecutionListener` (Catalyst phases, catalog commands), a
  * `StreamingQueryListener` (micro-batch phases), codegen counters and
  * `Warehouse.artifactRebuildCount`. Events are kept in memory and folded
  * into one row per query by [[finish]]. An event is charged to a query by
  * its [[Trace.QueryKey]] property, else by the query's time window. */
final class Trace(spark: SparkSession) {
  private case class Job(id: Int, query: Option[Int], startMs: Long, stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  private case class TaskRec(stage: Int, durationMs: Long, runMs: Long, cpuNs: Long,
                             gcMs: Long, peakExec: Long, spill: Long, shWrite: Long,
                             shRecords: Long, shRead: Long, fetchWaitMs: Long,
                             inBytes: Long, inRecords: Long)
  private case class Qe(atMs: Long, command: Boolean, durNs: Long,
                        analysisMs: Long, optimizationMs: Long, planningMs: Long)
  private case class Batch(atMs: Long, durations: Map[String, Long], inputRows: Long,
                           stateCommitMs: Long, stateRowsUpdated: Long)

  private val jobs = ArrayBuffer[Job]()
  private val stageSubmits = ArrayBuffer[(Int, Option[Int])]()
  private val tasks = ArrayBuffer[TaskRec]()
  private val qes = ArrayBuffer[Qe]()
  private val batches = ArrayBuffer[Batch]()

  private case class Window(var startMs: Long = 0L, var buildMs: Long = Long.MaxValue,
                            var endMs: Long = 0L, var compiles: Long = 0L,
                            var compileNs: Long = 0L, var rebuilds: Long = 0L)
  private val windows = scala.collection.mutable.Map[Int, Window]()

  private def queryOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Trace.QueryKey))).map(_.toInt)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      jobs += Job(e.jobId, queryOf(e.properties), e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stageSubmits.synchronized {
      stageSubmits += ((e.stageInfo.stageId, queryOf(e.properties)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.synchronized {
        tasks += TaskRec(e.stageId, e.taskInfo.duration, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, m.peakExecutionMemory, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution, durNs: Long): Unit = {
      val ph = qe.tracker.phases
      def dur(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      // charge by the latest phase start: planning runs when the plan executes
      val at = Seq("planning", "optimization", "analysis").flatMap(ph.get)
        .headOption.map(_.startTimeMs).getOrElse(-1L)
      qes.synchronized {
        qes += Qe(at, funcName == "command", durNs, dur("analysis"), dur("optimization"), dur("planning"))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, 0L)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val at = try java.time.Instant.parse(p.timestamp).toEpochMilli catch { case _: Throwable => -1L }
      batches.synchronized {
        batches += Batch(at, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows, p.stateOperators.map(_.commitTimeMs).sum,
          p.stateOperators.map(_.numRowsUpdated).sum)
      }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
  private var loopGcMs = 0L

  def startLoop(): Unit = {
    drain()
    heapPools.foreach(_.resetPeakUsage())
    loopGcMs = gcMs
  }

  def beginQuery(i: Int): Unit = {
    val w = Window(startMs = System.currentTimeMillis())
    w.compiles = -CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    w.compileNs = -CodeGenerator.compileTime
    w.rebuilds = -graft.sources.Warehouse.artifactRebuildCount
    windows(i) = w
  }
  def buildDone(i: Int): Unit = windows(i).buildMs = System.currentTimeMillis()
  def endQuery(i: Int): Unit = {
    val w = windows(i)
    w.endMs = System.currentTimeMillis()
    w.compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    w.compileNs += CodeGenerator.compileTime
    w.rebuilds += graft.sources.Warehouse.artifactRebuildCount
  }

  /** Wait until every posted listener event has been delivered. The bus's
    * `waitUntilEmpty` is public in bytecode but not in the Scala API, so it
    * is reached by reflection; without it, trailing events would be lost. */
  private def drain(): Unit = try {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethods.find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .foreach(_.invoke(bus))
  } catch { case e: Throwable => System.err.println(s"[perfbench] listener drain failed: $e") }

  private def windowOf(atMs: Long): Option[Int] =
    windows.collectFirst { case (i, w) if atMs >= w.startMs && atMs <= w.endMs => i }

  /** Fold the recorded events into one layer row per timed query (added to
    * each row of `rows` under "layers") and return the run-level figures. */
  def finish(rows: ArrayNode): ObjectNode = {
    drain()
    val f = JsonNodeFactory.instance
    val jobQuery: Map[Int, Option[Int]] = jobs.synchronized {
      jobs.map(j => j.id -> j.query.orElse(windowOf(j.startMs))).toMap
    }
    val stageQuery: Map[Int, Int] = {
      val fromJobs = jobs.synchronized(jobs.toSeq).flatMap(j => jobQuery(j.id).toSeq.flatMap(q => j.stages.map(_ -> q)))
      fromJobs.toMap ++ stageSubmits.synchronized(stageSubmits.toSeq).collect { case (s, Some(q)) => s -> q }
    }
    val tasksByQuery = tasks.synchronized(tasks.toSeq).groupBy(t => stageQuery.get(t.stage))
    val stagesByQuery = stageSubmits.synchronized(stageSubmits.toSeq)
      .groupBy { case (s, q) => q.orElse(stageQuery.get(s)) }
    val qesByQuery = qes.synchronized(qes.toSeq).groupBy(q => windowOf(q.atMs))
    val batchesByQuery = batches.synchronized(batches.toSeq).groupBy(b => windowOf(b.atMs))
    val jobsByQuery = jobs.synchronized(jobs.toSeq).groupBy(j => jobQuery(j.id))

    rows.elements().asScala.foreach { case row: ObjectNode =>
      val i = row.get("i").asInt()
      val w = windows(i)
      val wall = row.get("latency_s").asDouble()
      val qJobs = jobsByQuery.getOrElse(Some(i), Nil)
      val ts = tasksByQuery.getOrElse(Some(i), Nil)
      val qs = qesByQuery.getOrElse(Some(i), Nil)
      val bs = batchesByQuery.getOrElse(Some(i), Nil)
      def d(k: String) = bs.map(_.durations.getOrElse(k, 0L)).sum / 1e3
      // wall covered by at least one running job, clipped to the query window
      val intervals = qJobs.map(j => (math.max(j.startMs, w.startMs),
        math.min(if (j.endMs < 0) w.endMs else j.endMs, w.endMs))).filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L; var reach = Long.MinValue
      intervals.foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
      val jobWall = math.min(covered / 1e3, wall)
      val trigger = d("triggerExecution")
      val runS = ts.map(_.runMs).sum / 1e3
      val l = f.objectNode()
      l.put("operators.build_s", row.get("build_s").asDouble())
        .put("operators.build_jobs", qJobs.count(_.startMs <= w.buildMs))
        .put("catalyst.analysis_s", qs.map(_.analysisMs).sum / 1e3)
        .put("catalyst.optimization_s", qs.map(_.optimizationMs).sum / 1e3)
        .put("catalyst.planning_s", qs.map(_.planningMs).sum / 1e3)
        .put("catalyst.queries", qs.size)
        .put("codegen.compiles", w.compiles)
        .put("codegen.compile_s", w.compileNs / 1e9)
        .put("scheduler.jobs", qJobs.size)
        .put("scheduler.stages", stagesByQuery.getOrElse(Some(i), Nil).size)
        .put("scheduler.tasks", ts.size)
        .put("scheduler.task_overhead_s", (ts.map(_.durationMs).sum - ts.map(_.runMs).sum) / 1e3)
        .put("scheduler.job_wall_s", jobWall)
        .put("driver.outside_jobs_s", wall - jobWall)
        .put("executor.run_s", runS)
        .put("executor.cpu_s", ts.map(_.cpuNs).sum / 1e9)
        .put("executor.gc_s", ts.map(_.gcMs).sum / 1e3)
        .put("executor.peak_exec_mb", (if (ts.isEmpty) 0L else ts.map(_.peakExec).max) / 1048576.0)
        .put("executor.spill_mb", ts.map(_.spill).sum / 1048576.0)
        .put("shuffle.write_mb", ts.map(_.shWrite).sum / 1048576.0)
        .put("shuffle.read_mb", ts.map(_.shRead).sum / 1048576.0)
        .put("shuffle.records", ts.map(_.shRecords).sum)
        .put("shuffle.fetch_wait_s", ts.map(_.fetchWaitMs).sum / 1e3)
        .put("sources.scan_mb", ts.map(_.inBytes).sum / 1048576.0)
        .put("sources.scan_records", ts.map(_.inRecords).sum)
        .put("sources.artifact_rebuilds", w.rebuilds)
        .put("sources.catalog_cmds", qs.count(_.command))
        .put("sources.catalog_s", qs.filter(_.command).map(_.durNs).sum / 1e9)
        .put("streaming.batches", bs.size)
        .put("streaming.empty_batches", bs.count(_.inputRows == 0))
        .put("streaming.trigger_s", trigger)
        .put("streaming.add_batch_s", d("addBatch"))
        .put("streaming.query_planning_s", d("queryPlanning"))
        .put("streaming.offsets_s", d("latestOffset") + d("getBatch"))
        .put("streaming.wal_commit_s", d("walCommit") + d("commitOffsets"))
        .put("streaming.state_commit_s", bs.map(_.stateCommitMs).sum / 1e3)
        .put("streaming.state_rows", bs.map(_.stateRowsUpdated).sum)
        .put("streaming.outside_batches_s", if (bs.isEmpty) 0.0 else wall - trigger)
      row.set[ObjectNode]("layers", l)
    }
    val run = f.objectNode()
    run.put("jvm.gc_s", (gcMs - loopGcMs) / 1e3)
    run.put("jvm.heap_peak_mb", heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
    run.put("unattributed_tasks", tasksByQuery.getOrElse(None, Nil).size)
    run
  }
}
