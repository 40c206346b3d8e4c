package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one phase (build, noop or count) of one traced query. */
final class PhaseStats {
  var jobs, stages, tasks, taskFailures = 0L
  var runMs, cpuNs, gcMs, peakMem = 0L
  var scanBytes, scanRows = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillDisk = 0L
  var blockPuts, blockBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var compiles, compileNs = 0L
  var batches, batchMs, commitMs, stateRows = 0L
  /** [start, end) wall-clock ms of every job, for driver-gap accounting. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Observes one session from outside through listener and metric APIs only.
  *
  * The harness opens each phase of a query (build, noop or count) with
  * `begin` and closes it with `end`, which drains: a sentinel job posted behind every
  * event of the phase on the shared listener queue, so all of a phase's
  * asynchronous events are attributed before the next phase starts. Job,
  * stage and task events are keyed by the `spark.jobGroup.id` the harness
  * sets; Catalyst, streaming and block events go to the phase that is open.
  * Spans are kept in memory; the harness writes them once, at the end.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  @volatile private var current: PhaseStats = new PhaseStats
  @volatile private var currentKey: String = ""
  private val byGroup = new ConcurrentHashMap[String, PhaseStats]()
  private val stageOwner = new ConcurrentHashMap[Int, PhaseStats]()
  private val jobOwner = new ConcurrentHashMap[Int, (PhaseStats, String)]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val drainJobs = new ConcurrentHashMap[Int, java.lang.Long]()
  @volatile private var drainSeen = -1L
  private var drainCount = 0L
  private var codegenMark = (0L, 0L)

  val spans = mutable.ArrayBuffer.empty[String]

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Opens the phase span `id`; returns the stats object it fills. */
  def begin(id: String): PhaseStats = {
    val st = new PhaseStats
    byGroup.put(Prefix + id, st)
    current = st
    currentKey = id
    codegenMark = codegenNow
    spark.sparkContext.setJobGroup(Prefix + id, id, interruptOnCancel = false)
    st
  }

  /** Closes the open phase once every event it posted has been observed. */
  def end(): Unit = {
    val (c0, t0) = codegenMark
    val (c1, t1) = codegenNow
    current.compiles += c1 - c0
    current.compileNs += t1 - t0
    spark.sparkContext.clearJobGroup()
    drain()
    current = new PhaseStats
    currentKey = ""
  }

  /** Blocks until the shared listener queue has delivered everything
    * posted before this call (the queue is FIFO per listener). */
  def drain(): Unit = {
    drainCount += 1
    val id = drainCount
    spark.sparkContext.setJobGroup(s"${DrainGroup}$id", "drain", interruptOnCancel = false)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (drainSeen < id && System.nanoTime() < deadline) Thread.sleep(1)
    require(drainSeen >= id, "listener queue did not drain within 30 s")
  }

  def span(kind: String, id: String, parent: String, startMs: Long, endMs: Long,
      attrs: (String, Any)*): Unit = spans.synchronized {
    spans += Json.obj(Seq("kind" -> kind, "id" -> id, "parent" -> parent,
      "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs: _*)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id", "")).getOrElse("")
    if (group.startsWith(DrainGroup)) {
      drainJobs.put(e.jobId, group.stripPrefix(DrainGroup).toLong)
    } else {
      // streaming micro-batches set their own group: they belong to the open phase
      val (st, key) =
        if (group.startsWith(Prefix)) (byGroup.get(group), group.stripPrefix(Prefix))
        else (current, currentKey)
      if (st != null) {
        st.jobs += 1
        e.stageIds.foreach { s => stageOwner.put(s, st); stageJob.put(s, e.jobId) }
        jobOwner.put(e.jobId, (st, key))
        jobStart.put(e.jobId, e.time)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(drainJobs.remove(e.jobId)).foreach(id => drainSeen = math.max(drainSeen, id))
    Option(jobOwner.remove(e.jobId)).foreach { case (st, key) =>
      val t0 = jobStart.remove(e.jobId).longValue
      st.jobSpans += ((t0, e.time))
      span("job", s"job-${e.jobId}", key, t0, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageOwner.remove(info.stageId)).foreach { st =>
      st.stages += 1
      val job = Option(stageJob.remove(info.stageId)).map(j => s"job-$j").getOrElse("")
      span("stage", s"stage-${info.stageId}.${info.attemptNumber()}", job,
        info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L),
        "tasks" -> info.numTasks)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val st = stageOwner.get(e.stageId)
    if (st != null) st.synchronized {
      st.tasks += 1
      if (!e.taskInfo.successful) st.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.peakMem = math.max(st.peakMem, m.peakExecutionMemory)
        st.scanBytes += m.inputMetrics.bytesRead
        st.scanRows += m.inputMetrics.recordsRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        st.spillDisk += m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      val st = current
      st.blockPuts += 1
      st.blockBytes += b.memSize + b.diskSize
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      val pr = p.progress
      val st = current
      st.batches += 1
      st.batchMs += pr.batchDuration
      val d = pr.durationMs.asScala
      st.commitMs += d.get("walCommit").map(_.longValue).getOrElse(0L) +
        d.get("commitOffsets").map(_.longValue).getOrElse(0L)
      st.stateRows += pr.stateOperators.map(_.numRowsUpdated).sum
      val start = java.time.Instant.parse(pr.timestamp).toEpochMilli
      span("batch", s"${pr.name}#${pr.batchId}", currentKey, start, start + pr.batchDuration,
        "input_rows" -> pr.numInputRows)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    val st = current
    st.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
    st.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
    st.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  private val Prefix = "graftbench|"
  private val DrainGroup = "graftbench-drain-"

  /** (compile count, compile ns) of Janino codegen, JVM-wide. */
  def codegenNow: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}
