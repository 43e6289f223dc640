package perfbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records the traced run's spans from Spark's own listener events.
  *
  * Three listeners, all installed from outside the program: a
  * `SparkListener` (jobs, stages, task metrics summed per stage), a
  * `QueryExecutionListener` (the `QueryExecution.tracker` planning phases
  * of every executed action) and a `StreamingQueryListener` (stream start
  * and stop, and each micro-batch's `StreamingQueryProgress`). Jobs carry
  * the local properties the harness sets before each call, so a job knows
  * the query and the phase (build or force) that launched it. Everything
  * stays in memory until [[write]]; the analysis is done by `layers.py`.
  */
final class Tracer(spark: SparkSession) {
  private val mapper = new ObjectMapper()
  private val jobs = new JList[JMap[String, Any]]()
  private val jobById = mutable.HashMap.empty[Int, JMap[String, Any]]
  private val plans = new JList[JMap[String, Any]]()
  private val streams = new JList[JMap[String, Any]]()
  private val progress = new JList[Any]()
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]

  private def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private final class StageAgg(val id: Int, val attempt: Int) {
    var submitted = -1L; var completed = -1L; var numTasks = 0
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var overheadMs = 0L
    var inBytes = 0L; var inRecords = 0L; var writeBytes = 0L; var readBytes = 0L
    var fetchWaitMs = 0L; var spillBytes = 0L; var peakMem = 0L
    val readPerTask = mutable.ArrayBuffer.empty[Long]

    def toJson: JMap[String, Any] = {
      val reads = new JList[Any]()
      readPerTask.foreach(r => reads.add(r))
      obj("id" -> id, "attempt" -> attempt, "submitted" -> submitted,
        "completed" -> completed, "num_tasks" -> numTasks, "tasks" -> tasks,
        "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
        "overhead_ms" -> overheadMs, "input_bytes" -> inBytes,
        "input_records" -> inRecords, "shuffle_write_bytes" -> writeBytes,
        "shuffle_read_bytes" -> readBytes, "fetch_wait_ms" -> fetchWaitMs,
        "spill_bytes" -> spillBytes, "peak_mem_bytes" -> peakMem,
        "task_read_bytes" -> reads)
    }
  }

  private def stage(id: Int, attempt: Int): StageAgg =
    stages.getOrElseUpdate((id, attempt), new StageAgg(id, attempt))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String): Any = p.flatMap(x => Option(x.getProperty(k))).orNull
      val ids = new JList[Any]()
      e.stageIds.foreach(i => ids.add(i))
      val j = obj("id" -> e.jobId, "start" -> e.time, "end" -> -1L,
        "query" -> prop(Harness.QueryKey), "exec" -> prop(Harness.ExecKey),
        "phase" -> prop(Harness.PhaseKey), "stages" -> ids)
      jobs.add(j)
      jobById(e.jobId) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobById.get(e.jobId).foreach { j =>
        j.put("end", e.time)
        j.put("ok", e.jobResult == JobSucceeded)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      s.numTasks = e.stageInfo.numTasks
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val s = stage(e.stageId, e.stageAttemptId)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.overheadMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
        s.inBytes += m.inputMetrics.bytesRead
        s.inRecords += m.inputMetrics.recordsRead
        s.writeBytes += m.shuffleWriteMetrics.bytesWritten
        val read = m.shuffleReadMetrics.totalBytesRead
        s.readBytes += read
        s.readPerTask += read
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.diskBytesSpilled
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution, ok: Boolean): Unit =
      Tracer.this.synchronized {
        val phases = new JMap[String, Any]()
        qe.tracker.phases.foreach { case (name, p) =>
          phases.put(name, obj("start" -> p.startTimeMs, "end" -> p.endTimeMs))
        }
        plans.add(obj("func" -> func, "ok" -> ok, "phases" -> phases))
      }
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized {
        streams.add(obj("run_id" -> e.runId.toString, "name" -> e.name,
          "start" -> e.timestamp, "start_seen" -> System.currentTimeMillis(), "end" -> -1L))
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress.add(mapper.readTree(e.progress.json)) }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Tracer.this.synchronized {
        val now = System.currentTimeMillis()
        streams.forEach { s => if (s.get("run_id") == e.runId.toString) s.put("end", now) }
      }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    BusDrain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
    spark.sparkContext.removeSparkListener(jobListener)
  }

  /** The recorded spans as one JSON document. */
  def write(path: String): Unit = synchronized {
    val st = new JList[Any]()
    stages.values.foreach(s => st.add(s.toJson))
    mapper.writeValue(new java.io.File(path), obj("jobs" -> jobs, "stages" -> st,
      "plans" -> plans, "streams" -> streams, "progress" -> progress))
  }
}
