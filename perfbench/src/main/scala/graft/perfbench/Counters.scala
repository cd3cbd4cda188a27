package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipeline.{DataKeyResult, KeyService}

/** Counts key-service calls. Passed into `ExportJob.run` in place of the
  * real service; the counters are JVM-wide because Spark deserializes a
  * copy of the decorator into every task (local mode: one JVM). */
final class CountingKeyService(inner: KeyService) extends KeyService {
  override def decryptKey(keyEncryptionKeyId: String, encryptedKey: String): String = {
    CountingKeyService.decryptCalls.incrementAndGet()
    inner.decryptKey(keyEncryptionKeyId, encryptedKey)
  }
  override def batchDataKey(): DataKeyResult = {
    CountingKeyService.batchKeyCalls.incrementAndGet()
    inner.batchDataKey()
  }
}

object CountingKeyService {
  val decryptCalls = new AtomicLong
  val batchKeyCalls = new AtomicLong
  def calls: Long = decryptCalls.get + batchKeyCalls.get
}

/** Totals of Spark's own task, stage and job events plus the codegen
  * compiler's counters, read as snapshots and subtracted around each
  * measured call. */
final case class SparkTotals(
    tasks: Long = 0, failedTasks: Long = 0, jobs: Long = 0, stages: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0, gcMs: Long = 0,
    shuffleWriteBytes: Long = 0, spillDiskBytes: Long = 0,
    recordsRead: Long = 0, bytesRead: Long = 0,
    codegenCompiles: Long = 0, codegenCompileNs: Long = 0) {

  def -(o: SparkTotals): SparkTotals = SparkTotals(
    tasks - o.tasks, failedTasks - o.failedTasks, jobs - o.jobs,
    stages - o.stages, taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs,
    gcMs - o.gcMs, shuffleWriteBytes - o.shuffleWriteBytes,
    spillDiskBytes - o.spillDiskBytes, recordsRead - o.recordsRead,
    bytesRead - o.bytesRead, codegenCompiles - o.codegenCompiles,
    codegenCompileNs - o.codegenCompileNs)

  def toJson: String = Json.obj(
    "tasks" -> tasks, "failed_tasks" -> failedTasks, "jobs" -> jobs,
    "stages" -> stages, "task_run_s" -> taskRunMs / 1e3,
    "task_cpu_s" -> taskCpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_disk_bytes" -> spillDiskBytes,
    "records_read" -> recordsRead, "bytes_read" -> bytesRead,
    "codegen_compiles" -> codegenCompiles,
    "codegen_compile_s" -> codegenCompileNs / 1e9)
}

/** `SparkListener` collector: running totals, the largest task
  * `peakExecutionMemory` seen, and (in trace runs) each Spark job's
  * start and end. */
final class SparkCollector extends SparkListener {
  private var t = SparkTotals()
  private var peakMem = 0L
  @volatile var recordJobs = false
  private val openJobs = mutable.Map.empty[Int, Long]
  private val doneJobs = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val failed = if (e.reason.isInstanceOf[org.apache.spark.Success.type]) 0 else 1
    if (m == null) t = t.copy(tasks = t.tasks + 1, failedTasks = t.failedTasks + failed)
    else {
      peakMem = math.max(peakMem, m.peakExecutionMemory)
      t = t.copy(
        tasks = t.tasks + 1, failedTasks = t.failedTasks + failed,
        taskRunMs = t.taskRunMs + m.executorRunTime,
        taskCpuNs = t.taskCpuNs + m.executorCpuTime,
        gcMs = t.gcMs + m.jvmGCTime,
        shuffleWriteBytes = t.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillDiskBytes = t.spillDiskBytes + m.diskBytesSpilled,
        recordsRead = t.recordsRead + m.inputMetrics.recordsRead,
        bytesRead = t.bytesRead + m.inputMetrics.bytesRead)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { t = t.copy(stages = t.stages + 1) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    t = t.copy(jobs = t.jobs + 1)
    if (recordJobs) openJobs(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(start => doneJobs += ((start, e.time)))
  }

  /** (start, end) epoch millis of the jobs that ended since the last call. */
  def takeJobs(): Seq[(Long, Long)] = synchronized {
    val out = doneJobs.toList
    doneJobs.clear()
    out
  }

  /** Totals so far, after every event posted up to now has arrived. */
  def snapshot(spark: SparkSession): SparkTotals = {
    org.apache.spark.BusDrain(spark.sparkContext)
    synchronized(t.copy(
      codegenCompiles =
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      codegenCompileNs = CodeGenerator.compileTime))
  }

  def peakExecutionMemory(spark: SparkSession): Long = {
    org.apache.spark.BusDrain(spark.sparkContext)
    synchronized(peakMem)
  }
}

/** Catalyst phase times of every executed query, from each execution's
  * `QueryExecution.tracker`. */
final class PhaseCollector extends QueryExecutionListener {
  private var analysisNs, optimizationNs, planningNs, executions = 0L
  @volatile var recordPhases = false
  private val donePhases = mutable.ArrayBuffer.empty[(String, Long, Long)]

  private def note(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    if (recordPhases) phases.foreach { case (name, p) =>
      donePhases += ((name, p.startTimeMs, p.endTimeMs)) }
    def ns(p: String) = phases.get(p).map(_.durationMs * 1000000L).getOrElse(0L)
    analysisNs += ns(QueryPlanningTracker.ANALYSIS)
    optimizationNs += ns(QueryPlanningTracker.OPTIMIZATION)
    planningNs += ns(QueryPlanningTracker.PLANNING)
    executions += 1
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = note(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = note(qe)

  /** (phase, start, end) epoch millis of the phases noted since the last call. */
  def takePhases(): Seq[(String, Long, Long)] = synchronized {
    val out = donePhases.toList
    donePhases.clear()
    out
  }

  /** (analysis, optimization, planning) seconds and executions so far. */
  def snapshot(spark: SparkSession): (Double, Double, Double, Long) = {
    org.apache.spark.BusDrain(spark.sparkContext)
    synchronized((analysisNs / 1e9, optimizationNs / 1e9, planningNs / 1e9, executions))
  }
}
