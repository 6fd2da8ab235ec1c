package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as the listener events' `System.currentTimeMillis`. */
object Clock {
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def now(): Double = ms0 + (System.nanoTime() - ns0) / 1e6
}

/** Spark-side trace of a traced pass: one record per job (with the task
  * metrics of its stages summed), per completed stage attempt, and per
  * finished query execution (its planning phases and the fixture tables
  * its analyzed plan reads). Registered only while a traced pass runs;
  * everything is kept in memory and read after the listener bus drains.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  final class Job(val id: Int, val start: Long) {
    var end = 0L
    var stages, tasks, taskFailures = 0
    var runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
    var inBytes, inRecords, outBytes, outRecords = 0L
    var lastTaskEnd = 0L

    def toMap: Map[String, Any] = Map(
      "id" -> id, "start" -> start, "end" -> end, "stages" -> stages,
      "tasks" -> tasks, "task_failures" -> taskFailures, "run_ms" -> runMs,
      "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
      "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
      "fetch_wait_ms" -> fetchWaitMs, "spill" -> spill,
      "in_bytes" -> inBytes, "in_records" -> inRecords,
      "out_bytes" -> outBytes, "out_records" -> outRecords,
      "last_task_end" -> lastTaskEnd)
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val queries = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.jobId, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      val job = stageJob.getOrElse(si.stageId, -1)
      jobs.get(job).foreach(_.stages += 1)
      stages += Map("stage" -> si.stageId, "attempt" -> si.attemptNumber(),
        "tasks" -> si.numTasks, "job" -> job,
        "start" -> si.submissionTime.getOrElse(0L),
        "end" -> si.completionTime.getOrElse(0L))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) j.taskFailures += 1
      j.lastTaskEnd = math.max(j.lastTaskEnd, e.taskInfo.finishTime)
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inBytes += m.inputMetrics.bytesRead
        j.inRecords += m.inputMetrics.recordsRead
        j.outBytes += m.outputMetrics.bytesWritten
        j.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = recordQuery(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = recordQuery(qe)

  private def recordQuery(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (name, p) =>
      name -> Map("start" -> p.startTimeMs, "end" -> p.endTimeMs)
    }
    val tables = Recorder.tablesIn(qe.analyzed)
    synchronized {
      queries += Map("phases" -> phases, "tables" -> tables.toSeq.sorted)
    }
  }

  def jobCount: Int = synchronized(jobs.size)
  def queryCount: Int = synchronized(queries.size)

  /** Tables read by the query executions recorded from index `i` on. */
  def tablesFrom(i: Int): Set[String] = synchronized {
    queries.drop(i).flatMap(_("tables").asInstanceOf[Seq[String]]).toSet
  }

  /** Everything recorded so far; call after draining the listener bus. */
  def snapshot(): Map[String, Any] = synchronized {
    Map("jobs" -> jobs.values.map(_.toMap).toSeq, "stages" -> stages.toSeq,
      "queries" -> queries.toSeq)
  }

  def clear(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); stages.clear(); queries.clear()
  }
}

object Recorder {
  /** Fixture tables (by `graft.Tables` name) read by a logical plan,
    * subqueries included. */
  def tablesIn(plan: LogicalPlan): Set[String] =
    plan.collectWithSubqueries { case l: LogicalRelation => l.relation }
      .flatMap {
        case h: HadoopFsRelation =>
          h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
        case _ => Nil
      }
      .filter(graft.Tables.names.contains).toSet
}
