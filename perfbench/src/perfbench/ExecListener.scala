package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbenchbridge.SqlEnd
import scala.collection.mutable

/** Per-tag execution aggregates from Spark's public listener APIs.
  *
  * A runner tags the jobs of one unit of work (a query, a phase) with
  * `SparkContext.addJobTag`; every stage and task of those jobs is
  * summed under each of its tags, and under [[ExecListener.All]].
  * Query-planning phase durations come from `QueryExecution.tracker` of
  * each finished SQL execution, tied to tags through the SQL execution
  * id its jobs carry. Updates and reads of a finished run go through
  * `lock`; read `timeline` only after the listener bus has drained. */
final class ExecListener extends SparkListener {
  final class Agg {
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L; var schedMs = 0L
    var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var inputBytes = 0L; var inputRows = 0L; var stragglers = 0L
    var jobMs = 0L
    var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
    def toMap: Map[String, Any] = Map(
      "cpu_s" -> cpuNs / 1e9, "run_s" -> runMs / 1e3, "gc_s" -> gcMs / 1e3,
      "sched_delay_s" -> schedMs / 1e3, "jobs" -> jobs, "stages" -> stages,
      "tasks" -> tasks, "failed_tasks" -> failedTasks,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "spill_bytes" -> spill, "input_bytes" -> inputBytes,
      "input_rows" -> inputRows, "straggler_stages" -> stragglers,
      "job_s" -> jobMs / 1e3, "analysis_ms" -> analysisMs.toDouble,
      "optimization_ms" -> optimizationMs.toDouble,
      "planning_ms" -> planningMs.toDouble)
  }
  private final class StageAgg(val tags: Seq[String]) {
    var cpuNs = 0L; var maxTaskCpuNs = 0L; var tasks = 0
  }

  private val lock = new Object
  private val byTag = mutable.Map.empty[String, Agg]
  private val jobTags = mutable.Map.empty[Int, Seq[String]]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageTags = mutable.Map.empty[Int, Seq[String]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageAgg = mutable.Map.empty[(Int, Int), StageAgg]
  private val execTags = mutable.Map.empty[Long, Seq[String]]
  /** (tags, kind, id, startMs, endMs, job id) of every finished job and
    * stage — epoch milliseconds, for the span log. */
  val timeline = mutable.ArrayBuffer.empty[(Seq[String], String, Int, Long, Long, Int)]

  private def agg(t: String) = byTag.getOrElseUpdate(t, new Agg)
  private def each(tags: Seq[String])(f: Agg => Unit): Unit = tags.foreach(t => f(agg(t)))

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val props = Option(e.properties)
    val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil) :+ ExecListener.All
    jobTags(e.jobId) = tags
    jobStart(e.jobId) = e.time
    e.stageIds.foreach { s =>
      if (!stageTags.contains(s)) { stageTags(s) = tags; stageJob(s) = e.jobId }
    }
    each(tags)(_.jobs += 1)
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).foreach { id =>
        execTags.getOrElseUpdate(id, tags)
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    val tags = jobTags.getOrElse(e.jobId, Nil)
    val start = jobStart.getOrElse(e.jobId, e.time)
    each(tags)(_.jobMs += e.time - start)
    timeline += ((tags, "job", e.jobId, start, e.time, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      val i = e.stageInfo
      val tags = stageTags.getOrElse(i.stageId, Nil)
      each(tags)(_.stages += 1)
      stageAgg.remove((i.stageId, i.attemptNumber())).foreach { s =>
        if (s.tasks > 1 && s.maxTaskCpuNs * 2 > s.cpuNs) each(tags)(_.stragglers += 1)
      }
      for (a <- i.submissionTime; b <- i.completionTime)
        timeline += ((tags, "stage", i.stageId, a, b, stageJob.getOrElse(i.stageId, -1)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val tags = stageTags.getOrElse(e.stageId, Nil)
    val failed = e.reason != org.apache.spark.Success
    val m = Option(e.taskMetrics)
    val cpu = m.map(_.executorCpuTime).getOrElse(0L)
    val s = stageAgg.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg(tags))
    s.cpuNs += cpu; s.tasks += 1; s.maxTaskCpuNs = math.max(s.maxTaskCpuNs, cpu)
    each(tags) { a =>
      a.tasks += 1
      if (failed) a.failedTasks += 1
      m.foreach { t =>
        a.cpuNs += t.executorCpuTime
        a.runMs += t.executorRunTime
        a.gcMs += t.jvmGCTime
        a.shuffleWrite += t.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += t.shuffleReadMetrics.totalBytesRead
        a.spill += t.memoryBytesSpilled + t.diskBytesSpilled
        a.inputBytes += t.inputMetrics.bytesRead
        a.inputRows += t.inputMetrics.recordsRead
        val info = e.taskInfo
        a.schedMs += math.max(0L, info.duration - t.executorRunTime -
          t.executorDeserializeTime - t.resultSerializationTime)
      }
    }
  }

  private def addPhases(tags: Seq[String], ph: (Long, Long, Long)): Unit =
    each(tags) { a =>
      a.analysisMs += ph._1; a.optimizationMs += ph._2; a.planningMs += ph._3
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      SqlEnd.phases(end).foreach { ph =>
        lock.synchronized(execTags.get(end.executionId) match {
          case Some(tags) => addPhases(tags, ph)
          case None => () // an execution that ran no job
        })
      }
    case _ => ()
  }

  def snapshot(tag: String = ExecListener.All): Map[String, Any] =
    lock.synchronized(byTag.get(tag).map(_.toMap).getOrElse(new Agg().toMap))
}

object ExecListener {
  /** The tag every job carries besides its own. */
  val All = "*"
}
