package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One traced interval. `trace` names the operation it belongs to (a
  * micro-batch id or a registry query); `parent` is the id of the span
  * that caused it, -1 for an operation span.
  */
final case class Span(id: Long, parent: Long, trace: String, kind: String,
    name: String, startMs: Double, endMs: Double,
    attrs: Map[String, Any] = Map.empty)

/** Records Spark's own events (SQL executions, jobs, stages, tasks)
  * while a traced run measures. Everything is kept in memory and turned
  * into spans after the run; nothing is written while timing.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private final case class Exec(id: Long, root: Long, output: String,
      start: Long, var end: Long = -1L, var name: String = "")
  private final case class Job(id: Int, exec: Long, batch: String,
      start: Long, stages: Seq[Int], var end: Long = -1L)
  private final class Stage(val id: Int, val name: String,
      val details: String, val start: Long, val end: Long, val tasks: Int,
      val cpuNs: Long, val runMs: Long,
      val shuffleWrite: Long, val shuffleRead: Long, val spill: Long,
      val inputRows: Long, val outputRows: Long)

  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val stageMaxRows = mutable.Map.empty[Int, Long]
  private val stagePeakMem = mutable.Map.empty[Int, Long]
  @volatile private var on = false

  spark.sparkContext.addSparkListener(this)

  def start(): Unit = on = true

  /** Stop recording once every queued event has been delivered. */
  def stop(): Unit = {
    org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
    on = false
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (on) {
    e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        execs(s.executionId) = Exec(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId),
          writePath(s.physicalPlanDescription), s.time)
      }
      case x: SparkListenerSQLExecutionEnd => synchronized {
        execs.get(x.executionId).foreach { ex =>
          ex.end = x.time
          ex.name = org.apache.spark.sql.perfbench.ExecName(x).getOrElse("")
        }
      }
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = if (on) {
    val p = Option(j.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    synchronized {
      jobs(j.jobId) = Job(j.jobId,
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        prop("streaming.sql.batchId").getOrElse(""), j.time,
        j.stageIds)
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = if (on)
    synchronized { jobs.get(j.jobId).foreach(_.end = j.time) }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (on) {
    val m = t.taskMetrics
    if (m != null) synchronized {
      val rows = m.shuffleReadMetrics.recordsRead + m.inputMetrics.recordsRead
      stageMaxRows(t.stageId) =
        math.max(stageMaxRows.getOrElse(t.stageId, 0L), rows)
      stagePeakMem(t.stageId) =
        math.max(stagePeakMem.getOrElse(t.stageId, 0L), m.peakExecutionMemory)
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    if (on) {
      val i = s.stageInfo
      val m = i.taskMetrics
      def g(f: org.apache.spark.executor.TaskMetrics => Long) =
        if (m == null) 0L else f(m)
      synchronized {
        stages += new Stage(i.stageId, i.name,
          i.details, i.submissionTime.getOrElse(0L),
          i.completionTime.getOrElse(0L), i.numTasks,
          g(_.executorCpuTime), g(_.executorRunTime),
          g(_.shuffleWriteMetrics.bytesWritten),
          g(_.shuffleReadMetrics.totalBytesRead),
          g(x => x.memoryBytesSpilled + x.diskBytesSpilled),
          g(_.inputMetrics.recordsRead), g(_.outputMetrics.recordsWritten))
      }
    }

  /** Innermost engine frame of a stage's call site, e.g.
    * `graft.streaming.ReportStream$.appendDedup` — names the program
    * layer that issued the job.
    */
  private def callSite(details: String): String =
    details.split("\n").iterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.perfbench"))
      .map(_.takeWhile(_ != '('))
      .getOrElse("")

  /** Output path of a file-writing execution, read from its formatted
    * physical plan; empty for any other execution.
    */
  private def writePath(plan: String): String = {
    val at = plan.indexOf(") Execute InsertIntoHadoopFsRelationCommand")
    if (at < 0) ""
    else "Arguments: ([^,\\s]+)".r.findFirstMatchIn(plan.substring(at))
      .map(_.group(1)).getOrElse("?")
  }

  /** What an SQL execution did: the sink or dead-letter write, another
    * file write (artifact and lake commits), or a driver-returning
    * action named by Spark (`collect`, `isEmpty`, `count`, ...).
    */
  private def execClass(ex: Exec): String =
    if (ex.output.endsWith("/fact_report")) "write.fact_report"
    else if (ex.output.endsWith("/dead_letter")) "write.dead_letter"
    else if (ex.output.nonEmpty) "write.other"
    else "action." + (if (ex.name.nonEmpty) ex.name else "other")

  /** Spans under `ops`: SQL executions, jobs and stages. An execution
    * or job belongs to the operation whose batch id it carries, or else
    * to the operation whose interval contains its start.
    */
  def spans(ops: Seq[Span]): Seq[Span] = synchronized {
    val out = mutable.ArrayBuffer.empty[Span]
    var next = ops.map(_.id).maxOption.getOrElse(0L) + 1
    val byBatch = ops.filter(_.kind == "batch").map(o => o.trace -> o).toMap
    def opAt(t: Long): Option[Span] =
      ops.find(o => o.startMs <= t && t <= o.endMs)
    val execSpan = mutable.Map.empty[Long, Span]
    val execJobs = jobs.values.groupBy(_.exec)
    def execOp(ex: Exec): Option[Span] =
      execJobs.getOrElse(ex.id, Nil).flatMap(j => byBatch.get(j.batch))
        .headOption.orElse(opAt(ex.start))
    // roots first, so a nested execution finds its parent's span
    execs.values.toSeq.sortBy(e => (e.id != e.root, e.id)).foreach { ex =>
      val parent = if (ex.root != ex.id) execSpan.get(ex.root) else None
      val op = parent.map(p => ops.find(_.trace == p.trace).get)
        .orElse(execOp(ex))
      op.foreach { o =>
        val sp = Span(next, parent.getOrElse(o).id, o.trace, "sql",
          execClass(ex), ex.start.toDouble,
          (if (ex.end > 0) ex.end else ex.start).toDouble,
          Map("exec_id" -> ex.id, "action" -> ex.name))
        next += 1
        execSpan(ex.id) = sp
        out += sp
      }
    }
    val stageById = stages.groupBy(_.id)
    jobs.values.foreach { j =>
      val parent = execSpan.get(j.exec)
        .orElse(byBatch.get(j.batch)).orElse(opAt(j.start))
      parent.foreach { p =>
        val st = j.stages.flatMap(s => stageById.getOrElse(s, Nil))
        val site = st.map(s => callSite(s.details)).find(_.nonEmpty)
          .getOrElse("")
        val js = Span(next, p.id, p.trace, "job", site,
          j.start.toDouble, (if (j.end > 0) j.end else j.start).toDouble,
          Map("job_id" -> j.id, "stages" -> st.size))
        next += 1
        out += js
        st.foreach { s =>
          out += Span(next, js.id, p.trace, "stage", s.name.take(80),
            s.start.toDouble, s.end.toDouble, Map(
              "tasks" -> s.tasks, "cpu_ms" -> s.cpuNs / 1e6,
              "run_ms" -> s.runMs, "shuffle_write_bytes" -> s.shuffleWrite,
              "shuffle_read_bytes" -> s.shuffleRead, "spill_bytes" -> s.spill,
              "input_rows" -> s.inputRows, "output_rows" -> s.outputRows,
              "max_task_rows" -> stageMaxRows.getOrElse(s.id, 0L),
              "peak_task_mem_bytes" -> stagePeakMem.getOrElse(s.id, 0L)))
          next += 1
        }
      }
    }
    out.toSeq
  }
}
