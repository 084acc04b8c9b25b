package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Maps a Spark call site ("count at QualityChecks.scala:45") to the
  * engine module that issued the job. The map is built from the source
  * tree: every file under `graft/<module>/` belongs to `<module>`, and a
  * top-level `graft/<Name>.scala` is its own module (`Tables`).
  */
final class ModuleMap(val byFile: Map[String, String]) {
  private val Site = """.* at ([A-Za-z0-9_$]+\.scala):\d+""".r
  def moduleOf(callSite: String): Option[String] = callSite match {
    case Site(file) => byFile.get(file)
    case _ => None
  }
  def modules: Seq[String] = byFile.values.toSeq.distinct.sorted
}

object ModuleMap {
  def fromSources(graftDir: File): ModuleMap = {
    val entries = Option(graftDir.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap { f =>
      if (f.isDirectory) scalaFiles(f).map(_.getName -> f.getName)
      else if (f.getName.endsWith(".scala")) Seq(f.getName -> f.getName.stripSuffix(".scala"))
      else Nil
    }
    val dups = entries.groupBy(_._1).collect { case (n, vs) if vs.map(_._2).distinct.size > 1 => n }
    require(dups.isEmpty, s"file names shared by two modules: ${dups.mkString(", ")}")
    new ModuleMap(entries.toMap)
  }
  private def scalaFiles(d: File): Seq[File] =
    Option(d.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
}

final case class Job(id: Int, start: Long, var end: Long, module: String)
final case class Stage(id: Int, submitted: Long, var completed: Long)

/** Everything recorded while one traced op ran. */
final class OpTrace {
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  var tasks = 0L
  var emptyTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var executions = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
}

/** The benchmark's own listeners: a SparkListener for jobs, stages and
  * tasks and a QueryExecutionListener for Catalyst phase times. Both
  * write into the current op's [[OpTrace]]; ops run one at a time and
  * the listener bus is drained after each, so every event lands on the
  * op that caused it.
  */
final class Tracer(modules: ModuleMap, defaultModule: String)
    extends SparkListener with QueryExecutionListener {
  @volatile var current: OpTrace = new OpTrace

  /** Module of each SQL execution, from its call site. AQE runs a
    * query's stage jobs on a thread pool, so their own call sites name no
    * engine frame; they inherit their execution's module. */
  private val executionModule = mutable.Map.empty[String, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      modules.moduleOf(s.description).foreach(executionModule(s.executionId.toString) = _)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
    val module = modules.moduleOf(site)
      .orElse(execution.flatMap(executionModule.get))
      .getOrElse(defaultModule)
    current.jobs(e.jobId) = Job(e.jobId, e.time, e.time, module)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    current.jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    current.stages(i.stageId) = Stage(i.stageId,
      i.submissionTime.getOrElse(System.currentTimeMillis()), 0L)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = current.stages.getOrElseUpdate(i.stageId, Stage(i.stageId,
      i.submissionTime.getOrElse(0L), 0L))
    s.completed = i.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = current
    c.tasks += 1
    c.taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0) c.emptyTasks += 1
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    val c = current
    c.executions += 1
    c.analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
    c.optimizationMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
    c.planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  /** Hands back the finished op's record and starts a fresh one. */
  def take(): OpTrace = synchronized { val t = current; current = new OpTrace; t }
}
