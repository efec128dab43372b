package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: `trace` groups the spans of one query or batch,
  * `parent` is the span that caused it (-1 for the root). Times are epoch
  * microseconds, so the benchmark's timers and listener timestamps share a clock. */
final case class Span(id: Long, trace: Long, parent: Long, name: String,
                      startUs: Long, endUs: Long)

/** Counters of the Spark jobs launched under one tag. */
final class JobCounts {
  var jobs = 0; var stages = 0; var tasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  /** (start ms, end ms, call site of the job's last stage) per job. */
  val spans = mutable.ArrayBuffer.empty[(Long, Long, String)]
}

/** Listener side of the traced run. The benchmark sets the local property
  * [[Tag]] before each build and each execution; every job carries the
  * property it was submitted under, and stages and tasks inherit their
  * job's tag. Events arrive on Spark's listener thread; the benchmark reads
  * the counts only after [[org.apache.spark.perfbench.BusDrain]]. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val Tag = "perfbench.tag"
  private val ExecutionId = SQLExecution.EXECUTION_ID_KEY
  /** Call site (short form, then the long form's frames) of each running
    * SQL execution, taken on the thread that started it. */
  private val execSite = new ConcurrentHashMap[Long, String]()
  private val jobTag = new ConcurrentHashMap[Int, String]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String)]()
  private val byTag = new ConcurrentHashMap[String, JobCounts]()
  /** Catalyst phases (name, start ms, end ms) of each finished execution,
    * in arrival order, with the function name of the action. */
  private val executions = new java.util.concurrent.ConcurrentLinkedQueue[
    (String, Seq[(String, Long, Long)])]()

  private def counts(tag: String): JobCounts =
    byTag.computeIfAbsent(tag, _ => new JobCounts)

  def take(tag: String): JobCounts = Option(byTag.remove(tag)).getOrElse(new JobCounts)

  /** The benchmark's tag, or for micro-batch jobs the streaming query id. */
  private def tagOf(p: Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(Tag))
      .orElse(Option(x.getProperty("sql.streaming.queryId")).map(streamTag)))

  def streamTag(queryId: String): String = s"stream/$queryId"

  /** Summed duration of each Catalyst phase over the given executions. */
  def phaseTotals(execs: Seq[(String, Seq[(String, Long, Long)])]): Map[String, Double] =
    execs.flatMap(_._2).groupBy(_._1).map { case (p, xs) =>
      p -> xs.map(x => (x._3 - x._2).toDouble).sum }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    tagOf(e.properties).foreach { t =>
      jobTag.put(e.jobId, t)
      e.stageIds.foreach(stageTag.put(_, t))
      // the long call site names the first frame outside Spark: the
      // program's file and package, which the layer filters match on.
      // Adaptive execution submits a DataFrame action's jobs from a
      // thread pool, where no program frame is on the stack, so a job of
      // a SQL execution takes the call site of the execution instead.
      val site = Option(e.properties).flatMap(p => Option(p.getProperty(ExecutionId)))
        .flatMap(id => Option(execSite.get(id.toLong)))
        .getOrElse(e.stageInfos.sortBy(-_.stageId).headOption
          .map(last => last.name + "\n" + last.details).getOrElse(""))
      jobStart.put(e.jobId, (e.time, site))
      counts(t).synchronized { counts(t).jobs += 1 }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobTag.remove(e.jobId)).foreach { t =>
      Option(jobStart.remove(e.jobId)).foreach { case (t0, site) =>
        val c = counts(t)
        c.synchronized { c.spans += ((t0, e.time, site)) }
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageTag.get(e.stageInfo.stageId)).foreach { t =>
      val c = counts(t)
      c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageTag.get(e.stageId)).foreach { t =>
      val c = counts(t)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      execSite.put(x.executionId, x.description + "\n" + x.details)
    case x: SparkListenerSQLExecutionEnd => execSite.remove(x.executionId)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    executions.add(funcName -> phases(qe))

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    executions.add(funcName -> phases(qe))

  private def phases(qe: QueryExecution): Seq[(String, Long, Long)] =
    qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }

  def drainExecutions(): Seq[(String, Seq[(String, Long, Long)])] =
    Iterator.continually(executions.poll()).takeWhile(_ != null).toSeq
}

/** Spans recorded by the benchmark's own code, kept in memory and written
  * out when the run ends. */
final class SpanLog {
  private val nanoToEpochUs =
    System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  private var next = 0L
  val spans = mutable.ArrayBuffer.empty[Span]

  def us(nanoTime: Long): Long = nanoToEpochUs + nanoTime / 1000

  def add(trace: Long, parent: Long, name: String, startUs: Long, endUs: Long): Long = {
    next += 1
    spans += Span(next, trace, parent, name, startUs, endUs)
    next
  }

  def write(f: java.io.File): Unit = {
    val w = new java.io.PrintWriter(f)
    val rec = new Records(w)
    spans.foreach { s =>
      rec.emit("span", "id" -> s.id, "trace" -> s.trace, "parent" -> s.parent,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs)
    }
    w.close()
  }

  /** Job spans under `parent`, tagged with the layer their call site
    * belongs to. */
  def addJobs(trace: Long, parent: Long, c: JobCounts): Unit =
    c.spans.foreach { case (t0, t1, site) =>
      add(trace, parent, s"job:${Layers.ofSite(site)}", t0 * 1000, t1 * 1000)
    }
}

/** Which program layer a build-time job's call site belongs to. */
object Layers {
  def ofSite(site: String): String = {
    val short = site.takeWhile(_ != '\n')
    val firstUserFrame = site.linesIterator.find(_.contains("graft.")).getOrElse("")
    if (short.contains("Tables.scala")) "Tables"
    else if (firstUserFrame.contains("graft.similarity.") ||
             firstUserFrame.contains("graft.functions.ModelArgmin")) "similarity"
    else "other"
  }
}
