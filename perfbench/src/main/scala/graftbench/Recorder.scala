package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spans around the benchmark's timed calls. Each span tags the jobs it
  * submits through two local properties, which Spark copies into every job's
  * properties (broadcast threads included), so the recorder can attribute a
  * job to the span and the op that caused it.
  */
final class Spans(sc: SparkContext) {
  private val recs = mutable.ArrayBuffer[Map[String, Any]]()

  /** Runs `f` as one span; returns its result (or the failure) and its wall
    * seconds. Nothing else happens inside the span.
    */
  def apply[A](op: String, name: String, parent: String = null)(
      f: => A): (Either[Throwable, A], Double) = {
    val id = s"$op#${recs.size}"
    sc.setLocalProperty(Spans.OpKey, op)
    sc.setLocalProperty(Spans.SpanKey, if (parent != null) parent else id)
    sc.setLocalProperty(Spans.SubKey, if (parent != null) id else null)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(f) catch { case t: Throwable => Left(t) }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    sc.setLocalProperty(Spans.OpKey, null)
    sc.setLocalProperty(Spans.SpanKey, null)
    sc.setLocalProperty(Spans.SubKey, null)
    recs.synchronized {
      recs += Map("id" -> id, "op" -> op, "name" -> name, "parent" -> parent,
        "start_ms" -> startMs, "end_ms" -> endMs, "wall_s" -> wall,
        "ok" -> res.isRight)
    }
    (res, wall)
  }

  /** Records a span whose interval was measured by the caller (a pass that
    * encloses child spans).
    */
  def enclose(id: String, op: String, startMs: Long, endMs: Long,
      wall: Double): Unit = recs.synchronized {
    recs += Map("id" -> id, "op" -> op, "name" -> op, "parent" -> null,
      "start_ms" -> startMs, "end_ms" -> endMs, "wall_s" -> wall, "ok" -> true)
  }

  def nextId(op: String): String = s"$op#${recs.size}"
  def all: Seq[Map[String, Any]] = recs.synchronized(recs.toList)
}

object Spans {
  val OpKey = "graftbench.op"
  val SpanKey = "graftbench.span"
  val SubKey = "graftbench.sub"
}

/** Per-job record: the call site Spark assigned at submission plus the task
  * metrics of the stages the job ran.
  */
final class JobRec(val id: Int, val op: String, val span: String,
    val sub: String, val site: String, val sqlSite: String,
    val startMs: Long) {
  var endMs = -1L
  var ok = false
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L

  def toMap: Map[String, Any] = Map(
    "job" -> id, "op" -> op, "span" -> span, "sub" -> sub, "site" -> site,
    "sql_site" -> sqlSite, "start_ms" -> startMs, "end_ms" -> endMs,
    "ok" -> ok, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill)
}

/** The traced run's listener. A job's call site is the name of its result
  * stage ("count at PageRank.scala:146"): Spark names it after the first
  * frame outside its own packages, so engine helpers that live in Spark's
  * package are skipped. Jobs submitted from Spark's broadcast threads carry
  * no user frame; for those the SQL execution's call site is kept as well.
  */
final class Recorder extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val sqlSites = mutable.HashMap[Long, String]()
  val taskFailures = new AtomicLong
  val stageResubmits = new AtomicLong
  val accumulatorErrors = new AtomicLong

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { sqlSites(s.executionId) = s.description }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String): String = props.map(_.getProperty(k)).orNull
    val site =
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val sqlSite = Option(prop("spark.sql.execution.id"))
      .flatMap(x => sqlSites.get(x.toLong)).orNull
    jobs(e.jobId) = new JobRec(e.jobId, prop(Spans.OpKey), prop(Spans.SpanKey),
      prop(Spans.SubKey), site, sqlSite, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (e.stageInfo.attemptNumber() > 0) stageResubmits.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val j = stageJob.get(e.stageId).flatMap(jobs.get)
    val failed = e.reason != Success
    if (failed) taskFailures.incrementAndGet()
    j.foreach { r =>
      r.tasks += 1
      if (failed) r.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.spill += m.diskBytesSpilled
      }
    }
  }

  def jobRecords: Seq[Map[String, Any]] = synchronized(jobs.values.map(_.toMap).toList)

  def counters: Map[String, Long] = Map(
    "task_failures" -> taskFailures.get,
    "stage_resubmits" -> stageResubmits.get,
    "accumulator_update_errors" -> accumulatorErrors.get)
}

object Recorder {

  /** Registers the listener and a log4j2 appender that counts the
    * DAGScheduler's "Failed to update accumulator" errors; returns the
    * recorder and a function that detaches both.
    */
  def install(sc: SparkContext): (Recorder, () => Unit) = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property

    val rec = new Recorder
    sc.addSparkListener(rec)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("graftbench-accumulator-errors", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage
        if (m != null && m.getFormattedMessage.contains(AccumulatorError))
          rec.accumulatorErrors.incrementAndGet()
      }
    }
    app.start()
    val cfg = ctx.getConfiguration
    cfg.addAppender(app)
    cfg.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
    val detach = () => {
      org.apache.spark.graftbench.BusDrain(sc)
      sc.removeSparkListener(rec)
      cfg.getRootLogger.removeAppender(app.getName)
      ctx.updateLoggers()
      app.stop()
    }
    (rec, detach)
  }

  val AccumulatorError = "Failed to update accumulator"
}
