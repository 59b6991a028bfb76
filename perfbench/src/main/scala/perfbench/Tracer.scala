package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One Spark task as the listener saw it. Times are epoch ms. */
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long,
                         gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** One Spark job with the tasks of its stages. */
final case class JobRec(id: Int, submitMs: Long, endMs: Long, pool: String,
                        tasks: Seq[TaskRec]) {
  def wallMs: Long = endMs - submitMs
  def execRunMs: Long = tasks.map(_.runMs).sum
  def slowestTaskMs: Long = if (tasks.isEmpty) 0L else tasks.map(t => t.finishMs - t.launchMs).max
  /** Submission to first task launch: time the job queued for slots. */
  def schedDelayMs: Long = if (tasks.isEmpty) 0L else tasks.map(_.launchMs).min - submitMs
  def shuffleWriteBytes: Long = tasks.map(_.shuffleWriteBytes).sum
  def spillBytes: Long = tasks.map(_.spillBytes).sum
  def isBackground: Boolean = pool == graft.Graft.BackgroundPool
}

/** A timed public call. Times are epoch ms; `wallMs` is the precise
  * nanoTime wall.
  */
final case class Span(id: Long, name: String, startMs: Long, endMs: Long, wallMs: Double)

/** Collects Spark job and task events into [[JobRec]]s. Registered only
  * in a traced run.
  */
final class JobListener extends SparkListener {
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val open = mutable.HashMap.empty[Int, (Long, String, mutable.ArrayBuffer[TaskRec])]
  private val done = mutable.ArrayBuffer.empty[JobRec]

  def jobStarted(jobId: Int, timeMs: Long, stageIds: Seq[Int], pool: String): Unit = synchronized {
    stageIds.foreach(s => stageToJob(s) = jobId)
    open(jobId) = (timeMs, pool, mutable.ArrayBuffer.empty)
  }

  def taskEnded(t: TaskRec): Unit = synchronized {
    stageToJob.get(t.stageId).flatMap(open.get).foreach(_._3 += t)
  }

  def jobEnded(jobId: Int, timeMs: Long): Unit = synchronized {
    open.remove(jobId).foreach { case (start, pool, tasks) =>
      done += JobRec(jobId, start, timeMs, pool, tasks.toSeq)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarted(e.jobId, e.time, e.stageIds,
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.scheduler.pool")))
        .getOrElse("default"))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = Option(e.taskMetrics)
    taskEnded(TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.map(_.executorRunTime).getOrElse(0L), m.map(_.jvmGCTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnded(e.jobId, e.time)

  def jobs: Seq[JobRec] = synchronized(done.toSeq.sortBy(_.submitMs))
}

/** Records a span around each timed public call. Spans stay in memory
  * until the run writes them out.
  */
final class SpanRecorder {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)

  def record[T](name: String)(f: => T): T = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val wall = (System.nanoTime() - t0) / 1e6
      val s = Span(nextId.getAndIncrement(), name, startMs, System.currentTimeMillis(), wall)
      synchronized(spans += s)
    }
  }

  def all: Seq[Span] = synchronized(spans.toSeq)
}

object Tracer {

  /** Give each foreground job to the span whose window contains its
    * submission; when windows nest or overlap, the latest-started span
    * wins. Jobs in the background pool, and jobs no span contains, go
    * to the returned `unattributed` list (the absorb layer's own work).
    */
  def attribute(spans: Seq[Span], jobs: Seq[JobRec]): (Map[Long, Seq[JobRec]], Seq[JobRec]) = {
    val bySpan = mutable.HashMap.empty[Long, mutable.ArrayBuffer[JobRec]]
    val loose = mutable.ArrayBuffer.empty[JobRec]
    val ordered = spans.sortBy(_.startMs)
    jobs.foreach { j =>
      val owner =
        if (j.isBackground) None
        else ordered.reverseIterator.find(s => s.startMs <= j.submitMs && j.submitMs <= s.endMs)
      owner match {
        case Some(s) => bySpan.getOrElseUpdate(s.id, mutable.ArrayBuffer.empty) += j
        case None => loose += j
      }
    }
    (bySpan.view.mapValues(_.toSeq).toMap, loose.toSeq)
  }

  /** The span trace as JSON: the run's stamp, one object per span with
    * its jobs, their stages and tasks as children, then the unattributed
    * jobs. `stamp` is a JSON object.
    */
  def toJson(stamp: String, spans: Seq[Span], jobs: Seq[JobRec]): String = {
    val (bySpan, loose) = attribute(spans, jobs)
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    def jobJson(j: JobRec): String = {
      val stages = j.tasks.groupBy(_.stageId).toSeq.sortBy(_._1).map { case (sid, ts) =>
        val tasks = ts.map(t => s"[${t.launchMs},${t.finishMs},${t.runMs},${t.gcMs}]").mkString(",")
        s"""{"stage":$sid,"tasks":[$tasks]}"""
      }.mkString(",")
      s"""{"job":${j.id},"pool":"${j.pool}","submit_ms":${j.submitMs},""" +
        s""""end_ms":${j.endMs},"stages":[$stages]}"""
    }
    val spanLines = spans.sortBy(_.startMs).map { s =>
      val children = bySpan.getOrElse(s.id, Nil).map(jobJson).mkString(",")
      s"""{"span":${s.id},"name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""wall_ms":${num(s.wallMs)},"jobs":[$children]}"""
    }
    s"""{"stamp":$stamp,"spans":[\n${spanLines.mkString(",\n")}\n],"unattributed_jobs":[\n""" +
      s"""${loose.map(jobJson).mkString(",\n")}\n]}\n"""
  }
}
