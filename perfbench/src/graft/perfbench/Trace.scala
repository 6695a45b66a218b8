package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One traced interval. `cause` is the id of the span that caused it
  * (empty for the run span). Times are epoch milliseconds. */
final case class Span(id: String, kind: String, start: Long, end: Long,
                      cause: String)

/** Spans kept in memory for one traced run and written out at the end. */
final class Spans {
  private val spans = mutable.ArrayBuffer.empty[Span]
  def add(s: Span): Unit = synchronized { spans += s }
  def all: Seq[Span] = synchronized { spans.toList }

  /** Per span kind: count, summed duration and summed self time (the
    * duration minus the part of it that child spans cover). */
  def selfTimes: Map[String, (Int, Long, Long)] = {
    val byCause = all.groupBy(_.cause)
    all.groupBy(_.kind).map { case (kind, ss) =>
      val dur = ss.map(s => s.end - s.start).sum
      val self = ss.map { s =>
        val kids = byCause.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var upTo = s.start
        kids.foreach { case (a, b) =>
          val from = math.max(a, upTo)
          if (b > from) { covered += b - from; upTo = b }
        }
        (s.end - s.start) - covered
      }.sum
      kind -> (ss.size, dur, self)
    }
  }
}

/** Scheduler-side counters and job/stage spans from Spark's public
  * listener events. A job's cause is its micro-batch (from the
  * `streaming.sql.batchId` job property) or the benchmark span named
  * by the [[ExecTrace.SpanProperty]] local property. */
final class ExecTrace(spans: Spans) extends SparkListener {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  private val jobStart = mutable.HashMap.empty[Int, (Long, String)]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val p = Option(e.properties)
    val cause = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
      .map(b => s"batch-$b")
      .orElse(p.flatMap(x => Option(x.getProperty(ExecTrace.SpanProperty))))
      .getOrElse("")
    jobStart(e.jobId) = (e.time, cause)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, cause) =>
      spans.add(Span(s"job-${e.jobId}", "job", t0, e.time, cause))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += 1
      val i = e.stageInfo
      for (t0 <- i.submissionTime; t1 <- i.completionTime)
        spans.add(Span(s"stage-${i.stageId}.${i.attemptNumber()}", "stage",
          t0, t1, stageJob.get(i.stageId).fold("")(j => s"job-$j")))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      taskRunMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

object ExecTrace {
  /** Local property naming the benchmark span a job belongs to. */
  val SpanProperty = "perfbench.span"
}
