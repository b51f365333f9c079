package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One Spark job: its id, where it was submitted from, and how it ended. */
final case class Job(id: Int, description: String, result: String) {
  def succeeded: Boolean = result == Job.Succeeded
}

object Job {
  val Succeeded = "succeeded"
}

/** Cumulative Spark work counters, fed by a listener. A span reads them at
  * its start and end; the difference is the work done inside the span.
  * Jobs are kept one by one: a span holds the ids of the jobs started inside
  * it, and whether each succeeded is read when the run ends, because a job
  * that Spark cancels (an adaptive-execution stage no longer needed) can
  * end after the span that started it.
  */
final class Counters extends SparkListener {
  val stages, tasks, taskFailures = new AtomicLong
  val taskCpuNs, taskMs, shuffleReadB, shuffleWriteB, spillB = new AtomicLong
  val bytesWritten, recordsWritten = new AtomicLong
  /** max/median task duration of each completed stage, in completion order. */
  val stageRatios = ArrayBuffer.empty[Double]
  private val stageTaskMs = mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]
  /** Job ids in start order, and each job's latest state. */
  private val jobOrder = ArrayBuffer.empty[Int]
  private val jobById = mutable.Map.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // the result stage's call site, the first library frames of its stack,
    // and the SQL execution that submitted the job
    val result = e.stageInfos.maxByOption(_.stageId)
    val frames = result.toSeq.flatMap(_.details.linesIterator.filter(_.contains("graft.")).take(3))
    val execution = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val description = (result.map(_.name).toSeq ++ frames ++ execution.map("sql " + _))
      .mkString(" | ")
    synchronized {
      jobOrder += e.jobId
      jobById(e.jobId) = Job(e.jobId, description, "running")
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach { j =>
      jobById(e.jobId) = j.copy(result = e.jobResult match {
        case JobSucceeded => Job.Succeeded
        case other => other.toString.take(300)
      })
    }
  }

  /** Ids of the jobs started between two snapshots. */
  def jobIds(from: Snapshot, until: Snapshot): Vector[Int] =
    synchronized(jobOrder.slice(from.nJobs, until.nJobs).toVector)

  /** Every job seen so far, by id. */
  def jobs: Map[Int, Job] = synchronized(jobById.toMap)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (!e.taskInfo.successful) taskFailures.incrementAndGet()
    taskMs.addAndGet(e.taskInfo.duration)
    synchronized {
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    synchronized {
      val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
      val ms = stageTaskMs.remove(key).getOrElse(ArrayBuffer.empty).sorted
      if (ms.nonEmpty) {
        val median = math.max(ms(ms.length / 2), 1L)
        stageRatios += ms.last.toDouble / median
      }
    }
  }

  def snapshot(): Snapshot = synchronized {
    Snapshot(Vector(stages.get, tasks.get, taskFailures.get, taskCpuNs.get,
      taskMs.get, shuffleReadB.get, shuffleWriteB.get, spillB.get, bytesWritten.get,
      recordsWritten.get), stageRatios.length, jobOrder.length)
  }
}

/** Counter values at one instant; `nRatios` and `nJobs` are the numbers of
  * stage ratios and jobs recorded so far.
  */
final case class Snapshot(v: Vector[Long], nRatios: Int, nJobs: Int)

object Snapshot {
  val names = Vector("stages", "tasks", "task_failures", "task_cpu_ns",
    "task_ms", "shuffle_read_b", "shuffle_write_b", "spill_b", "bytes_written",
    "records_written")
}

/** One traced interval: a pass, a layer call, or a phase (build / plan / exec)
  * of a layer call. `counts` are the counter deltas over the interval;
  * `jobIds` the jobs started in it.
  */
final case class Span(id: Int, parent: Int, pass: Int, layer: String, name: String,
    phase: String, startNs: Long, endNs: Long, counts: Vector[Long], jobIds: Vector[Int],
    maxTaskRatio: Double, rowsOut: Long = 0, filesWritten: Long = 0) {
  def seconds: Double = (endNs - startNs) / 1e9
  def count(n: String): Long = counts(Snapshot.names.indexOf(n))
}

/** Records spans in memory when enabled; otherwise runs bodies untouched. */
final class Tracer(sc: SparkContext, counters: Option[Counters]) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List(-1)
  private var nextId = 0
  var pass = 0
  /** Time spent in span bookkeeping: bus drains, counter reads, file counts. */
  var overheadNs = 0L

  def enabled: Boolean = counters.isDefined

  def span[T](layer: String, name: String, phase: String)(body: => T): T =
    counters match {
      case None => body
      case Some(c) =>
        val b0 = System.nanoTime()
        org.apache.spark.graftbench.ListenerBusDrain(sc)
        val s0 = c.snapshot()
        val t0 = System.nanoTime()
        overheadNs += t0 - b0
        val id = nextId
        nextId += 1
        val parent = stack.head
        stack = id :: stack
        try body
        finally {
          org.apache.spark.graftbench.ListenerBusDrain(sc)
          val t1 = System.nanoTime()
          val s1 = c.snapshot()
          stack = stack.tail
          val ratios = c.synchronized(c.stageRatios.slice(s0.nRatios, s1.nRatios))
          spans += Span(id, parent, pass, layer, name, phase, t0, t1,
            s1.v.zip(s0.v).map { case (a, b) => a - b }, c.jobIds(s0, s1),
            if (ratios.isEmpty) 0.0 else ratios.max)
          overheadNs += System.nanoTime() - t1
        }
    }

  /** Attaches what a call produced to the span that just closed. */
  def annotateLast(rowsOut: Long, filesWritten: Long): Unit =
    if (enabled && spans.nonEmpty)
      spans(spans.length - 1) = spans.last.copy(rowsOut = rowsOut, filesWritten = filesWritten)
}
