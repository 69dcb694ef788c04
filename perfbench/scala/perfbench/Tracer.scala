package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span recorder plus Spark and streaming listener counts, all
  * through public APIs.
  *
  * Listener drain: events reach listeners asynchronously. Instead of the
  * `private[spark]` `listenerBus.waitUntilEmpty`, [[drain]] runs one tiny
  * sentinel job under its own job group and blocks until this listener
  * has seen that job's end event. The bus delivers each queue's events in
  * order, so every event posted before the sentinel (task ends, job ends
  * of the op just finished) has been delivered by then.
  *
  * Attribution: jobs and tasks are charged to the op that was current
  * when the job started. Job groups tag each op, but staged streams run
  * their micro-batches under their own job group, so the current op is
  * the attribution key that covers both. */
final class Tracer(sc: SparkContext) {
  import Tracer.Span

  final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
    var runMs = 0L; var cpuNs = 0L; var schedDelayMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var batches = 0L; var batchMs = 0L; var droppedByWatermark = 0L
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "failed_tasks" -> failedTasks, "task_run_ms" -> runMs,
      "task_cpu_ms" -> cpuNs / 1e6, "scheduler_delay_ms" -> schedDelayMs,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "spill_bytes" -> spill, "batches" -> batches, "batch_ms" -> batchMs,
      "rows_dropped_by_watermark" -> droppedByWatermark)
  }

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.LinkedHashMap.empty[String, Counts]
  private val jobOp = mutable.HashMap.empty[Int, String]
  private val stageOp = mutable.HashMap.empty[Int, String]
  private val streamOp = mutable.HashMap.empty[java.util.UUID, String]
  private var streamsOpen = 0
  @volatile private var currentOp: String = "setup"
  private var sentinelSeq = 0
  private val sentinelsSeen = mutable.HashSet.empty[String]

  private def countsOf(op: String): Counts = counts.getOrElseUpdate(op, new Counts)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).getOrElse("")
      if (group.startsWith("sentinel-")) jobOp(e.jobId) = group
      else {
        jobOp(e.jobId) = currentOp
        e.stageIds.foreach(s => stageOp(s) = currentOp)
        countsOf(currentOp).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobOp.remove(e.jobId).filter(_.startsWith("sentinel-")).foreach { g =>
        sentinelsSeen += g
        Tracer.this.notifyAll()
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(op => countsOf(op).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageOp.get(e.stageId).foreach { op =>
        val c = countsOf(op)
        c.tasks += 1
        if (!e.taskInfo.successful) c.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          // the Spark UI's definition of scheduler delay
          val busy = m.executorRunTime + m.executorDeserializeTime +
            m.resultSerializationTime + e.taskInfo.gettingResultTime
          c.schedDelayMs += math.max(0L, e.taskInfo.duration - busy)
        }
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized { streamOp(e.runId) = currentOp; streamsOpen += 1 }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        streamOp.get(p.runId).foreach { op =>
          val c = countsOf(op)
          c.batches += 1
          c.batchMs += p.batchDuration
          c.droppedByWatermark += p.stateOperators.map(_.numRowsDroppedByWatermark).sum
        }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Tracer.this.synchronized { streamsOpen -= 1; Tracer.this.notifyAll() }
  }

  def beginOp(op: String, desc: String): Unit = {
    currentOp = op
    sc.setJobGroup(op, desc, interruptOnCancel = false)
  }

  def endOp(): Unit = {
    sc.clearJobGroup()
    currentOp = "between"
  }

  /** Block until every listener event posted so far has been delivered:
    * a sentinel job's end for the Spark bus, and no stream left
    * unterminated for the streaming bus. Bounded, so a lost event fails
    * the run instead of hanging it. */
  def drain(timeoutMs: Long = 30000L): Unit = {
    sentinelSeq += 1
    val group = s"sentinel-$sentinelSeq"
    sc.setJobGroup(group, "listener drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      while (!sentinelsSeen(group) || streamsOpen > 0) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0) sys.error(s"listener drain timed out after $timeoutMs ms")
        wait(left)
      }
    }
  }

  def span[T](parent: Long, op: String, name: String, layer: String)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id)
    finally synchronized { spans += Span(id, parent, op, name, layer, t0, System.nanoTime()) }
  }

  def countsFor(op: String): Map[String, Any] = synchronized {
    counts.get(op).map(_.toMap).getOrElse(new Counts().toMap)
  }

  def spanRecords: Seq[Map[String, Any]] = synchronized {
    spans.toSeq.sortBy(_.startNs).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, op: String, name: String,
                        layer: String, startNs: Long, endNs: Long)
}
