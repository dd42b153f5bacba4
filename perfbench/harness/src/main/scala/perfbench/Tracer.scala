package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval in milliseconds since the run's clock
  * origin. `parent` is empty when the parent is found later, by time
  * containment inside the same op. */
final case class Span(id: String, name: String, start: Double, end: Double, op: Int, parent: String)

/** Keeps spans in memory until the run writes them out. The harness adds
  * its own spans around each layer call; `Tracer` adds the listener
  * spans. Clock: epoch milliseconds minus `origin`, the same scale as the
  * Spark listener timestamps. */
final class SpanLog(val origin: Long) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  private val buf = mutable.ArrayBuffer[Span]()
  private var next = 0

  /** Milliseconds since `origin` for a `System.nanoTime` reading. */
  def ms(nano: Long): Double = (epoch0 - origin) + (nano - nano0) / 1e6
  def msEpoch(epochMs: Long): Double = (epochMs - origin).toDouble

  def add(name: String, start: Double, end: Double, op: Int, parent: String,
      id: String = ""): String = synchronized {
    val sid = if (id.nonEmpty) id else { next += 1; s"h$next" }
    buf += Span(sid, name, start, end, op, parent)
    sid
  }

  def spans: Seq[Span] = synchronized(buf.toList)
}

/** Per-op layer counters, summed over the op's tasks and events. */
final class OpCounters {
  var jobs, stages, tasks, emptyTasks, actions = 0L
  var runMs, cpuNs, gcMs, deserMs = 0L
  var shuffleWrite, shuffleRead, spillMem, spillDisk, input = 0L
  var storagePeak = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "empty_tasks" -> emptyTasks,
    "actions" -> actions, "run_ms" -> runMs, "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
    "deser_ms" -> deserMs,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_mem_bytes" -> spillMem, "spill_disk_bytes" -> spillDisk,
    "input_bytes" -> input, "storage_peak_bytes" -> storagePeak)
}

/** The traced run's listeners: scheduler, task and block-manager events
  * from the SparkListener bus, and Catalyst phase timings from each
  * QueryExecution's planning tracker. Events are attributed to `op`,
  * which the harness sets only after the bus has drained. */
final class Tracer(log: SpanLog) extends SparkListener with QueryExecutionListener {
  @volatile private var op: Int = -1
  private val counters = mutable.LinkedHashMap[Int, OpCounters]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageJob = mutable.Map[Int, Int]()
  private val blocks = mutable.Map[String, Long]()
  private var stored = 0L
  private var catalystSpans = 0

  private def cur: OpCounters = counters.getOrElseUpdate(op, new OpCounters)

  /** Start attributing events to `id`; its storage peak starts at the
    * bytes already held. */
  def begin(id: Int): Unit = synchronized {
    op = id
    cur.storagePeak = stored
  }

  def countersByOp: Map[Int, Map[String, Any]] =
    synchronized(counters.map { case (k, c) => k -> c.toMap }.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    cur.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { t0 =>
      log.add("sched.job", log.msEpoch(t0), log.msEpoch(e.time), op, "", s"j${e.jobId}")
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    cur.stages += 1
    for (s <- si.submissionTime; c <- si.completionTime) {
      val parent = stageJob.get(si.stageId).map(j => s"j$j").getOrElse("")
      log.add("exec.stage", log.msEpoch(s), log.msEpoch(c), op, parent,
        s"s${si.stageId}.${si.attemptNumber()}")
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = cur
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.deserMs += m.executorDeserializeTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spillMem += m.memoryBytesSpilled
      c.spillDisk += m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      val wrote = m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
      if (read == 0 && wrote == 0) c.emptyTasks += 1
    }
  }

  /** RDD blocks only: cached Datasets and loop checkpoints. Broadcast
    * pieces are not part of the storage layer the harness measures. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = b.blockId.name
      stored -= blocks.getOrElse(key, 0L)
      if (b.storageLevel.isValid) {
        val size = b.memSize + b.diskSize
        blocks(key) = size
        stored += size
      } else blocks.remove(key)
      val c = cur
      if (stored > c.storagePeak) c.storagePeak = stored
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    cur.actions += 1
    qe.tracker.phases.foreach { case (phase, p) =>
      catalystSpans += 1
      log.add(s"catalyst.$phase", log.msEpoch(p.startTimeMs), log.msEpoch(p.endTimeMs), op, "",
        s"c$catalystSpans")
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}
