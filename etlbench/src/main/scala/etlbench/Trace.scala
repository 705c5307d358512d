package etlbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** One clock for every record the benchmark writes: wall-clock epoch
  * nanoseconds, advanced by `System.nanoTime` so intervals keep
  * sub-millisecond resolution while staying comparable with the
  * scheduler's epoch-millisecond event times. */
object Clock {
  private val anchorEpochNs = System.currentTimeMillis() * 1000000L
  private val anchorNano = System.nanoTime()
  def nowNs(): Long = anchorEpochNs + (System.nanoTime() - anchorNano)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time this process has used on all its threads, in nanoseconds. */
  def cpuNs(): Long = os.getProcessCpuTime
}

/** In-memory span recorder. A span is recorded around each call the
  * benchmark makes into a public function of the engine; spans nest
  * through a per-thread stack, and every span of one operation carries
  * that operation's id. Spans are written out when the run ends. */
final class Spans {
  final case class Span(id: Int, parent: Int, op: Int, name: String, t0: Long, t1: Long)

  private val done = ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0
  @volatile var enabled = false
  @volatile var op = -1

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get().headOption.getOrElse(0)
      stack.set(id :: stack.get())
      val t0 = Clock.nowNs()
      try body
      finally {
        val t1 = Clock.nowNs()
        stack.set(stack.get().tail)
        synchronized { done += Span(id, parent, op, name, t0, t1) }
      }
    }

  def json: Seq[String] = synchronized(done.toSeq).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","t0":${s.t0},"t1":${s.t1}}"""
  }
}

/** Scheduler counters per job, attributed to the benchmark's operation
  * through the job group the benchmark sets around each operation.
  * Task metrics are summed per job; the job's own start and end times
  * are kept so that driver time can be taken against the UNION of job
  * intervals (jobs of one operation may overlap). Block updates give the
  * peak storage the block managers hold. */
final class JobRecorder extends SparkListener {
  final class Job(val id: Int, val group: String, val t0Ms: Long) {
    var t1Ms = 0L; var stages = 0; var tasks = 0
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var inputRows = 0L; var inputBytes = 0L; var outputBytes = 0L
  }
  private val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()
  private val stageToJob = scala.collection.mutable.HashMap[Int, Job]()
  private val blocks = scala.collection.mutable.HashMap[String, Long]()
  private var storageNow = 0L
  var storagePeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new Job(e.jobId, group, e.time)
    j.stages = e.stageIds.size
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageToJob(s) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1Ms = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageToJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.runMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inputRows += m.inputMetrics.recordsRead
      j.inputBytes += m.inputMetrics.bytesRead
      j.outputBytes += m.outputMetrics.bytesWritten
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val key = s"${info.blockManagerId}/${info.blockId}"
    val size = info.memSize + info.diskSize
    storageNow += size - blocks.getOrElse(key, 0L)
    if (size == 0) blocks.remove(key) else blocks(key) = size
    storagePeak = math.max(storagePeak, storageNow)
  }

  def json: Seq[String] = synchronized(jobs.values.toSeq).map { j =>
    s"""{"job":${j.id},"group":"${j.group}","t0":${j.t0Ms * 1000000L},"t1":${j.t1Ms * 1000000L},""" +
      s""""stages":${j.stages},"tasks":${j.tasks},"cpu_ns":${j.cpuNs},"run_ms":${j.runMs},""" +
      s""""gc_ms":${j.gcMs},"shuffle_read":${j.shuffleRead},"shuffle_write":${j.shuffleWrite},""" +
      s""""spill":${j.spill},"input_rows":${j.inputRows},"input_bytes":${j.inputBytes},""" +
      s""""output_bytes":${j.outputBytes}}"""
  }
}

/** Analysis, optimization and planning time of every query execution,
  * from `QueryExecution.tracker`. Attributed to an operation by the
  * epoch time at which its analysis started. */
final class PlanRecorder extends QueryExecutionListener {
  private val rows = ArrayBuffer[String]()

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Double = phases.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
    val t0 = phases.values.map(_.startTimeMs).minOption.getOrElse(0L) * 1000000L
    synchronized {
      rows += s"""{"t0":$t0,"analysis_ms":${ms("analysis")},"optimizer_ms":${ms("optimization")},"planning_ms":${ms("planning")}}"""
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def json: Seq[String] = synchronized(rows.toSeq)
}
