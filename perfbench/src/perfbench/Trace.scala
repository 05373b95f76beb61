package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch nanoseconds. `op` is the operation
  * the span belongs to; `parent` is 0 for an operation's root span. */
final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
                 val startNs: Long) {
  @volatile var endNs: Long = -1L
  def ms: Double = (endNs - startNs) / 1e6
}

/** A Spark job seen by [[JobListener]], with its tasks' metrics summed. */
final class JobRec(val id: Int, val op: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0L; var cpuNs = 0L; var shuffleWriteBytes = 0L
  var recordsRead = 0L; var recordsWritten = 0L; var bytesWritten = 0L
}

/** A finished Spark stage: its interval, executor CPU, and whether it
  * reads the shuffle output of parent stages (a scan stage does not). */
final case class StageRec(id: Int, op: Int, startMs: Long, endMs: Long, cpuNs: Long,
                          postShuffle: Boolean)

/** A finished query's planning time. */
final case class QueryRec(startMs: Long, planMs: Double)

/** In-memory span recorder. Spans are opened only by the single client
  * thread, around its calls into each module; file-system callbacks from
  * any thread add leaf events to the current operation. Disabled, every
  * method is a pass-through. */
final class Tracer(val enabled: Boolean) {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + offsetNs

  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  @volatile private var stack: List[Span] = Nil
  @volatile private var client: Thread = null
  @volatile var op: Int = 0

  /** Per-operation counters: (op, name) -> summed value. */
  val counters = new ConcurrentHashMap[(Int, String), java.lang.Double]()

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      client = Thread.currentThread()
      val s = new Span(ids.incrementAndGet(), stack.headOption.fold(0)(_.id), op, name, now())
      stack = s :: stack
      try f
      finally { s.endNs = now(); stack = stack.tail; spans.add(s) }
    }

  def count(name: String, v: Double): Unit = count(op, name, v)

  def count(op: Int, name: String, v: Double): Unit =
    if (enabled) counters.merge((op, name), v, (a, b) => a + b)

  /** A call observed inside the program (file system): a child span of
    * the client's current span when it ran on the client thread, and a
    * counter of summed time either way. */
  def observed(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      count(name + "_ms", (endNs - startNs) / 1e6)
      if (Thread.currentThread() eq client) stack.headOption.foreach { p =>
        val s = new Span(ids.incrementAndGet(), p.id, op, name, startNs)
        s.endNs = endNs
        spans.add(s)
      }
    }

  /** Name of the client's innermost open span ("" when none). */
  def top: String = stack.headOption.fold("")(_.name)

  def counter(op: Int, name: String): Double =
    Option(counters.get((op, name))).fold(0.0)(_.doubleValue)
}

object Tracer {
  @volatile var current: Tracer = new Tracer(false)
}

/** Job and stage intervals and task metrics, tagged with the operation id
  * the client set as a local property. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(JobListener.OpKey))).fold(0)(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, new JobRec(e.jobId, opOf(e.properties), e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageOp.put(e.stageInfo.stageId, opOf(e.properties))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    stages.add(StageRec(i.stageId, stageOp.getOrDefault(i.stageId, 0),
      i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L),
      m.fold(0L)(_.executorCpuTime), i.parentIds.nonEmpty))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.recordsRead += m.inputMetrics.recordsRead
          j.recordsWritten += m.outputMetrics.recordsWritten
          j.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  def all: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)

  def allStages: Seq[StageRec] = stages.asScala.toSeq.sortBy(_.id)
}

object JobListener { val OpKey = "perfbench.op" }

/** Planning time of every query (analysis + optimization + physical
  * planning, from the query's own tracker). Installed
  * through `spark.sql.queryExecutionListeners`, so every session, the
  * engine's cloned reader sessions included, reports into one queue. */
final class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      PlanListener.queries.add(QueryRec(phases.map(_.startTimeMs).min,
        phases.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object PlanListener {
  val queries = new ConcurrentLinkedQueue[QueryRec]()
}

/** The engine's local file system with timed listing and bucket-manifest
  * access, installed as `fs.file.impl` in traced runs only. */
class TracingFileSystem extends graft.sources.NioLocalFileSystem {
  private def isManifest(p: Path): Boolean = {
    val n = p.getName
    n == graft.sources.BucketInfo.FileName || n == graft.sources.BucketInfo.ReferenceFileName
  }

  private def timed[T](name: String)(f: => T): T = {
    val tr = Tracer.current
    val t0 = tr.now()
    try f finally tr.observed(name, t0, tr.now())
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val r = timed("sources.bucket_reader.list")(super.listStatus(f))
    Tracer.current.count("sources.bucket_reader.files_listed", r.count(_.isFile).toDouble)
    r
  }

  override def getFileStatus(f: Path): FileStatus =
    if (isManifest(f)) timed("sources.bucket_info")(super.getFileStatus(f))
    else super.getFileStatus(f)

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    if (isManifest(f)) timed("sources.bucket_info")(super.open(f, bufferSize))
    else super.open(f, bufferSize)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    if (f.getName.endsWith(".parquet")) Tracer.current.count(Tracer.current.top + ".files_written", 1)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean =
    timed("sources.bucket_fs.rename")(super.rename(src, dst))
}
