package nhlbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  FileSystem, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Filesystem call counts for the local filesystem. The traced run
  * installs [[CountingLocalFs]] as `fs.file.impl`; every engine call
  * that lists, stats, opens, creates, renames or deletes a path goes
  * through it. Byte counts come from Hadoop's own per-scheme
  * statistics. */
object FsCounters {
  val names: Seq[String] = Seq("list_ops", "status_ops", "open_ops",
    "create_ops", "rename_ops", "delete_ops", "bytes_read", "bytes_written")
  private[nhlbench] val list, status, open, create, rename, delete =
    new AtomicLong

  private def schemeStats = {
    import scala.jdk.CollectionConverters._
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
  }

  def snapshot(): Array[Long] = Array(list.get, status.get, open.get,
    create.get, rename.get, delete.get,
    schemeStats.map(_.getBytesRead).sum,
    schemeStats.map(_.getBytesWritten).sum)
}

/** The stock local filesystem with call counting (see [[FsCounters]]). */
class CountingLocalFs extends LocalFileSystem {
  private val c = FsCounters
  override def listStatus(f: Path): Array[FileStatus] = {
    c.list.incrementAndGet(); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path)
      : RemoteIterator[LocatedFileStatus] = {
    c.list.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def listStatusIterator(p: Path): RemoteIterator[FileStatus] = {
    c.list.incrementAndGet(); super.listStatusIterator(p)
  }
  override def getFileStatus(f: Path): FileStatus = {
    c.status.incrementAndGet(); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    c.open.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    c.create.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    c.rename.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    c.delete.incrementAndGet(); super.delete(f, recursive)
  }
}

/** Spark work counters, kept per span: every job carries the id of the
  * innermost open span as a local property, and stage and task events
  * are charged to their job's span. */
object Work {
  val names: Seq[String] = Seq("jobs", "stages", "tasks", "failed_tasks",
    "executor_cpu_ms", "gc_ms", "sched_wait_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes",
    "checkpoint_jobs")
  private val index = names.zipWithIndex.toMap
  def apply(name: String): Int = index(name)
}

final class WorkListener extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val perSpan = mutable.Map.empty[Int, Array[Double]]
  /** (span, startMs, endMs) of every finished job. */
  val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]

  private def add(span: Int, k: String, v: Double): Unit =
    perSpan.getOrElseUpdate(span, new Array[Double](Work.names.size))(
      Work(k)) += v

  private def spanOfStage(stage: Int): Int =
    stageJob.get(stage).flatMap(jobSpan.get).getOrElse(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)
    jobSpan(e.jobId) = span
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageJob(_) = e.jobId)
    add(span, "jobs", 1)
    // iterative operators truncate lineage once per round through
    // graft.ops.Iter; the stages of the jobs it submits are named after
    // that call site
    if (e.stageInfos.exists(_.name.contains("Iter.scala")))
      add(span, "checkpoint_jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += ((jobSpan.getOrElse(e.jobId, 0),
      jobStart.getOrElse(e.jobId, e.time), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { add(spanOfStage(e.stageInfo.stageId), "stages", 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = spanOfStage(e.stageId)
    add(span, "tasks", 1)
    if (!e.taskInfo.successful) add(span, "failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(span, "executor_cpu_ms", m.executorCpuTime / 1e6)
      add(span, "gc_ms", m.jvmGCTime.toDouble)
      add(span, "shuffle_read_bytes",
        (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead).toDouble)
      add(span, "shuffle_write_bytes",
        m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(span, "spill_bytes",
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(span, "input_bytes", m.inputMetrics.bytesRead.toDouble)
      val ti = e.taskInfo
      val delay = (ti.finishTime - ti.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime
         else 0L)
      add(span, "sched_wait_ms", math.max(0L, delay).toDouble)
    }
  }

  def counters(span: Int): Array[Double] = synchronized {
    perSpan.get(span).map(_.clone).getOrElse(new Array(Work.names.size))
  }
}

/** One timed call at a layer boundary. `op` is the op the span belongs
  * to; `parent` is 0 for an op's root span. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Long, startNs: Long, var endNs: Long = 0L,
    var fsStart: Array[Long] = null, var fsEnd: Array[Long] = null) {
  def ms: Double = (endNs - startNs) / 1e6
  def fs(i: Int): Long = fsEnd(i) - fsStart(i)
}

/** Spans and counters of the traced run. Spans are kept in memory and
  * written out when the run ends. Tracing is switched per op: ops with
  * `active = false` record nothing, so a traced run can time the same
  * ops with and without tracing. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener: Option[WorkListener] =
    if (enabled) { val l = new WorkListener; sc.addSparkListener(l); Some(l) }
    else None
  var active = false
  private var current: Option[Span] = None
  private var opId = 0

  def beginOp(id: Int, traced: Boolean): Unit = {
    opId = id; active = enabled && traced
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.size + 1, name, current.map(_.id).getOrElse(0),
        opId, System.currentTimeMillis(), System.nanoTime())
      s.fsStart = FsCounters.snapshot()
      spans += s
      val outer = current
      current = Some(s)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.fsEnd = FsCounters.snapshot()
        current = outer
        sc.setLocalProperty(Tracer.SpanKey,
          outer.map(_.id.toString).orNull)
      }
    }

  /** Spark counters of `s` and every span below it. */
  def work(s: Span): Array[Double] = {
    val l = listener.get
    val kids = spans.groupBy(_.parent)
    def go(x: Span): Array[Double] = {
      val own = l.counters(x.id)
      kids.getOrElse(x.id, Nil).foreach { k =>
        val c = go(k); c.indices.foreach(i => own(i) += c(i))
      }
      own
    }
    go(s)
  }

  def selfMs(s: Span): Double =
    s.ms - spans.filter(_.parent == s.id).map(_.ms).sum

  /** Op time during which no Spark job was running. */
  def driverMs(op: Span): Double = {
    val end = op.startMs + math.round(op.ms)
    val ids = spans.filter(_.op == op.op).map(_.id).toSet
    val iv = listener.get.jobs.filter(j => ids.contains(j._1))
      .map { case (_, a, b) => (math.max(a, op.startMs), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = Long.MinValue
    iv.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) covered += b - from
      reach = math.max(reach, b)
    }
    math.max(0.0, op.ms - covered)
  }

  def drain(): Unit =
    if (enabled) org.apache.spark.NhlbenchBridge.drainListenerBus(sc)

  def writeSpans(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      out.println(Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startMs, "dur_ms" -> s.ms, "self_ms" -> selfMs(s))))
    } finally out.close()
  }
}

object Tracer {
  val SpanKey = "nhlbench.span"
}
