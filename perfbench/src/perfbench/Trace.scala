package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._

/** The local filesystem with per-operation counters. Traced runs
  * install it as `fs.file.impl`, so every `file://` call graft makes,
  * on the driver or in a local-mode task, is counted; byte counts come
  * from Hadoop's own per-scheme statistics. Untraced runs use the
  * stock implementation. */
class CountingFs extends org.apache.hadoop.fs.LocalFileSystem {
  import CountingFs._
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    lists.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def open(f: Path, bufferSize: Int) = {
    opens.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable) = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable) = {
    creates.incrementAndGet()
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet(); super.delete(f, recursive)
  }
}

object CountingFs {
  private val lists, opens, creates, renames, deletes = new AtomicLong()

  /** (list, open, create, rename, delete, bytes written) so far. */
  def snapshot(): Array[Long] = {
    val written = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
    Array(lists.get, opens.get, creates.get, renames.get, deletes.get, written)
  }
  val List = 0; val Open = 1; val Create = 2; val Rename = 3; val Delete = 4
  val Written = 5
}

/** Spark job and task totals, keyed by job, for attribution to spans. */
final class JobListener extends SparkListener {
  final class Acc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var inBytes = 0L
    var inRecords = 0L; var shuffleWrite = 0L
    var spill = 0L; var gcMs = 0L
  }
  final case class Job(id: Int, startMs: Long, var endMs: Long, acc: Acc)

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, e.time, new Acc)
    // a stage runs in the first job that lists it; later jobs skip it
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      val a = j.acc
      a.tasks += 1; a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
    }
  }
  def snapshot(): Seq[Job] = synchronized(jobs.values.toSeq)
}

/** Spans around each call the benchmark makes into a layer: name,
  * start, end, parent span and run id. Kept in memory; written out
  * once, after the run. Disabled tracers cost one branch per call. */
final class Tracer(val runId: String) {
  final case class Span(id: Int, name: String, parent: Int,
      t0: Long, t1: Long, fs0: Array[Long], fs1: Array[Long])

  @volatile var on = false
  private val done = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  // nanoTime → epoch ms, to line spans up with Spark's job timestamps
  private val wallMs0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def epochMs(ns: Long): Double = wallMs0 + (ns - ns0) / 1e6

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val fs0 = CountingFs.snapshot()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        done += Span(id, name, parent, t0, t1, fs0, CountingFs.snapshot())
      }
    }

  def spans: Seq[Span] = done.toSeq

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try done.foreach { s =>
      w.println(s"""{"run":"$runId","id":${s.id},"name":"${s.name}",""" +
        s""""parent":${s.parent},"start_ms":${epochMs(s.t0)},""" +
        s""""end_ms":${epochMs(s.t1)}}""")
    } finally w.close()
  }
}

/** One span with the Spark jobs and filesystem calls it caused,
  * children included. */
final case class SpanStats(name: String, top: Boolean,
    wallS: Double, selfS: Double, gapS: Double, jobs: Int, tasks: Long,
    taskS: Double, cpuS: Double, inBytes: Long, inRecords: Long, shuffleBytes: Long,
    spillBytes: Long, gcS: Double, fs: Array[Long])

object LayerReport {
  /** Attribute each job to the innermost span open when it was
    * submitted (Spark stamps jobs in whole milliseconds, hence the
    * 1 ms slack), then total every span over its subtree. */
  def apply(t: Tracer, jobs: Seq[JobListener#Job]): Seq[SpanStats] = {
    val spans = t.spans
    val iv = spans.map(s => s.id -> (t.epochMs(s.t0), t.epochMs(s.t1))).toMap
    val owner = jobs.flatMap { j =>
      val c = spans.filter { s =>
        val (a, b) = iv(s.id); j.startMs >= a - 1 && j.startMs < b }
      if (c.isEmpty) None else Some(c.maxBy(s => iv(s.id)._1).id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val children = spans.groupBy(_.parent)
    val subtree = mutable.Map[Int, Seq[JobListener#Job]]()
    def jobsUnder(id: Int): Seq[JobListener#Job] = subtree.getOrElseUpdate(id,
      owner.getOrElse(id, Nil) ++
        children.getOrElse(id, Nil).flatMap(c => jobsUnder(c.id)))
    spans.map { s =>
      val (a, b) = iv(s.id)
      val js = jobsUnder(s.id)
      val kids = children.getOrElse(s.id, Nil).map(c => iv(c.id))
      def sum(f: JobListener#Acc => Long) = js.map(j => f(j.acc)).sum
      SpanStats(s.name, s.parent < 0, (b - a) / 1e3,
        Stats.selfTime((a, b), kids) / 1e3,
        Stats.selfTime((a, b),
          js.map(j => (j.startMs.toDouble, j.endMs.toDouble))) / 1e3,
        js.length, sum(_.tasks), sum(_.runMs) / 1e3, sum(_.cpuNs) / 1e9, sum(_.inBytes),
        sum(_.inRecords), sum(_.shuffleWrite), sum(_.spill), sum(_.gcMs) / 1e3,
        s.fs1.zip(s.fs0).map { case (x, y) => x - y })
    }
  }
}
