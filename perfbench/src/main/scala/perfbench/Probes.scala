package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.pipeline.LogStore
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, LocatedFileStatus, Path,
  RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.scheduler._
import org.apache.hadoop.util.Progressable

/** Counts the metadata and data calls the program makes on `file://`.
  * Hadoop's local-filesystem statistics report `readOps = writeOps = 0`,
  * so the counts are taken here instead; the class is installed through
  * `spark.hadoop.fs.file.impl` in traced runs only. Counting is on while
  * [[FsCounts.enabled]] is set, so a traced run can interleave untraced
  * stretches for the overhead estimate.
  */
class CountingFileSystem extends LocalFileSystem {
  import FsCounts._

  // one count per directory listed: FileSystem.listFiles lists every
  // directory through listLocatedStatus, and listStatusIterator goes
  // through listStatus ([[FsCounts.selfCheck]] verifies both)
  override def listStatus(f: Path): Array[FileStatus] = { hit(List); super.listStatus(f) }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    hit(List); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = { hit(Stat); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int) = { hit(Open); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable) = {
    hit(Create)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable) = {
    hit(Create)
    super.createNonRecursive(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { hit(Rename); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { hit(Delete); super.delete(f, recursive) }
}

object FsCounts {
  val List = 0; val Stat = 1; val Open = 2; val Create = 3; val Rename = 4
  val Delete = 5
  val Names: Vector[String] = Vector("list", "stat", "open", "create", "rename", "delete")
  @volatile var enabled = false
  private val counts = Array.fill(Names.size)(new LongAdder)
  def hit(kind: Int): Unit = if (enabled) counts(kind).increment()
  def snapshot(): Vector[Long] = counts.map(_.sum()).toVector

  /** Make each kind of call the counts cover once, through every entry
    * point, in an empty directory `dir` of `fs`; return the calls that
    * did not count exactly once under their own kind (none when the
    * counts are complete and not doubled). Calls of other kinds a call
    * makes inside Hadoop (open and createNonRecursive stat the file) are
    * real filesystem calls and count under their kind. */
  def selfCheck(fs: FileSystem, dir: Path): Seq[String] = {
    def drain[A](it: RemoteIterator[A]): Unit = while (it.hasNext) it.next()
    val a = new Path(dir, "a")
    val b = new Path(dir, "b")
    val c = new Path(dir, "c")
    def once(call: String, kind: Int)(body: => Unit): Option[String] = {
      val before = snapshot()
      body
      val delta = snapshot().zip(before).map { case (x, y) => x - y }
      if (delta(kind) == 1) None
      else Some(s"$call counted " + Names.zip(delta).filter(_._2 != 0)
        .map { case (n, d) => s"$d $n" }.mkString("[", ", ", "]"))
    }
    val was = enabled
    enabled = true
    try {
      fs.mkdirs(dir)
      Seq(
        once("create", Create)(fs.create(a).close()),
        once("createNonRecursive", Create)(fs.createNonRecursive(c, true, 4096,
          fs.getDefaultReplication(c), fs.getDefaultBlockSize(c), null).close()),
        once("getFileStatus", Stat)(fs.getFileStatus(a)),
        once("open", Open)(fs.open(a).close()),
        once("openFile", Open)(fs.openFile(a).build().get().close()),
        once("listStatus", List)(fs.listStatus(dir)),
        once("listStatusIterator", List)(drain(fs.listStatusIterator(dir))),
        once("listLocatedStatus", List)(drain(fs.listLocatedStatus(dir))),
        once("listFiles", List)(drain(fs.listFiles(dir, true))),
        once("rename", Rename)(fs.rename(a, b)),
        once("delete", Delete)(fs.delete(b, false))).flatten
    } finally enabled = was
  }
}

/** A [[LogStore]] that delegates to the store the program would pick and,
  * while `timing`, counts and times publishes and counts lost ones. Passed
  * through `ManifestTable.withLogStore`. `onPublish` (destination, won,
  * nanoTime) lets a workload observe the instant a commit became visible
  * (cdc_stream's freshness end point).
  */
class ObservedLogStore extends LogStore {
  @volatile var onPublish: (Path, Boolean, Long) => Unit = (_, _, _) => ()
  val publishes = new AtomicLong
  val lost = new AtomicLong
  val publishNanos = new AtomicLong
  @volatile var timing = false
  override def name: String = "observed"
  override def putIfAbsent(f: FileSystem, tmp: Path, dst: Path): Boolean = {
    val t0 = System.nanoTime()
    val won = LogStore.forScheme(f.getScheme).putIfAbsent(f, tmp, dst)
    val t1 = System.nanoTime()
    if (timing) {
      publishes.incrementAndGet()
      publishNanos.addAndGet(t1 - t0)
      if (!won) lost.incrementAndGet()
    }
    onPublish(dst, won, t1)
    won
  }
  def snapshot(): (Long, Long, Long) = (publishes.get, lost.get, publishNanos.get)
}

/** The Spark work the program ran, per job. Jobs are labelled by the
  * `perfbench.op` local property the client thread sets around each
  * operation, or by the streaming batch id for jobs of a stream; tasks
  * count toward the job that owns their stage. Reports select jobs by
  * label and by start time (a traced run interleaves untraced stretches).
  */
final class SparkCounters extends SparkListener {
  import SparkCounters._
  private val byJob = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val pending = new AtomicLong

  private def labelOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(OpKey))
      .orElse(Option(p.getProperty("streaming.sql.batchId")).map("batch:" + _)))
      .getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = new Job(labelOf(e.properties), e.time)
    pending.incrementAndGet()
    byJob.put(e.jobId, j)
    e.stageIds.foreach(stageJob.put(_, j))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(byJob.get(e.jobId)).foreach(_.end = e.time)
    pending.decrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val m = e.taskMetrics
      j.tasks.increment()
      if (m != null) {
        j.runMs.add(m.executorRunTime)
        j.cpuNs.add(m.executorCpuTime)
        j.gcMs.add(m.jvmGCTime)
        j.inBytes.add(m.inputMetrics.bytesRead)
        j.shufBytes.add(m.shuffleWriteMetrics.bytesWritten)
        j.outBytes.add(m.outputMetrics.bytesWritten)
      }
    }

  /** Finished jobs whose label and start time (ms) pass the filters. */
  def jobs(label: String => Boolean, started: Long => Boolean): Seq[Job] =
    byJob.values().asScala.toSeq.filter(j => j.end >= 0 && label(j.label) && started(j.start))

  /** Wait until every started job has delivered its end event (the
    * listener bus is asynchronous). */
  def drain(timeoutMs: Long = 10000): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (pending.get > 0 && System.currentTimeMillis() < until) Thread.sleep(5)
    Thread.sleep(50)
  }
}

object SparkCounters {
  val OpKey = "perfbench.op"

  final class Job(val label: String, val start: Long) {
    @volatile var end = -1L
    val tasks, runMs, cpuNs, gcMs, inBytes, shufBytes, outBytes = new LongAdder
  }

  /** Sum of `f` over jobs. */
  def total(jobs: Seq[Job])(f: Job => LongAdder): Double = jobs.map(f(_).sum.toDouble).sum
  def intervals(jobs: Seq[Job]): Seq[(Long, Long)] = jobs.map(j => (j.start, j.end))
}

/** Milliseconds during [t0, t1] covered by at least one job interval. */
object Intervals {
  def covered(ivs: Iterable[(Long, Long)], t0: Long, t1: Long): Long = {
    val clipped = ivs.iterator
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.toVector.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += math.max(0L, curB - curA); curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + math.max(0L, curB - curA)
  }
}

/** In-memory spans, written out when the run ends. A span is a call the
  * benchmark made into one of the program's layers; `parent` links it to
  * the span that caused it (the client operation).
  */
final class Spans {
  import Spans.Span
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var next = 1
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  @volatile var on = false

  def apply[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = synchronized { val i = next; next += 1; i }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { buf += Span(id, name, parent, t0, t1) }
      }
    }

  /** Self time per span name, in ms: duration minus the part covered by
    * the span's children. */
  def selfMs: Map[String, Double] = {
    val spans = synchronized(buf.toList)
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val covered = Intervals.covered(
          kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)), s.startNs, s.endNs)
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }
}

object Spans {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)
}
