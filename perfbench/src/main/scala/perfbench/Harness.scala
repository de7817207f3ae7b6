package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import graft.pipeline.ManifestTable
import org.apache.spark.sql.SparkSession

/** What one benchmark run needs: the session, the seeded inputs, the
  * timing window, and — in a traced run — the probes. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Boolean, val work: String, val sizes: Sizes) {
  val dataDir = s"$work/data"
  val result = new Result
  val spans = new Spans
  val counters: Option[SparkCounters] =
    if (trace) Some(new SparkCounters) else None
  val cores: Int = spark.sparkContext.defaultParallelism
  /** Every commit publishes through this store (see [[ObservedLogStore]]). */
  val store = new ObservedLogStore
  val window = new Window(store)

  counters.foreach(spark.sparkContext.addSparkListener)

  private var setupMs = 0.0

  /** Run one set-up step; its wall time counts toward `setup_s`. */
  def timedSetup[A](step: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally {
      val ms = (System.nanoTime() - t0) / 1e6
      setupMs += ms
      result.notes += f"set-up $step: $ms%.0f ms"
    }
  }

  /** Report `setup_s`: every set-up step so far. */
  def setupDone(): Unit = result.e2e("setup_s") = (setupMs / 1000.0, "s")

  /** How many units of work (cycles, batches, refreshes) the timed window
    * runs: `--seconds` over the nominal length of one unit on the
    * reference host, at least `min`. The amount of work is fixed by the
    * arguments, not by the program's speed, so a faster program does the
    * same work in less time, and what grows with the work done (heap,
    * history) does not follow its speed. */
  def units(nominalS: Double, min: Int): Int =
    math.max(min, math.round(seconds / nominalS).toInt)

  /** Spark jobs with a matching label that started while traced. */
  def tracedJobs(label: String => Boolean): Seq[SparkCounters.Job] = {
    val c = counters.get
    c.drain()
    c.jobs(label, t => tracedStretches.exists { case (a, b) => t >= a && t <= b })
  }

  /** Run `body` as operation `label`: its Spark jobs carry the label. */
  def labelled[A](label: String)(body: => A): A =
    if (!trace) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SparkCounters.OpKey)
      sc.setLocalProperty(SparkCounters.OpKey, label)
      try body finally sc.setLocalProperty(SparkCounters.OpKey, prev)
    }

  /** Whether the i-th cycle, batch or refresh of a traced run is traced:
    * the pattern untraced, traced, traced, untraced repeats, so a steady
    * drift over the run cancels out of the overhead estimate. */
  def tracedAt(i: Int): Boolean = trace && (i % 4 == 1 || i % 4 == 2)

  /** [start, end] ms of the stretches the probes were on. */
  private val tracedStretches = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Turn the probes on or off (a traced run interleaves untraced
    * stretches to estimate the tracing overhead). */
  def probes(on: Boolean): Unit = {
    val now = System.currentTimeMillis()
    if (on && !window.on) tracedStretches += ((now, Long.MaxValue))
    if (!on && window.on) tracedStretches(tracedStretches.size - 1) =
      (tracedStretches.last._1, now)
    FsCounts.enabled = on
    spans.on = on
    store.timing = on
    window.on = on
  }
}

/** Metrics, checks and the run's bookkeeping, written as one JSON file
  * that `run.py` turns into the benchmark's output line. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Workload-specific figures, printed and kept in the trace file. */
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    if (!ok || !checks.exists(_._1 == name))
      checks += ((name, ok, if (ok) "" else detail))
    ok
  }
  /** An operation attempted; `ok` false when it threw or failed its check. */
  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
  def correct: Boolean = checks.forall(_._2) && failed == 0
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile with at least ten samples beyond it: the
    * value with exactly ten samples above it, and the percentile that
    * value stands at. None below twenty samples, where that percentile
    * would not be above the median. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 20) None
    else {
      val s = xs.sorted
      Some((s(s.size - 11), 100.0 * (s.size - 10) / s.size))
    }

  def geoMean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)
}

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process so far, in ms. */
  def cpuMs: Double = os.getProcessCpuTime / 1e6

  /** Heap in use after a full collection, in MB. */
  def heapLiveMb: Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Probe deltas per operation label over the traced stretches of a run:
  * filesystem calls, log publishes, wall intervals (for the driver-gap
  * measure, against the label's Spark job intervals). */
final class Window(store: ObservedLogStore) {
  final class Agg {
    var n = 0L
    var fs: Vector[Long] = Vector.fill(FsCounts.Names.size)(0L)
    var publishes, lost, publishNs = 0L
    var wallMs = 0.0
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  val by = mutable.LinkedHashMap.empty[String, Agg]
  @volatile var on = false
  /** Units of work (refreshes, client operations, micro-batches). */
  var units = 0L

  def apply[A](label: String)(body: => A): A =
    if (!on) body
    else {
      val f0 = FsCounts.snapshot()
      val p0 = store.snapshot()
      val a = System.currentTimeMillis()
      try body
      finally {
        val b = System.currentTimeMillis()
        val f1 = FsCounts.snapshot()
        val p1 = store.snapshot()
        val g = by.getOrElseUpdate(label, new Agg)
        g.n += 1
        g.fs = g.fs.indices.map(i => g.fs(i) + f1(i) - f0(i)).toVector
        g.publishes += p1._1 - p0._1; g.lost += p1._2 - p0._2
        g.publishNs += p1._3 - p0._3
        g.wallMs += b - a
        g.intervals += ((a, b))
      }
    }
}

object Layer {
  /** The per-layer figures every workload reports, per unit of work
    * (a refresh, a client operation, a micro-batch). Spark work is
    * attributed through job labels; `labels` selects the traced ones. */
  def report(ctx: Ctx, labels: String => Boolean, filesLive: Int): Unit = {
    val w = ctx.window
    val jobs = ctx.tracedJobs(labels)
    def sum(f: SparkCounters.Job => java.util.concurrent.atomic.LongAdder): Double =
      SparkCounters.total(jobs)(f)
    val n = math.max(1L, w.units).toDouble
    val aggs = w.by.values.toSeq
    val L = ctx.result.layer
    L("spark.jobs_per_op") = (jobs.size / n, "count")
    L("spark.tasks_per_op") = (sum(_.tasks) / n, "count")
    L("spark.executor_run_ms_per_op") = (sum(_.runMs) / n, "ms")
    L("spark.executor_cpu_ms_per_op") = (sum(_.cpuNs) / 1e6 / n, "ms")
    L("spark.jvm_gc_ms_per_op") = (sum(_.gcMs) / n, "ms")
    L("spark.input_mb_per_op") = (sum(_.inBytes) / 1048576.0 / n, "MB")
    L("spark.shuffle_write_mb_per_op") = (sum(_.shufBytes) / 1048576.0 / n, "MB")
    L("spark.output_mb_per_op") = (sum(_.outBytes) / 1048576.0 / n, "MB")
    L("spark.driver_gap_ms_per_op") = (aggs.map(g =>
      driverGapMs(SparkCounters.intervals(jobs), g.intervals)).sum / n, "ms")
    FsCounts.Names.zipWithIndex.foreach { case (k, i) =>
      L(s"fs.${k}_per_op") = (aggs.map(_.fs(i)).sum / n, "count")
    }
    val pubs = aggs.map(_.publishes).sum
    L("LogStore.publishes_per_op") = (pubs / n, "count")
    L("LogStore.publish_ms") =
      (if (pubs == 0) 0.0 else aggs.map(_.publishNs).sum / 1e6 / pubs, "ms")
    L("LogStore.lost") = (aggs.map(_.lost).sum.toDouble, "count")
    L("ManifestTable.files_live") = (filesLive.toDouble, "count")
  }

  /** Wall ms of `intervals` during which none of `jobs` ran: Catalyst
    * planning plus driver-side commit work. */
  def driverGapMs(jobs: Seq[(Long, Long)], intervals: Iterable[(Long, Long)]): Double =
    intervals.map { case (a, b) => (b - a) - Intervals.covered(jobs, a, b) }.sum.toDouble


  /** Data files of the current version of a table. */
  def filesLive(spark: SparkSession, path: String): Int =
    ManifestTable.read(spark, path).inputFiles.length
}
