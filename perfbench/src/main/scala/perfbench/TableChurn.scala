package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.Tables
import graft.pipeline.ManifestTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** table_churn: one client runs a seeded mix of writes and reads against
  * one `ManifestTable` (closed loop). Each cycle runs, in a seeded order,
  * 2 appends, 1 merge, 1 deletion-vector delete, 2 latest-snapshot
  * aggregates, 2 point lookups and 2 time-travel reads; every write is
  * followed by `compactIfFragmented`, which keeps the file count steady.
  * The window runs a fixed number of cycles after a set-up of two rounds
  * of the same writes (the history) and one read of every kind.
  *
  * The benchmark keeps a model of the table (key → price in cents, and the
  * (count, sum) of every committed version) and checks every read against
  * it, outside the timed region.
  */
object TableChurn {
  val Cycle: Seq[String] = Seq("append", "append", "merge", "delete", "read",
    "read", "lookup", "lookup", "time_travel", "time_travel")
  val Writes = Set("append", "merge", "delete")
  val BaseFiles = 16
  val MaxFiles = 32
  /** Nominal seconds of one cycle on the reference host (4 cores): the
    * timed window runs `--seconds` / this many cycles. */
  val CycleS = 4.0
  /** Rounds of writes (append, merge, delete) set-up runs as history. */
  val HistoryRounds = 2

  val schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  /** The table as the benchmark believes it is. */
  final class Model {
    val price = mutable.HashMap.empty[Long, Long] // key → cents
    var sumCents = 0L
    val versions = mutable.LinkedHashMap.empty[Long, (Long, Long)]
    def put(k: Long, c: Long): Unit = {
      price.put(k, c).foreach(old => sumCents -= old)
      sumCents += c
    }
    def remove(k: Long): Unit = price.remove(k).foreach(old => sumCents -= old)
    def commit(v: Long): Unit = versions(v) = (price.size.toLong, sumCents)
  }

  def row(rnd: SplittableRandom, k: Long, customers: Long): (Row, Long) = {
    val cents = 100000L + rnd.nextLong(49000000L)
    (Row(k, rnd.nextLong(customers), Gen.Statuses(rnd.nextInt(3)), cents / 100.0,
      new Timestamp((694224000L + rnd.nextLong(2400L) * 86400L) * 1000L),
      Gen.Priorities(rnd.nextInt(5))), cents)
  }

  /** (count, sum of cents) of a frame of orders — the read the checks use. */
  def countSum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(round(col("o_totalprice") * 100)
      .cast("long")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val res = ctx.result
    val sz = ctx.sizes
    val path = s"${ctx.work}/orders_table"
    val appendRows = math.max(50, (sz.orders / 150).toInt)
    val mergeRows = math.max(150, (sz.orders / 50).toInt)
    val deleteKeys = 8
    val model = new Model
    var nextKey = sz.orders

    // ---- set-up: seeded inputs, base table, history -----------------
    ctx.timedSetup("inputs")(Gen.write(spark, ctx.seed, sz, ctx.dataDir, Seq("orders")))
    val v0 = ctx.timedSetup("base table")(ManifestTable.write(
      Tables.orders(spark, ctx.dataDir)
        .repartitionByRange(BaseFiles, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey")),
      path, statsCols = Seq("o_orderkey")))
    spark.read.parquet(s"${ctx.dataDir}/orders.parquet")
      .select(col("o_orderkey"), round(col("o_totalprice") * 100).cast("long"))
      .collect().foreach(r => model.put(r.getLong(0), r.getLong(1)))
    model.commit(v0)

    val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var maintMs = 0.0
    var optimizeMs = 0.0
    var optimizeRewrites = 0
    var checkpointCommits = 0
    var changedRows = 0L // rows the client changed while traced

    def frame(rows: Seq[(Row, Long)]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows.map(_._1): _*), schema)
    def committed(v: Long): Unit = {
      model.commit(v)
      if (v % ManifestTable.CheckpointInterval == 0) checkpointCommits += 1
    }
    def changed(n: Int): Unit = if (ctx.window.on) changedRows += n

    def compact(): Unit = {
      val t0 = System.nanoTime()
      val v = ctx.window("compact")(ctx.labelled("compact")(
        ctx.spans("ManifestTable.compactIfFragmented") {
          ManifestTable.compactIfFragmented(spark, path, MaxFiles, BaseFiles,
            statsCols = Seq("o_orderkey"), sortCols = Seq("o_orderkey"))
        }))
      val ms = (System.nanoTime() - t0) / 1e6
      maintMs += ms
      v.foreach { nv =>
        optimizeMs += ms; optimizeRewrites += 1
        committed(nv)
      }
    }

    /** One client operation; returns its latency in ms, or None if it
      * failed (threw or failed its check). */
    def op(kind: String, i: Long): Option[Double] = {
      val r = new SplittableRandom(ctx.seed * 1000003L + i)
      def liveKey(): Long = {
        var k = r.nextLong(nextKey)
        while (!model.price.contains(k)) k = r.nextLong(nextKey)
        k
      }
      var ms = 0.0
      def timed[A](body: => A): A = {
        val t0 = System.nanoTime()
        try ctx.window(kind)(ctx.labelled(kind)(ctx.spans(s"op.$kind")(body)))
        finally ms = (System.nanoTime() - t0) / 1e6
      }
      val ok = try kind match {
        case "append" =>
          val rows = (0 until appendRows).map(j => row(r, nextKey + j, sz.customers))
          val df = frame(rows).coalesce(1)
          val v = timed(ctx.spans("ManifestTable.append")(
            ManifestTable.append(df, path, statsCols = Seq("o_orderkey"))))
          rows.foreach { case (rw, c) => model.put(rw.getLong(0), c) }
          nextKey += appendRows
          changed(appendRows)
          committed(v)
          true
        case "merge" =>
          val w = r.nextLong(math.max(1L, nextKey - mergeRows))
          val rows = (0 until mergeRows).map(j => row(r, w + j, sz.customers))
          val df = frame(rows)
          val v = timed(ctx.spans("ManifestTable.merge")(
            ManifestTable.merge(df, path, "o_orderkey", statsCols = Seq("o_orderkey"))))
          rows.foreach { case (rw, c) => model.put(rw.getLong(0), c) }
          changed(mergeRows)
          committed(v)
          true
        case "delete" =>
          val keys = Seq.fill(deleteKeys)(liveKey()).distinct
          val v = timed(ctx.spans("ManifestTable.deleteWhereDV")(
            ManifestTable.deleteWhereDV(spark, path,
              col("o_orderkey").isin(keys: _*), "o_orderkey")))
          keys.foreach(model.remove)
          changed(keys.size)
          committed(v)
          true
        case "read" =>
          val got = timed(ctx.spans("ManifestTable.read")(
            countSum(ManifestTable.read(spark, path))))
          res.check("table_churn.read matches the model",
            got == ((model.price.size.toLong, model.sumCents)),
            s"read $got, model ${(model.price.size, model.sumCents)}")
        case "lookup" =>
          val k = if (r.nextInt(4) == 0) r.nextLong(nextKey) else liveKey()
          val got = timed(ctx.spans("ManifestTable.readWhereEquals")(
            ManifestTable.readWhereEquals(spark, path, "o_orderkey", k)
              .select(round(col("o_totalprice") * 100).cast("long")).collect()))
            .map(_.getLong(0)).toSeq
          res.check("table_churn.lookup matches the model",
            got == model.price.get(k).toSeq,
            s"key $k: got $got, model ${model.price.get(k)}")
        case "time_travel" =>
          val vs = model.versions.keys.toIndexedSeq
          val v = vs(r.nextInt(vs.size))
          val got = timed(ctx.spans("ManifestTable.readVersion")(
            countSum(ManifestTable.readVersion(spark, path, v))))
          res.check("table_churn.time_travel matches the model",
            got == model.versions(v), s"version $v: got $got, model ${model.versions(v)}")
      } catch {
        case NonFatal(e) =>
          res.check(s"table_churn.$kind runs", ok = false, e.toString.take(300))
          false
      }
      if (Writes(kind)) compact()
      if (ok) Some(ms) else None
    }

    // history: rounds of the cycle's writes, each with its maintenance,
    // so old versions look like new ones (deletion vectors included) and
    // time travel costs the same whichever version it draws
    var opIndex = 0L
    ctx.timedSetup("history")((0 until HistoryRounds).foreach { _ =>
      Seq("append", "merge", "delete").foreach { k => op(k, opIndex); opIndex += 1 }
    })
    // warm-up: one read of every kind (the history warmed the writes)
    ctx.timedSetup("warm-up")(Cycle.distinct.filterNot(Writes).foreach { k =>
      op(k, opIndex); opIndex += 1
    })
    ctx.setupDone()
    maintMs = 0; optimizeMs = 0; optimizeRewrites = 0; checkpointCommits = 0; changedRows = 0

    // ---- timed window ------------------------------------------------
    ManifestTable.withLogStore(ctx.store) {
      val cpu0 = Jvm.cpuMs
      val t0 = System.nanoTime()
      var ops = 0
      // a traced run interleaves untraced cycles for the overhead estimate
      val untraced = mutable.ArrayBuffer.empty[(String, Double)]
      // a fixed number of cycles, so the work (and a traced run's counts)
      // repeat for a seed; a traced run needs one full tracing pattern
      val cycles = ctx.units(CycleS, if (ctx.trace) 4 else 3)
      (0 until cycles).foreach { cycle =>
        val order = shuffle(Cycle, new SplittableRandom(ctx.seed * 31L + cycle))
        val traced = ctx.tracedAt(cycle)
        ctx.probes(traced)
        order.foreach { kind =>
          val got = op(kind, opIndex)
          if (traced) ctx.window.units += 1
          opIndex += 1
          ops += 1
          res.op(got.isDefined)
          got.foreach { ms =>
            if (ctx.trace && !traced) untraced += ((kind, ms))
            else lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
          }
        }
      }
      ctx.probes(on = false)
      val wallS = (System.nanoTime() - t0) / 1e9
      val cpu = Jvm.cpuMs - cpu0
      val p50 = Cycle.distinct.map(k => k -> Stats.median(lat.getOrElse(k, Nil).toSeq)).toMap
      res.e2e("latency_p50_ms") = (Stats.geoMean(p50.values.toSeq), "ms")
      res.e2e("cpu_ms_per_op") = (cpu / ops, "ms")
      res.detail("ops_per_s") = (ops / wallS, "1/s")
      res.detail("cycles") = (cycles.toDouble, "count")
      Cycle.distinct.foreach(k => res.detail(s"${k}_p50_ms") = (p50(k), "ms"))
      def tailOf(kinds: Set[String], name: String): Unit = {
        val xs = lat.filter(e => kinds(e._1)).values.flatten.toSeq
        Stats.tail(xs) match {
          case Some((v, p)) =>
            res.detail(name) = (v, "ms")
            res.notes += f"$name is p$p%.1f of ${xs.size} samples"
          case None => res.notes += s"$name: fewer than 20 samples (${xs.size})"
        }
      }
      tailOf(Writes, "write_tail_ms")
      tailOf(Set("read", "lookup", "time_travel"), "read_tail_ms")
      res.detail("maintenance_ms_per_op") = (maintMs / ops, "ms")
      if (ctx.trace) {
        val tracedMed = Stats.geoMean(Cycle.distinct.map(k => Stats.median(lat(k).toSeq)))
        val plainMed = Stats.geoMean(Cycle.distinct.map(k =>
          Stats.median(untraced.filter(_._1 == k).map(_._2).toSeq)))
        res.layer("trace.overhead_frac") = (tracedMed / plainMed - 1.0, "ratio")
      }
    }
    res.e2e("heap_live_mb") = (Jvm.heapLiveMb, "MB")
    val liveFiles = Layer.filesLive(spark, path)
    if (ctx.trace) {
      Layer.report(ctx, l => l == "compact" || Cycle.contains(l), liveFiles)
      perKind(ctx, optimizeMs, optimizeRewrites, checkpointCommits)
      // write amplification: bytes the traced writes and their maintenance
      // wrote, per byte of rows they changed (at the table's average live
      // row size); space amplification: every byte under the table root
      // per live data byte
      val written = SparkCounters.total(ctx.tracedJobs(Writes + "compact"))(_.outBytes)
      val liveData = ManifestTable.read(spark, path).inputFiles
        .map(f => new java.io.File(new java.net.URI(f)).length()).sum.toDouble
      val bytesPerRow = liveData / model.price.size
      res.detail("storage.write_amp") = (written / (changedRows * bytesPerRow), "ratio")
      res.detail("storage.space_amp") = (dirBytes(new java.io.File(path)) / liveData, "ratio")
    }
    // final state against the model
    res.check("table_churn final state matches the model",
      countSum(ManifestTable.read(spark, path)) ==
        ((model.price.size.toLong, model.sumCents)))
    res.detail("versions") = (model.versions.size.toDouble, "count")
  }

  private def perKind(ctx: Ctx, optimizeMs: Double, rewrites: Int,
                      checkpoints: Int): Unit = {
    val d = ctx.result.detail
    Cycle.distinct.foreach { k =>
      val jobs = ctx.tracedJobs(_ == k)
      val g = ctx.window.by(k)
      val n = math.max(1L, g.n).toDouble
      d(s"spark.jobs_per_$k") = (jobs.size / n, "count")
      val fsKinds = if (Writes(k)) Seq("list", "stat", "open", "rename", "delete")
                    else Seq("list", "stat", "open")
      fsKinds.foreach { f =>
        d(s"fs.${f}_per_$k") = (g.fs(FsCounts.Names.indexOf(f)) / n, "count")
      }
      if (Writes(k)) {
        d(s"spark.executor_run_ms_per_$k") = (SparkCounters.total(jobs)(_.runMs) / n, "ms")
        d(s"spark.driver_gap_ms_per_$k") =
          (Layer.driverGapMs(SparkCounters.intervals(jobs), g.intervals) / n, "ms")
        d(s"LogStore.publishes_per_$k") = (g.publishes / n, "count")
      }
      if (k == "merge")
        d("spark.input_mb_per_merge") = (SparkCounters.total(jobs)(_.inBytes) / 1048576.0 / n, "MB")
    }
    // the same counts over every client commit, whatever its kind
    val writes = Writes.toSeq.map(ctx.window.by)
    val commits = math.max(1L, writes.map(_.n).sum).toDouble
    Seq("list", "stat", "open", "rename", "delete").foreach { f =>
      d(s"fs.${f}_per_commit") =
        (writes.map(_.fs(FsCounts.Names.indexOf(f))).sum / commits, "count")
    }
    d("LogStore.publishes_per_commit") = (writes.map(_.publishes).sum / commits, "count")
    d("ManifestTable.checkpoint_commits") = (checkpoints.toDouble, "count")
    d("ManifestTable.optimize_ms") = (optimizeMs, "ms")
    d("ManifestTable.optimize_rewrites") = (rewrites.toDouble, "count")
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  def shuffle[A: scala.reflect.ClassTag](xs: Seq[A], r: SplittableRandom): Seq[A] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}
