package perfbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.pipeline.{ApplyChanges, ManifestTable}
import graft.streaming.TableFeedSource
import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

/** cdc_stream: an open loop. A generator thread appends one change batch
  * to a feed table every `PeriodS`, whether or not the stream has caught
  * up; `ApplyChanges.streamScd1` over `TableFeedSource.readStream(
  * maxVersionsPerBatch = 1)` applies the batches to an SCD1 `orders`
  * target. Each batch is timed from when it was due until the target
  * commit carrying its batch tag became visible (freshness).
  *
  * A batch holds updates, about 10% deletes, about 10% stale-sequence
  * (late) events and some new keys. At the end the target must equal a
  * last-writer-by-sequence recomputation over the initial snapshot plus
  * every change in the feed, late events being no-ops.
  */
object CdcStream {
  val QueryTag = "cdc"
  /** Warm-up batches applied back to back in set-up: the first few
    * warm batches still speed up (JIT), and a timed one must not. */
  val Warmup = 3
  /** The target starts as this many files, clustered by key. */
  val TargetFiles = 16
  /** Seconds between feed commits: about half the warm capacity on the
    * reference host (4 cores, 50,000 orders), where a warm batch reaches
    * the target 1.2 to 2.1 s after it was due in a fast stretch of the
    * host and up to 3.0 s in a slow one; the slowest batch must still be
    * applied within one period (the backlog check), and a batch that
    * outlasts the period delays the next. The timed window feeds
    * `--seconds` / this many batches, at least five. */
  val PeriodS = 3.5
  val TagRe = "\"tag\"\\s*:\\s*\"([^\"]*)\"".r

  val schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_totalprice", DoubleType), StructField("change_seq", LongType),
    StructField("is_delete", BooleanType)))

  /** Seeded change batches, drawn against the generator's own view of
    * each key's applied sequence (so late events really are late). */
  final class Changes(seed: Long, initialKeys: Long, customers: Long, size: Int) {
    private val seqOf = mutable.HashMap.empty[Long, Long] // live key → last seq
    (0L until initialKeys).foreach(seqOf(_) = 0L)
    private val live = mutable.ArrayBuffer.range(0L, initialKeys)
    private var nextKey = initialKeys
    private var seq = 0L

    def batch(k: Int): Seq[Row] = {
      val r = new SplittableRandom(seed * 7777L + k)
      val used = mutable.HashSet.empty[Long]
      val out = mutable.ArrayBuffer.empty[Row]
      def price() = (100000L + r.nextLong(49000000L)) / 100.0
      while (out.size < size) {
        val u = r.nextInt(100)
        if (u < 5) { // new key
          val key = nextKey; nextKey += 1; seq += 1
          used += key
          out += Row(key, r.nextLong(customers), price(), seq, false)
          seqOf(key) = seq; live += key
        } else {
          val i = r.nextInt(live.size)
          val key = live(i)
          if (used.add(key)) {
            if (u < 15) { // late: older than what the key has applied
              out += Row(key, r.nextLong(customers), price(), seqOf(key) - 1 - r.nextInt(3), false)
            } else if (u < 25) { // delete
              seq += 1
              out += Row(key, 0L, 0.0, seq, true)
              seqOf.remove(key)
              live(i) = live.last; live.remove(live.size - 1)
            } else { // update
              seq += 1
              out += Row(key, r.nextLong(customers), price(), seq, false)
              seqOf(key) = seq
            }
          }
        }
      }
      out.toSeq
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val res = ctx.result
    val sz = ctx.sizes
    val target = s"${ctx.work}/dim_orders"
    val feed = s"${ctx.work}/cdc_feed"
    val batchSize = math.max(100, (sz.orders / 50).toInt)

    // commit visibility, observed at the log store
    val tagVisible = new ConcurrentHashMap[Long, Long]()  // batch id → ns
    ctx.store.onPublish = (dst, won, ns) => if (won) {
      val p = dst.toUri.getPath
      if (p.startsWith(target) && dst.getName.endsWith(".json"))
        TagRe.findFirstMatchIn(new String(Files.readAllBytes(Paths.get(p)), "UTF-8"))
          .map(_.group(1)).filter(_.startsWith(s"$QueryTag-b"))
          .foreach(t => tagVisible.put(t.stripPrefix(s"$QueryTag-b").toLong, ns))
    }

    val changes = new Changes(ctx.seed, sz.orders, sz.customers, batchSize)
    val feedVersionOfBatch = new ConcurrentHashMap[Long, Long]() // batch id → end offset
    val streamMs = new ConcurrentHashMap[String, java.lang.Double]()
    val triggers = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        p.sources.headOption.foreach(s =>
          feedVersionOfBatch.put(p.batchId, s.endOffset.trim.toLong))
        if (ctx.trace && FsCounts.enabled) {
          p.durationMs.forEach((k, v) => streamMs.merge(k, v.toDouble, (a, b) => a + b))
          streamMs.merge("_batches", 1.0, (a, b) => a + b)
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli
          triggers.add((start, start + p.durationMs.get("triggerExecution").longValue))
        }
      }
    }

    ManifestTable.withLogStore(ctx.store) {
      // ---- set-up: inputs, target, feed, stream start ----------------
      ctx.timedSetup("inputs, target and feed") {
        Gen.write(spark, ctx.seed, sz, ctx.dataDir, Seq("orders"))
        ApplyChanges.initializeScd1(
          graft.Tables.orders(spark, ctx.dataDir)
            .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
            .repartitionByRange(TargetFiles, col("o_orderkey"))
            .sortWithinPartitions(col("o_orderkey")),
          target, 0L, statsCols = Seq("o_orderkey"))
        ManifestTable.write(spark.createDataFrame(
          java.util.Arrays.asList(changes.batch(0): _*), schema), feed)
      }
      spark.streams.addListener(listener)
      val q = ctx.timedSetup("stream start and warm-up") {
        val q = ApplyChanges.streamScd1(
          TableFeedSource.readStream(spark, feed, maxVersionsPerBatch = Some(1))
            .drop("_change", "_commit_version"),
          target, "o_orderkey", sequenceBy = "change_seq",
          deleteWhen = Some("is_delete"), queryTag = QueryTag,
          checkpoint = Some(s"${ctx.work}/checkpoint"))
        q.processAllAvailable()
        q
      }
      // warm-up batches through the whole path
      ctx.timedSetup("warm-up batches") {
        (1 to Warmup).foreach { k =>
          ManifestTable.append(spark.createDataFrame(
            java.util.Arrays.asList(changes.batch(k): _*), schema), feed)
          q.processAllAvailable()
        }
      }
      ctx.setupDone()

      // ---- timed window: the generator's open loop --------------------
      // A traced run traces half the batches (Ctx.tracedAt), for the
      // overhead estimate; the probes stay on for the whole period a traced
      // batch owns.
      val due = mutable.ArrayBuffer.empty[(Long, Long, Boolean)] // (feed version, due ns, traced)
      var lateMaxMs = 0.0
      val first = Warmup + 1
      val nBatches = ctx.units(PeriodS, 5)
      val batches = (first until first + nBatches).map(k =>
        k -> spark.createDataFrame(java.util.Arrays.asList(changes.batch(k): _*), schema))
      val cpu0 = Jvm.cpuMs
      val t0 = System.nanoTime()
      def dueOf(i: Int): Long = t0 + (i * PeriodS * 1e9).toLong
      def sleepUntil(ns: Long): Unit = while (System.nanoTime() < ns) Thread.sleep(1)
      var genFailed = false
      batches.zipWithIndex.foreach { case ((_, df), i) =>
        sleepUntil(dueOf(i))
        lateMaxMs = math.max(lateMaxMs, (System.nanoTime() - dueOf(i)) / 1e6)
        val traced = ctx.tracedAt(i)
        ctx.probes(traced)
        if (traced) ctx.window.units += 1
        ctx.window("stream") {
          if (!genFailed) try {
            val v = ctx.labelled("feed")(ctx.spans("ManifestTable.append(feed)")(
              ManifestTable.append(df, feed)))
            due += ((v, dueOf(i), traced))
          } catch {
            case NonFatal(e) =>
              res.check("cdc_stream.feed append runs", ok = false, e.toString.take(300))
              genFailed = true
          }
          // after the last commit, wait one period or until every batch
          // is applied (the stream start applied the feed's first version)
          val applied = 1 + Warmup + due.size
          while (System.nanoTime() < dueOf(i + 1) &&
            !(i == batches.size - 1 && tagVisible.size >= applied)) Thread.sleep(1)
        }
      }
      ctx.probes(false)
      // batches applied by one period after the last commit was due; the
      // backlog is the feed commits not among them
      val visibleAtEnd = tagVisible.keySet().asScala.toSet
      try q.processAllAvailable() catch {
        case NonFatal(e) => res.check("cdc_stream.stream runs", ok = false, e.toString.take(300))
      }
      val wallMs = (System.nanoTime() - t0) / 1e6
      val cpu = Jvm.cpuMs - cpu0
      res.e2e("heap_live_mb") = (Jvm.heapLiveMb, "MB")
      // progress events arrive asynchronously: wait until every applied
      // batch has been mapped to its feed version
      val until = System.nanoTime() + 10000000000L
      while (!tagVisible.keySet().asScala.forall(feedVersionOfBatch.containsKey) &&
        System.nanoTime() < until) Thread.sleep(10)
      q.stop()
      spark.streams.removeListener(listener)
      q.exception.foreach(e =>
        res.check("cdc_stream.stream runs", ok = false, e.toString.take(300)))

      // freshness per feed commit: due → target commit with its tag visible
      val batchOfVersion = feedVersionOfBatch.asScala.map { case (b, v) => v -> b }.toMap
      val backlog = due.count { case (v, _, _) => !batchOfVersion.get(v).exists(visibleAtEnd) }
      val fresh = due.toSeq.map { case (v, d, traced) =>
        val ms = batchOfVersion.get(v).filter(tagVisible.containsKey).map(tagVisible.get)
          .map(vis => (vis - d) / 1e6)
        res.op(ms.isDefined)
        (ms, traced)
      }
      val ok = fresh.flatMap(_._1)
      res.check("cdc_stream.every feed commit reached the target", ok.size == due.size,
        s"${ok.size} of ${due.size} commits applied")
      res.e2e("latency_p50_ms") = (Stats.median(ok), "ms")
      res.e2e("cpu_ms_per_op") = (cpu / math.max(1, due.size), "ms")
      res.detail("freshness_p50_ms") = (Stats.median(ok), "ms")
      Stats.tail(ok) match {
        case Some((v, p)) =>
          res.detail("freshness_tail_ms") = (v, "ms")
          res.notes += f"freshness_tail_ms is p$p%.1f of ${ok.size} samples"
        case None => res.notes += s"freshness_tail_ms: fewer than 20 samples (${ok.size})"
      }
      res.notes += "freshness samples (ms): " +
        fresh.map(_._1.map(x => f"$x%.0f").getOrElse("-")).mkString(" ")
      res.detail("stream.backlog_end") = (backlog.toDouble, "count")
      res.detail("generator.late_ms_max") = (lateMaxMs, "ms")
      res.detail("feed_commits") = (due.size.toDouble, "count")
      res.detail("window_s") = (wallMs / 1000.0, "s")
      // with a backlog the freshness is queueing that grows with the run's
      // length, not the program's latency: such a run is not valid
      res.check("cdc_stream.stream kept up (stream.backlog_end = 0)", backlog == 0,
        s"$backlog feed commits not applied one period after the last was due")
      if (ctx.trace) {
        def med(traced: Boolean) = Stats.median(fresh.filter(_._2 == traced).flatMap(_._1))
        res.layer("trace.overhead_frac") = (med(true) / med(false) - 1.0, "ratio")
        val nb = math.max(1.0, streamMs.getOrDefault("_batches", 0.0))
        def per(keys: String*): Double =
          keys.map(k => streamMs.getOrDefault(k, 0.0).doubleValue).sum / nb
        res.detail("stream.trigger_ms") = (per("triggerExecution"), "ms")
        res.detail("ApplyChanges.apply_ms") = (per("addBatch"), "ms")
        res.detail("TableFeedSource.offset_ms") = (per("latestOffset", "getOffset"), "ms")
        res.detail("TableFeedSource.get_batch_ms") = (per("getBatch"), "ms")
        res.detail("stream.planning_ms") = (per("queryPlanning"), "ms")
        res.detail("stream.wal_ms") = (per("walCommit", "commitOffsets"), "ms")
      }
    }

    // ---- check: last writer by sequence over snapshot + feed -----------
    val initial = graft.Tables.orders(spark, ctx.dataDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        lit(0L).as("change_seq"), lit(false).as("is_delete"))
    val w = Window.partitionBy(col("o_orderkey"))
      .orderBy(col("change_seq").desc, col("is_delete").desc)
    val expected = initial.unionByName(ManifestTable.read(spark, feed))
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .filter(!col("is_delete"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("change_seq").as(ApplyChanges.SeqCol))
    val got = ManifestTable.read(spark, target)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col(ApplyChanges.SeqCol).cast("long").as(ApplyChanges.SeqCol))
    res.check("cdc_stream target = last writer by sequence",
      BatchRefresh.contentHash(expected) == BatchRefresh.contentHash(got),
      s"${BatchRefresh.contentHash(got)} vs ${BatchRefresh.contentHash(expected)}")
    if (ctx.trace) {
      // a micro-batch's wall interval is its trigger, not the period
      ctx.window.by.get("stream").foreach { g =>
        g.intervals.clear()
        g.intervals ++= triggers.toArray.map(_.asInstanceOf[(Long, Long)])
      }
      Layer.report(ctx, _.startsWith("batch:"), Layer.filesLive(spark, target))
      val nb = math.max(1L, ctx.window.units).toDouble
      res.detail("spark.jobs_per_batch") = (res.layer("spark.jobs_per_op")._1, "count")
      res.detail("fs.calls_per_batch") =
        (ctx.window.by.get("stream").map(_.fs.sum).getOrElse(0L) / nb, "count")
    }
  }
}
