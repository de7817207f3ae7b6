package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.ml.RevenueModel
import graft.ops.Aggregates
import graft.pipeline.{CorpusPipeline, Medallion}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** batch_refresh: one client runs the full refresh again and again, each
  * into a fresh warehouse directory (closed loop): `Medallion.runBronze`,
  * `runSilver`, `runGold`, then `RevenueModel.trainEval`, then
  * `CorpusPipeline.run`. Outputs are checked after each refresh, outside
  * the timed region: stage row counts and content hashes must repeat
  * across refreshes and match the declared queries' results.
  */
object BatchRefresh {
  val Stages = Seq("bronze", "silver", "gold", "model", "corpus")
  /** The detail figure each stage's median time is reported under. */
  val StageMetric = Map("bronze" -> "Medallion.bronze_s", "silver" -> "Medallion.silver_s",
    "gold" -> "Medallion.gold_s", "model" -> "RevenueModel.train_s",
    "corpus" -> "CorpusPipeline.run_s")
  /** Nominal seconds of one warm refresh on the reference host (4 cores):
    * the timed window runs `--seconds` / this many refreshes, at least one. */
  val RefreshS = 15.0

  /** Order-free content hash: (rows, Σ row-hash mod a prime). */
  def contentHash(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(df.columns.map(col).toSeq: _*), lit(1000000007L))),
        lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  final case class Outcome(bronze: Long, silver: Long, gold: (Long, Long),
                           model: (Double, Double, Long, Long),
                           corpus: Seq[(String, Long)], stageMs: Map[String, Double],
                           totalMs: Double)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val res = ctx.result
    val sz = ctx.sizes
    ctx.timedSetup("inputs")(Gen.write(spark, ctx.seed, sz, ctx.dataDir,
      Seq("orders", "lineitem", "events", "documents")))

    // expected results, from the declared queries and plain Spark
    val d = ctx.dataDir
    val expect = Map(
      "bronze" -> sz.events,
      "silver" -> graft.Tables.lineitem(spark, d).filter(
        col("l_quantity") > 0 && col("l_quantity") < 50 &&
          col("l_extendedprice") > col("l_quantity") &&
          col("l_discount").between(0, 1) && col("l_tax") >= 0).count())
    val goldDaily = contentHash(Aggregates.goldDailyRevenue(spark, d)
      .withColumn("cust_bucket", pmod(col("o_custkey"), lit(16))))
    val goldHourly = contentHash(Aggregates.goldHourlyDemand(spark, d))

    var rep = 0
    var refreshCpuMs = 0.0
    def refresh(): Outcome = {
      val cpu0 = Jvm.cpuMs
      val wh = s"${ctx.work}/warehouse-$rep"
      rep += 1
      val ms = mutable.LinkedHashMap.empty[String, Double]
      def stage[A](name: String, span: String)(body: => A): A = {
        val t0 = System.nanoTime()
        try ctx.window(name)(ctx.labelled(name)(ctx.spans(span)(body)))
        finally ms(name) = (System.nanoTime() - t0) / 1e6
      }
      val t0 = System.nanoTime()
      val m = new Medallion(spark, d, wh)
      val b = stage("bronze", "Medallion.runBronze")(m.runBronze())
      val s = stage("silver", "Medallion.runSilver")(m.runSilver())
      val g = stage("gold", "Medallion.runGold")(m.runGold())
      val mr = stage("model", "RevenueModel.trainEval")(
        RevenueModel.trainEval(spark, d).collect().head)
      val c = stage("corpus", "CorpusPipeline.run")(
        CorpusPipeline.run(spark, d, s"$wh/corpus"))
      val total = (System.nanoTime() - t0) / 1e6
      refreshCpuMs += Jvm.cpuMs - cpu0
      Outcome(b, s, g, (mr.getAs[Double]("mae"), mr.getAs[Double]("rmse"),
        mr.getAs[Long]("train_rows"), mr.getAs[Long]("test_rows")), c, ms.toMap, total)
    }

    var first: Option[(Outcome, (Long, Long), (Long, Long), (Long, Long))] = None
    /** Check one refresh's outputs; the first refresh is the reference
      * the later ones must repeat. */
    def check(o: Outcome): Boolean = {
      val wh = s"${ctx.work}/warehouse-${rep - 1}"
      val m = new Medallion(spark, d, wh)
      val gd = contentHash(Medallion.readTable(spark, m.goldDailyPath))
      val gh = contentHash(Medallion.readTable(spark, m.goldHourlyPath))
      val corpus = contentHash(spark.read.parquet(s"$wh/corpus/corpus"))
      val oks = Seq(
        res.check("batch_refresh.bronze rows = events rows", o.bronze == expect("bronze"),
          s"${o.bronze} vs ${expect("bronze")}"),
        res.check("batch_refresh.silver rows = filtered lineitem rows",
          o.silver == expect("silver"), s"${o.silver} vs ${expect("silver")}"),
        res.check("batch_refresh.gold daily = declared gold_daily_revenue", gd == goldDaily,
          s"$gd vs $goldDaily"),
        res.check("batch_refresh.gold hourly = declared gold_hourly_demand", gh == goldHourly,
          s"$gh vs $goldHourly"),
        res.check("batch_refresh.gold counts = table rows",
          o.gold == ((gd._1, gh._1)), s"${o.gold} vs ${(gd._1, gh._1)}"),
        res.check("batch_refresh.model split covers gold daily",
          o.model._3 + o.model._4 == gd._1 && o.model._1 <= o.model._2 + 1e-9,
          s"${o.model} vs ${gd._1}"),
        res.check("batch_refresh.corpus raw rows = documents",
          o.corpus.headOption.contains("01_raw" -> sz.documents), s"${o.corpus.headOption}"))
      val same = first match {
        case None =>
          first = Some((o, gd, gh, corpus)); true
        case Some((f, _, _, fc)) =>
          res.check("batch_refresh.outputs repeat across refreshes",
            f.corpus == o.corpus && fc == corpus && f.model == o.model,
            s"corpus ${o.corpus} / $corpus vs ${f.corpus} / $fc; model ${o.model} vs ${f.model}")
      }
      oks.forall(identity) && same
    }

    def attempt(): Option[Outcome] = {
      val o = try Some(refresh()) catch {
        case NonFatal(e) =>
          res.check("batch_refresh runs", ok = false, e.toString.take(300)); None
      }
      val ok = o.exists(check)
      res.op(ok)
      if (ok) o else None
    }

    // warm-up refresh: counts toward set-up, and is the reference output
    ctx.timedSetup("warm-up refresh")(attempt())
    res.attempted = 0; res.failed = 0
    ctx.setupDone()

    graft.pipeline.ManifestTable.withLogStore(ctx.store) {
      val times = mutable.ArrayBuffer.empty[Outcome]
      val plain = mutable.ArrayBuffer.empty[Outcome]
      refreshCpuMs = 0.0
      // a traced run needs an untraced and a traced refresh
      val refreshes = ctx.units(RefreshS, if (ctx.trace) 2 else 1)
      (0 until refreshes).foreach { i =>
        val traced = ctx.tracedAt(i)
        ctx.probes(traced)
        val o = attempt()
        if (traced) ctx.window.units += 1
        o.foreach { x =>
          if (ctx.trace && !traced) plain += x else times += x
        }
      }
      ctx.probes(on = false)
      val n = times.size
      res.e2e("latency_p50_ms") = (Stats.median(times.map(_.totalMs).toSeq), "ms")
      res.e2e("cpu_ms_per_op") = (refreshCpuMs / refreshes, "ms")
      res.detail("refresh_s") = (Stats.median(times.map(_.totalMs).toSeq) / 1000.0, "s")
      res.detail("refreshes") = (n.toDouble, "count")
      Stages.foreach { s =>
        res.detail(StageMetric(s)) = (Stats.median(times.map(_.stageMs(s)).toSeq) / 1000.0, "s")
      }
      if (ctx.trace)
        res.layer("trace.overhead_frac") = (Stats.median(times.map(_.totalMs).toSeq) /
          Stats.median(plain.map(_.totalMs).toSeq) - 1.0, "ratio")
    }
    res.e2e("heap_live_mb") = (Jvm.heapLiveMb, "MB")
    if (ctx.trace) {
      val wh = s"${ctx.work}/warehouse-${rep - 1}"
      Layer.report(ctx, Stages.contains, Layer.filesLive(spark, s"$wh/gold/daily_revenue"))
    }
  }
}
