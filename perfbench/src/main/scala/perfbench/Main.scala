package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession
import org.apache.hadoop.fs.Path

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --result <file> [--orders <rows>]`.
  * Writes the run's metrics, checks and (traced) spans as JSON to
  * `--result`; `run.py` prints them.
  */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "batch_refresh" -> BatchRefresh.run,
    "table_churn" -> TableChurn.run,
    "cdc_stream" -> CdcStream.run)

  /** Default input size (orders rows) per workload. */
  val DefaultOrders: Map[String, Long] = Map(
    "batch_refresh" -> 5000L, "table_churn" -> 150000L, "cdc_stream" -> 50000L)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload (${Workloads.keys.mkString(", ")})"))
    val trace = opts.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val b = GraftSession.local(s"perfbench-$workload", cores)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.streaming.stopTimeout", "60s")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toDouble, trace,
      opts("work"), Sizes(opts.get("orders").map(_.toLong).getOrElse(DefaultOrders(workload))))
    val out = Paths.get(opts("result"))
    if (trace) {
      val dir = new Path(s"file://${ctx.work}/fs-probe-check")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val wrong = if (fs.isInstanceOf[CountingFileSystem]) FsCounts.selfCheck(fs, dir)
                  else Seq(s"file:// is ${fs.getClass.getName}, not the counting filesystem")
      ctx.result.check("fs probe counts every call once", wrong.isEmpty, wrong.mkString("; "))
    }
    try run(ctx)
    finally {
      Files.write(out, Json.result(workload, ctx).getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }
}

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** A metric's value, or null when it is not a finite number. */
  private def num(d: Double): Option[Double] =
    if (d.isNaN || d.isInfinite) None else Some(d)

  private def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
    m.map { case (k, (v, u)) => k -> ListMap("value" -> num(v), "unit" -> u) }

  def result(workload: String, ctx: Ctx): String = {
    val r = ctx.result
    val spans =
      if (!ctx.trace) Nil
      else ctx.spans.selfMs.toSeq.sortBy(-_._2)
        .map { case (n, ms) => ListMap("name" -> n, "self_ms" -> num(ms)) }
    mapper.writeValueAsString(ListMap(
      "workload" -> workload, "seed" -> ctx.seed, "trace" -> ctx.trace,
      "orders_rows" -> ctx.sizes.orders, "cores" -> ctx.cores,
      "correct" -> r.correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "e2e" -> metrics(r.e2e), "layer" -> metrics(r.layer), "detail" -> metrics(r.detail),
      "notes" -> r.notes,
      "checks" -> r.checks.map { case (n, ok, d) => ListMap("name" -> n, "ok" -> ok, "detail" -> d) },
      "spans" -> spans))
  }
}
