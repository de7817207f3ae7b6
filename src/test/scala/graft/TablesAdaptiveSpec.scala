package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The events feed's physical `ts` type is not the engine's to assume:
  * fixture generations have shipped INT64 nanos and TIMESTAMP(MICROS).
  * These tests freeze the contract that every generation normalizes to
  * the SAME TIMESTAMP_NTZ micros wallclock, batch and streaming alike —
  * so the next drift is a red spec here, not 20 broken queries.
  */
class TablesAdaptiveSpec extends SparkSpec {
  import spark.implicits._

  // two instants, micro-precise, spanning an hour boundary
  private val micros = Seq(1700000000123456L, 1700003600000001L)

  private def baseDf(tsFromUs: org.apache.spark.sql.Column): DataFrame =
    micros.zipWithIndex.map { case (us, i) => (i.toLong, us, i.toLong, "view", 1.5, "{}") }
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", tsFromUs)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")

  private def writeEvents(df: DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_adaptive").toString
    df.coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  test("Tables.events normalizes nanos-long, NTZ-micros, and UTC-micros layouts identically") {
    val asNanos = writeEvents(baseDf(col("us") * 1000L))
    val asNtz   = writeEvents(baseDf(timestamp_micros(col("us")).cast(TimestampNTZType)))
    val asUtc   = writeEvents(baseDf(timestamp_micros(col("us"))))
    val loaded = Seq(asNanos, asNtz, asUtc).map { d =>
      val df = Tables.events(spark, d)
      assert(df.schema("ts").dataType === TimestampNTZType, s"layout at $d")
      df.select(col("event_id"), unix_micros(col("ts").cast(TimestampType)))
        .as[(Long, Long)].collect().toMap
    }
    val expected = micros.zipWithIndex.map { case (us, i) => i.toLong -> us }.toMap
    loaded.foreach(m => assert(m === expected))
  }

  test("eventsSource streams every layout to the same event-time micros") {
    for (mk <- Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
        _ * 1000L,
        us => timestamp_micros(us).cast(TimestampNTZType),
        us => timestamp_micros(us))) {
      val dir = writeEvents(baseDf(mk(col("us"))))
      val raw = Tables.rawEventsSchema(spark, s"$dir/events.parquet")
      val src = graft.streaming.EventsStream.eventsSource(
        spark, s"$dir/events.parquet", raw)
      assert(src.schema("ts").dataType === TimestampType)
      val qn = s"adaptive_${System.nanoTime()}"
      val q = src.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable()
      finally q.stop()
      val got = spark.table(qn)
        .select(col("event_id"), unix_micros(col("ts")))
        .as[(Long, Long)].collect().toMap
      spark.catalog.dropTempView(qn)
      assert(got === micros.zipWithIndex.map { case (us, i) => i.toLong -> us }.toMap)
    }
  }

  test("streamed event times land in the fixture's year range (1970-collapse canary)") {
    // Round 7: a silent micros-read-as-millis bug collapsed every window
    // to ~1970 while the queries kept "passing" their own machinery. Any
    // unit slip (ns/µs/ms) throws the year out of the fixture's range,
    // so this catches the whole class, whatever the next drift is.
    val b = Tables.events(spark, sfTiny)
      .agg(year(min(col("ts"))).as("lo"), year(max(col("ts"))).as("hi")).head()
    val (lo, hi) = (b.getInt(0), b.getInt(1))
    val hh = graft.streaming.EventsStream.heavyUsersStream(spark, sfTiny)
      .agg(year(min(col("window_start"))).as("lo"),
        year(max(col("window_start"))).as("hi")).head()
    assert(hh.getInt(0) >= lo && hh.getInt(1) <= hi,
      s"streamed windows [${hh.getInt(0)},${hh.getInt(1)}] outside fixture years [$lo,$hi]")
    val ss = graft.streaming.Sessionize.sessionsStreamed(spark, sfTiny)
      .agg(year(min(col("session_start"))).as("lo"),
        year(max(col("session_end"))).as("hi")).head()
    assert(ss.getInt(0) >= lo && ss.getInt(1) <= hi,
      s"streamed sessions [${ss.getInt(0)},${ss.getInt(1)}] outside fixture years [$lo,$hi]")
  }

  test("appendSentinels writes the feed's own physical layout") {
    for (mk <- Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
        _ * 1000L,
        us => timestamp_micros(us).cast(TimestampNTZType),
        us => timestamp_micros(us))) {
      val dir = writeEvents(baseDf(mk(col("us"))))
      val feed = s"$dir/events.parquet"
      val raw = Tables.rawEventsSchema(spark, feed)
      val sentinelUs = micros.max + 3600L * 1000000L
      graft.streaming.EventsStream.appendSentinels(spark, feed, raw,
        Seq((-1L, sentinelUs, -1L, "sentinel", 0.0, "{}")))
      // the appended file must read back under the SAME sniffed schema
      assert(graft.streaming.EventsStream.maxEventMicros(spark, feed) === sentinelUs)
      val all = Tables.events(spark, dir)
      assert(all.count() === micros.length + 1)
    }
  }

  test("schema cache: regenerated fixture re-infers even when the root " +
      "directory's own mtime/length are unchanged (child signature)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sigcache").toString
    val p = s"$dir/orders.parquet"
    Seq((1L, "a")).toDF("k", "v").coalesce(1).write.parquet(p)
    val root = new java.io.File(p)
    val mtime0 = root.lastModified()
    assert(Tables.t(spark, dir, "orders").schema("v").dataType === StringType)
    // regenerate with a DIFFERENT schema, then pin the root directory's
    // mtime back — the old root-status signature would now collide
    Seq((1L, 2.5)).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(p)
    root.setLastModified(mtime0)
    assert(Tables.t(spark, dir, "orders").schema("v").dataType === DoubleType,
      "stale cached schema served after an in-place fixture rewrite")
  }

  test("schema cache: an unstattable path signs -1 and is never cached") {
    assert(Tables.pathSig(spark, "/nonexistent/graft_no_such.parquet") === -1L)
  }

  test("schema cache: a computed signature never lands on the reserved -1") {
    assert(Tables.sigValue(-1L) === -2L)
    Seq(-2L, 0L, 1L, Long.MinValue, Long.MaxValue).foreach(s =>
      assert(Tables.sigValue(s) === s))
  }
}
