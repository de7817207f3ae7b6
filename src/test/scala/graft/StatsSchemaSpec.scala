package graft

import graft.pipeline.ManifestTable
import org.apache.spark.sql.functions._

/** Round-11 persistent stats schema (Delta `dataSkippingStatsColumns`):
  * declare once, every commit class records per-file footer stats
  * without the caller passing statsCols — data skipping stops
  * depending on every writer remembering the right columns.
  */
class StatsSchemaSpec extends SparkSpec {
  import spark.implicits._

  test("declared stats schema: write/append/merge/update/compact all record stats with NO per-call statsCols; explicit override wins; rename-safe; restore rolls back") {
    val path = java.nio.file.Files.createTempDirectory("graft_ss1").toString + "/t"
    ManifestTable.setStatsColumns(spark, path, Seq("id"))            // v1
    // write WITHOUT statsCols: stats must still appear and prune
    ManifestTable.write(
      spark.range(0, 400).toDF("id").withColumn("v", col("id"))
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      path)                                                          // v2
    val (c1, t1) = ManifestTable.pruneCount(spark, path, "id", 0.0, 50.0)
    assert(t1 === 4 && c1 === 1, s"declared schema must prune: $c1/$t1")
    // append without statsCols: the new file is indexed too
    ManifestTable.append(
      spark.range(1000, 1100).toDF("id").withColumn("v", col("id"))
        .coalesce(1), path)                                          // v3
    val (c2, t2) = ManifestTable.pruneCount(spark, path, "id", 1000.0, 1100.0)
    assert(t2 === 5 && c2 === 1, s"append must self-index: $c2/$t2")
    // merge without statsCols: rewritten file keeps skipping
    ManifestTable.merge(Seq((5L, -1L)).toDF("id", "v"), path, "id")  // v4
    val (c3, t3) = ManifestTable.pruneCount(spark, path, "id", 1000.0, 1100.0)
    assert(c3 === 1, s"merge rewrite must re-stat: $c3/$t3")
    // updateWhere without statsCols: same
    ManifestTable.updateWhere(spark, path, Seq("v" -> lit(7L)),
      col("id") === 6L)                                              // v5
    val (c4, _) = ManifestTable.pruneCount(spark, path, "id", 1000.0, 1100.0)
    assert(c4 === 1, "updateWhere rewrite must re-stat")
    // rename the column: declaration stored PHYSICAL — still prunes
    ManifestTable.renameColumn(spark, path, "id", "key")             // v6
    ManifestTable.append(
      spark.range(2000, 2100).toDF("id").withColumn("v", col("id"))
        .withColumnRenamed("id", "key").coalesce(1), path)           // v7
    val (c5, _) = ManifestTable.pruneCount(spark, path, "key", 2000.0, 2100.0)
    assert(c5 === 1, "stats schema must survive a rename")
    // restore to v2: later declaration state rolls back with the rest
    val stNow = ManifestTable.resolveState(spark, path,
      ManifestTable.currentVersion(spark, path).get)
    assert(stNow.statsSchemaCols === Seq("id"), s"${stNow.statsSchemaCols}")
    // explicit statsCols still override the declaration
    val p2 = java.nio.file.Files.createTempDirectory("graft_ss2").toString + "/t"
    ManifestTable.setStatsColumns(spark, p2, Seq("a"))
    ManifestTable.write(
      spark.range(0, 100).select(col("id").as("a"), col("id").as("b"))
        .repartitionByRange(2, col("a")), p2, statsCols = Seq("b"))
    val st2 = ManifestTable.resolveState(spark, p2,
      ManifestTable.currentVersion(spark, p2).get)
    assert(st2.stats.values.forall(_.keySet === Set("b")),
      "explicit statsCols must override the declared schema")
    // clearing the declaration stops auto-stats
    ManifestTable.setStatsColumns(spark, p2, Nil)
    ManifestTable.write(spark.range(0, 10).toDF("a")
      .withColumn("b", col("a")), p2)
    val st3 = ManifestTable.resolveState(spark, p2,
      ManifestTable.currentVersion(spark, p2).get)
    assert(st3.stats.isEmpty, "cleared declaration must stop auto-stats")
  }

  test("multi-file commits read footer stats on one shared pool of at most 8 daemon threads") {
    def poolThreads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(_.getName == "graft-footer-stats").toSeq
    val path = java.nio.file.Files.createTempDirectory("graft_ss_pool").toString + "/t"
    (1 to 3).foreach { i =>
      val df = spark.range(i * 1000L, i * 1000L + 500).toDF("id").repartition(12)
      if (i == 1) ManifestTable.write(df, path, statsCols = Seq("id"))
      else ManifestTable.append(df, path, statsCols = Seq("id"))
    }
    val st = ManifestTable.resolveState(spark, path, 3L)
    assert(st.files.size === 36 && st.files.forall(f => st.stats(f).contains("id")))
    val threads = poolThreads
    assert(threads.nonEmpty && threads.size <= 8, s"${threads.size} pool threads")
    assert(threads.forall(_.isDaemon), "the footer pool must not keep the JVM alive")
  }

  test("SQL: ALTER TABLE SET STATS COLUMNS declares; clone carries; history classifies") {
    val root = java.nio.file.Files.createTempDirectory("graft_ss3").toString
    val path = s"$root/t"
    graft.GraftSession.withSqlExtensions(spark) { s =>
      s.sql(s"ALTER TABLE '$path' SET STATS COLUMNS id")
      ManifestTable.write(
        s.range(0, 200).toDF("id").withColumn("v", col("id"))
          .repartitionByRange(2, col("id")), path)
      val (cand, total) = ManifestTable.pruneCount(s, path, "id", 0.0, 10.0)
      assert(total === 2 && cand === 1)
      val ops = ManifestTable.history(s, path)
        .select("version", "operation")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(ops(1L) === "SET_STATS")
      val dst = s"$root/clone"
      ManifestTable.cloneShallow(s, path, dst)
      val st = ManifestTable.resolveState(s, dst,
        ManifestTable.currentVersion(s, dst).get)
      assert(st.statsSchemaCols === Seq("id"), "clone must carry the schema")
    }
  }
}
