package graft

import graft.pipeline.ManifestTable
import org.apache.spark.sql.functions._

/** Row tracking (Delta 3.x `enableRowTracking`): stable hidden row ids
  * assigned at first write, preserved through CoW merges, compaction,
  * Z-order rewrites, clone, and restore; fresh ids stay above a
  * monotone high-water mark.
  */
class RowTrackingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  private def ids(path: String): Map[Long, Long] =
    ManifestTable.readWithRowIds(spark, path)
      .select(col("id"), col(ManifestTable.RowIdCol))
      .as[(Long, Long)].collect().toMap

  test("ids are unique, hidden from the logical read, and stable through merge") {
    val path = tmp("graft_rt1")
    ManifestTable.enableRowTracking(spark, path)
    ManifestTable.write(
      spark.range(0, 500).toDF("id").withColumn("v", col("id") * 2)
        .repartitionByRange(4, col("id")).sortWithinPartitions(col("id")),
      path, statsCols = Seq("id"))
    // hidden from the plain read; exposed by readWithRowIds; unique
    assert(!ManifestTable.read(spark, path).columns
      .contains(ManifestTable.RowIdCol))
    val before = ids(path)
    assert(before.size === 500 && before.values.toSet.size === 500)

    // merge: update 3 keys, delete 1, insert 1
    val upd = Seq((10L, -1L, false), (11L, -2L, false), (450L, -3L, false),
      (12L, 0L, true), (9999L, 9L, false)).toDF("id", "v", "_d")
    ManifestTable.merge(upd, path, "id", deleteCol = Some("_d"))
    val after = ids(path)
    assert(after.size === 500) // 500 - 1 deleted + 1 inserted
    // updated rows KEPT their ids
    Seq(10L, 11L, 450L).foreach(k =>
      assert(after(k) === before(k), s"updated key $k must keep its row id"))
    // carried rows kept theirs
    before.keys.filterNot(Set(10L, 11L, 12L, 450L)).foreach(k =>
      assert(after(k) === before(k), s"carried key $k must keep its row id"))
    // the insert drew a FRESH id above every pre-merge id
    assert(after(9999L) > before.values.max,
      "insert must draw above the high-water mark")
    // updated values actually updated
    assert(ManifestTable.read(spark, path)
      .filter(col("id") === 10).select("v").head().getLong(0) === -1L)
    // duplicate update keys refuse under tracking
    intercept[IllegalArgumentException] {
      ManifestTable.merge(Seq((1L, 0L), (1L, 1L)).toDF("id", "v"),
        path, "id")
    }
  }

  test("ids survive compaction, zorder rewrites, clone; restore keeps the high-water monotone") {
    val path = tmp("graft_rt2")
    ManifestTable.enableRowTracking(spark, path)
    ManifestTable.write(
      spark.range(0, 300).toDF("id")
        .withColumn("k", pmod(col("id") * 2654435761L, lit(300)))
        .repartitionByRange(4, col("id")).sortWithinPartitions(col("id")),
      path, statsCols = Seq("id"))
    ManifestTable.append(
      spark.range(300, 400).toDF("id")
        .withColumn("k", pmod(col("id") * 2654435761L, lit(300))), path)
    val before = ids(path)
    assert(before.size === 400 && before.values.toSet.size === 400)

    ManifestTable.compact(spark, path, targetFiles = 2)
    assert(ids(path) === before, "compaction must carry ids verbatim")

    ManifestTable.optimizeZOrder(spark, path, "k", "id", targetFiles = 4)
    assert(ids(path) === before, "zorder rewrite must carry ids verbatim")

    // clone carries tracking + ids + high water
    val dst = tmp("graft_rt2d")
    ManifestTable.cloneShallow(spark, path, dst)
    assert(ManifestTable.readWithRowIds(spark, dst)
      .select(col("id"), col(ManifestTable.RowIdCol))
      .as[(Long, Long)].collect().toMap === before)
    // an insert on the clone draws above the cloned high water
    ManifestTable.merge(Seq((5000L, 1L)).toDF("id", "k"), dst, "id")
    val cloneIds = ManifestTable.readWithRowIds(spark, dst)
      .select(col("id"), col(ManifestTable.RowIdCol))
      .as[(Long, Long)].collect().toMap
    assert(cloneIds(5000L) > before.values.max)

    // restore: ids roll back with the data, the high water does NOT —
    // a post-restore insert cannot collide with restored rows
    val preMerge = ManifestTable.currentVersion(spark, path).get
    ManifestTable.merge(Seq((6000L, 2L)).toDF("id", "k"), path, "id")
    val mergedMax = ids(path).values.max
    ManifestTable.restore(spark, path, preMerge)
    assert(ids(path) === before, "restore must return the target's ids")
    ManifestTable.merge(Seq((7000L, 3L)).toDF("id", "k"), path, "id")
    val post = ids(path)
    assert(post(7000L) > mergedMax,
      "post-restore insert must draw above the PRE-restore high water")
  }

  test("changesByRowId: rewrite updates classify by stable id with no merge-key metadata; carried rows cancel") {
    val path = tmp("graft_rt4")
    ManifestTable.enableRowTracking(spark, path)
    ManifestTable.write(
      spark.range(0, 200).toDF("id").withColumn("v", col("id") * 2)
        .repartitionByRange(2, col("id")).sortWithinPartitions(col("id")),
      path, statsCols = Seq("id"))
    val idOf = ids(path)

    // an update through a merge rewrite — classified by the stable id
    // alone, no merge-key metadata consulted (works for any rewrite)
    val upd = Seq((7L, -999L)).toDF("id", "v")
    val mv = ManifestTable.merge(upd, path, "id")
    val ch = ManifestTable.changesByRowId(spark, path, mv)
      .select(col("id"), col(ManifestTable.RowIdCol), col("_change"))
      .as[(Long, Long, String)].collect().toSet
    // exactly one pre/post pair under the stable id; rows the rewrite
    // carried (same file, unchanged values) cancel
    assert(ch === Set(
      (7L, idOf(7L), "update_preimage"),
      (7L, idOf(7L), "update_postimage")), s"got $ch")

    // an insert + DV delete version classifies both
    val del = Seq((11L, 0L, true), (5000L, 1L, false)).toDF("id", "v", "_d")
    val mv2 = ManifestTable.merge(del, path, "id", deleteCol = Some("_d"),
      deleteVectors = true)
    val ch2 = ManifestTable.changesByRowId(spark, path, mv2)
      .select(col("id"), col("_change")).as[(Long, String)].collect().toSet
    assert(ch2 === Set((11L, "delete"), (5000L, "insert")), s"got $ch2")

    // a pure compact emits ZERO by-id change rows
    ManifestTable.compact(spark, path, targetFiles = 1)
    val cv = ManifestTable.currentVersion(spark, path).get
    assert(ManifestTable.changesByRowId(spark, path, cv).count() === 0L,
      "compaction must cancel id-for-id")
  }

  test("the table feed with rowIds: change rows carry stable ids; a merge streams as one id-keyed update pair") {
    val path = tmp("graft_rt5")
    ManifestTable.enableRowTracking(spark, path)
    ManifestTable.write(
      spark.range(0, 100).toDF("id").withColumn("v", col("id")), path) // v2
    ManifestTable.append(
      spark.range(100, 150).toDF("id").withColumn("v", col("id")), path) // v3
    ManifestTable.merge(Seq((7L, -7L)).toDF("id", "v"), path, "id")     // v4
    val idOf = ids(path)

    val qName = s"rt_feed_${System.nanoTime()}"
    val q = graft.streaming.TableFeedSource
      .readStream(spark, path, rowIds = true)
      .writeStream.format("memory").queryName(qName)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val out = spark.table(qName)
      .select(col("id"), col(ManifestTable.RowIdCol).as("rid"),
        col("_change"), col("_commit_version"))
      .as[(Long, Long, String, Long)].collect()
    spark.catalog.dropTempView(qName)

    // 150 inserts across v1+v2, each carrying its live row id
    val inserts = out.filter(_._3 == "insert")
    assert(inserts.length === 150)
    inserts.filterNot(_._1 == 7L).foreach { case (k, rid, _, _) =>
      assert(rid === idOf(k), s"insert for key $k must carry its row id") }
    // the merge (v4: enable=1, write=2, append=3) streams as ONE
    // update pair under the same stable id
    val v4 = out.filter(_._4 == 4L)
    assert(v4.map(r => (r._1, r._2, r._3)).toSet ===
      Set((7L, idOf(7L), "update_preimage"), (7L, idOf(7L), "update_postimage")),
      s"got ${v4.toSeq}")
  }

  test("enabling on a non-empty table refuses; appends after enable get disjoint id ranges") {
    val path = tmp("graft_rt3")
    ManifestTable.write(spark.range(0, 10).toDF("id"), path)
    val e = intercept[IllegalArgumentException] {
      ManifestTable.enableRowTracking(spark, path) }
    assert(e.getMessage.contains("non-empty"))

    val p2 = tmp("graft_rt3b")
    ManifestTable.enableRowTracking(spark, p2)
    ManifestTable.write(spark.range(0, 100).toDF("id"), p2)
    ManifestTable.append(spark.range(100, 200).toDF("id"), p2)
    ManifestTable.append(spark.range(200, 300).toDF("id"), p2)
    val all = ManifestTable.readWithRowIds(spark, p2)
      .select(col(ManifestTable.RowIdCol)).as[Long].collect()
    assert(all.length === 300 && all.toSet.size === 300,
      "ids must stay unique across appends")
  }

  test("a caller-supplied batch with DUPLICATE row ids is rejected before anything lands") {
    val path = tmp("graft_rt4")
    ManifestTable.enableRowTracking(spark, path)
    ManifestTable.write(spark.range(0, 10).toDF("id"), path)
    val v1 = ManifestTable.currentVersion(spark, path).get
    val evil = spark.range(0, 5).toDF("id")
      .withColumn(ManifestTable.RowIdCol, lit(42L)) // all the same id
    intercept[IllegalArgumentException] {
      ManifestTable.append(evil, path)
    }
    assert(ManifestTable.currentVersion(spark, path).get === v1,
      "the rejected batch must not commit")
    assert(ManifestTable.read(spark, path).count() === 10)
    // a compaction carries the unique ids verbatim
    ManifestTable.compact(spark, path, targetFiles = 1)
    val ids = ManifestTable.readWithRowIds(spark, path)
      .select(col(ManifestTable.RowIdCol)).as[Long].collect()
    assert(ids.length === 10 && ids.toSet.size === 10)
  }
}
