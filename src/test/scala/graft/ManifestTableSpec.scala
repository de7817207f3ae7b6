package graft

import graft.pipeline.{Incremental, ManifestTable, Medallion}
import org.apache.spark.sql.functions._

class ManifestTableSpec extends SparkSpec {
  import spark.implicits._

  test("a write that dies before commit is invisible: readers still see the previous version") {
    val path = java.nio.file.Files.createTempDirectory("graft_mt").toString + "/t"
    val v1rows = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    val v1 = ManifestTable.write(v1rows.toDF("id", "v"), path)
    assert(v1 === 1L)

    // simulate a refresh job killed mid-write: the snapshot directory
    // for version 2 exists (data fully or partially written) but the
    // process died before the manifest rename — the commit never happened
    Seq((9L, "CRASH"), (10L, "CRASH")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$path/snap-2")

    assert(ManifestTable.currentVersion(spark, path) === Some(1L))
    val seen = ManifestTable.read(spark, path).as[(Long, String)].collect().toSet
    assert(seen === v1rows.toSet, "reader saw uncommitted files")
    assert(Medallion.readTable(spark, path).count() === 3)

    // the writer's retry commits version 2 over the orphan; readers flip
    val v2rows = Seq((1L, "a2"), (4L, "d"))
    assert(ManifestTable.write(v2rows.toDF("id", "v"), path) === 2L)
    assert(ManifestTable.read(spark, path).as[(Long, String)].collect().toSet
      === v2rows.toSet)
    // time travel: the previous committed version is still intact
    assert(ManifestTable.readVersion(spark, path, 1).as[(Long, String)]
      .collect().toSet === v1rows.toSet)
  }

  test("partitioned snapshots keep their partition columns; vacuum drops only old versions") {
    val path = java.nio.file.Files.createTempDirectory("graft_mt2").toString + "/t"
    val rows = Seq((1L, 10, "x"), (2L, 10, "y"), (3L, 20, "z"))
    ManifestTable.write(rows.toDF("id", "part", "v"), path, Seq("part"))
    val got = ManifestTable.read(spark, path)
      .select("id", "part", "v").as[(Long, Int, String)].collect().toSet
    assert(got === rows.toSet, "partition column lost through manifest read")

    ManifestTable.write(rows.toDF("id", "part", "v")
      .withColumn("v", upper(col("v"))), path, Seq("part"))
    assert(ManifestTable.versions(spark, path) === Seq(1L, 2L))
    assert(ManifestTable.vacuum(spark, path, keep = 1) === Seq(1L))
    assert(ManifestTable.versions(spark, path) === Seq(2L))
    assert(!new java.io.File(path).listFiles()
      .exists(f => f.getName == "snap-1" || f.getName.startsWith("snap-1-")))
    // current version unaffected
    assert(ManifestTable.read(spark, path).count() === 3)
    intercept[Exception](ManifestTable.readVersion(spark, path, 1).collect())
  }

  test("a committed version from another writer is never clobbered; the next write lands after it") {
    val path = java.nio.file.Files.createTempDirectory("graft_mt4").toString + "/t"
    ManifestTable.write(Seq((1L, "a")).toDF("id", "v"), path)
    // another writer's committed version 2, with its own snapshot dir
    val winnerSnap = s"$path/snap-2"
    Seq((99L, "winner")).toDF("id", "v").write.parquet(winnerSnap)
    val winnerFile = new java.io.File(winnerSnap).listFiles()
      .map(_.getName).find(_.endsWith(".parquet")).get
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_graft_manifest-v2.json"),
      s"""{"version":2,"files":["snap-2/$winnerFile"]}""")
    val v = ManifestTable.write(Seq((2L, "b")).toDF("id", "v"), path)
    assert(v === 3L)
    assert(ManifestTable.readVersion(spark, path, 2)
      .as[(Long, String)].collect().toSet === Set((99L, "winner")))
    assert(ManifestTable.read(spark, path)
      .as[(Long, String)].collect().toSet === Set((2L, "b")))
    assert(ManifestTable.versions(spark, path) === Seq(1L, 2L, 3L))
  }

  test("two concurrent writers both commit, on distinct versions, neither lost") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = java.nio.file.Files.createTempDirectory("graft_mt5").toString + "/t"
    ManifestTable.write(Seq((0L, "base")).toDF("id", "v"), path)
    val w1 = Future(ManifestTable.write(Seq((1L, "w1")).toDF("id", "v"), path))
    val w2 = Future(ManifestTable.write(Seq((2L, "w2")).toDF("id", "v"), path))
    val vs = Await.result(Future.sequence(Seq(w1, w2)), 120.seconds)
    assert(vs.toSet === Set(2L, 3L), s"versions: $vs")
    assert(ManifestTable.versions(spark, path) === Seq(1L, 2L, 3L))
    val payloads = Seq(2L, 3L).map(v =>
      ManifestTable.readVersion(spark, path, v)
        .as[(Long, String)].collect().toSet).toSet
    assert(payloads === Set(Set((1L, "w1")), Set((2L, "w2"))))
  }

  test("committing an empty partitioned refresh keeps the table readable with full schema") {
    val path = java.nio.file.Files.createTempDirectory("graft_mt6").toString + "/t"
    ManifestTable.write(Seq((1L, 10, "x")).toDF("id", "part", "v"), path, Seq("part"))
    // a refresh that filters down to zero rows: partitioned parquet
    // writes of 0 rows emit NO files; the commit must still be readable
    val empty = Seq((1L, 10, "x")).toDF("id", "part", "v").filter(col("id") < 0)
    assert(ManifestTable.write(empty, path, Seq("part")) === 2L)
    val cur = ManifestTable.read(spark, path)
    assert(cur.count() === 0)
    assert(cur.schema.fieldNames.toSet === Set("id", "part", "v"))
    // previous version untouched
    assert(ManifestTable.readVersion(spark, path, 1).count() === 1)
  }

  test("manifest lists exactly the snapshot's data files, relative to the table root") {
    val path = java.nio.file.Files.createTempDirectory("graft_mt3").toString + "/t"
    ManifestTable.write(Seq((1L, "a")).toDF("id", "v"), path)
    val files = ManifestTable.manifestFiles(spark, path, 1)
    assert(files.nonEmpty)
    assert(files.forall(f => f.startsWith("snap-1") && f.endsWith(".parquet")))
    assert(files.forall(f => new java.io.File(s"$path/$f").isFile))
  }

  test("file stats prune a range-clustered read to the overlapping files only") {
    val path = java.nio.file.Files.createTempDirectory("graft_mt7").toString + "/t"
    // range-cluster on id so files carry disjoint [min,max] — the layout
    // Medallion's Z-order/range clustering produces
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("v", col("id") * 2)
      .repartitionByRange(8, col("id"))
      .sortWithinPartitions(col("id"))
    ManifestTable.write(df, path, statsCols = Seq("id", "v"))

    val stats = ManifestTable.manifestStats(spark, path, 1)
    assert(stats.nonEmpty && stats.values.forall(_.contains("id")))
    assert(stats.values.forall(_("id").complete))

    val (kept, total) = ManifestTable.pruneCount(spark, path, "id", 100, 120)
    assert(total === 8, s"expected 8 clustered files, got $total")
    assert(kept <= 2, s"point-range read should touch <=2 of 8 files, kept $kept")

    // pruned read returns exactly the rows a full-scan filter would
    val pruned = ManifestTable.readNumericRange(spark, path, "id", 100, 120)
      .filter(col("id").between(100, 120)).as[(Long, Long)].collect().toSet
    val full = ManifestTable.read(spark, path)
      .filter(col("id").between(100, 120)).as[(Long, Long)].collect().toSet
    assert(pruned === full && full.size === 21)

    // an out-of-domain range touches zero files but stays readable
    val none = ManifestTable.readNumericRange(spark, path, "id", 5000, 6000)
    assert(none.count() === 0)
    assert(none.schema.fieldNames.toSet === Set("id", "v"))
  }

  test("optimizeZOrder makes file stats prune on BOTH dimensions; content and history survive") {
    val path = java.nio.file.Files.createTempDirectory("graft_mtz").toString + "/t"
    // y is a bijective scramble of id: clustered-by-id files each span
    // the FULL y domain, so a y-range read can prune nothing
    val df = spark.range(0, 4096).toDF("id")
      .withColumn("y", pmod(col("id") * 2654435761L, lit(4096)))
    ManifestTable.write(
      df.repartitionByRange(8, col("id")).sortWithinPartitions(col("id")),
      path, statsCols = Seq("id", "y"))
    assert(ManifestTable.pruneCount(spark, path, "id", 0, 511)._1 <= 2)
    assert(ManifestTable.pruneCount(spark, path, "y", 0, 511) === ((8, 8)),
      "pre-optimize layout must not prune on the scattered dimension")

    // 64 files = the top 6 Z bits = 3 significant bits PER dimension:
    // each file's [min,max] covers ~1/8th of both domains
    val v2 = ManifestTable.optimizeZOrder(spark, path, "y", "id",
      targetFiles = 64)
    assert(v2 === 2L)

    // an eighth-of-domain range read now skips most files on BOTH axes
    val (keptY, totY) = ManifestTable.pruneCount(spark, path, "y", 0, 511)
    val (keptId, totId) = ManifestTable.pruneCount(spark, path, "id", 0, 511)
    assert(totY === 64 && totId === 64)
    assert(keptY <= 14, s"y-range read should touch <=14 of 64 z-ordered files, kept $keptY")
    assert(keptId <= 14, s"id-range read should touch <=14 of 64 z-ordered files, kept $keptId")

    // the rewrite is content-identical and the old layout time-travels
    val before = ManifestTable.readVersion(spark, path, 1)
      .as[(Long, Long)].collect().toSet
    val after = ManifestTable.read(spark, path).as[(Long, Long)].collect().toSet
    assert(after === before && after.size === 4096)

    // pruned read ≡ full-scan filter on the 2-D range
    val pruned = ManifestTable.readNumericRange(spark, path, "y", 0, 511)
      .filter(col("y").between(0, 511) && col("id").between(0, 2047))
      .as[(Long, Long)].collect().toSet
    val full = ManifestTable.read(spark, path)
      .filter(col("y").between(0, 511) && col("id").between(0, 2047))
      .as[(Long, Long)].collect().toSet
    assert(pruned === full)
  }

  test("optimizeZOrderN: three-dimension Morton clustering prunes on ALL axes; key is order-sound") {
    val path = java.nio.file.Files.createTempDirectory("graft_mtz3").toString + "/t"
    // three mutually-scrambled 12-bit dimensions over 4096 rows
    val df = spark.range(0, 4096).toDF("id")
      .withColumn("y", pmod(col("id") * 2654435761L, lit(4096)))
      .withColumn("z", pmod(col("id") * 40503L + 7, lit(4096)))
    ManifestTable.write(
      df.repartitionByRange(8, col("id")).sortWithinPartitions(col("id")),
      path, statsCols = Seq("id", "y", "z"))
    assert(ManifestTable.pruneCount(spark, path, "y", 0, 511) === ((8, 8)))
    assert(ManifestTable.pruneCount(spark, path, "z", 0, 511) === ((8, 8)))

    // 64 files = 6 leading Z bits = TWO significant bits per dimension:
    // each file spans ~a quarter of every domain
    ManifestTable.optimizeZOrderN(spark, path, Seq("id", "y", "z"),
      targetFiles = 64)
    // 2 bits/dim = quarter-block granularity; unaligned range-partition
    // boundaries make files straddle adjacent blocks, so the honest
    // bound for a quarter-domain read is ~a straddled quarter of files
    // per axis — versus NO pruning at all on y/z before the rewrite
    Seq("id", "y", "z").foreach { c =>
      val (kept, total) = ManifestTable.pruneCount(spark, path, c, 0, 1023)
      assert(total === 64, s"$c total $total")
      assert(kept <= 32,
        s"quarter-domain range on '$c' should skip at least half of 64 " +
          s"3-D z-ordered files, kept $kept")
    }
    // content invariant
    assert(ManifestTable.read(spark, path).count() === 4096)
    assert(ManifestTable.read(spark, path)
      .filter(col("y") === pmod(col("id") * 2654435761L, lit(4096)))
      .count() === 4096)

    // the N-ary key itself: interpreted ≡ codegen, and ordering follows
    // the leading dimension bits (order-preservation sanity)
    // probes must differ in the TOP ⌊63/3⌋ bits (the key truncates
    // low bits by design — file clustering only needs leading bits)
    import graft.functions.ZOrderKeyN
    val lo = Int.MinValue
    val mid = 0
    val hi = Int.MaxValue
    val probe = Seq((lo, lo, lo), (mid, mid, mid), (hi, hi, hi))
      .toDF("a", "b", "c")
    val keys = probe.select(ZOrderKeyN.zorderN(spark,
        Seq(col("a"), col("b"), col("c"))).as("k"))
      .as[Long].collect()
    assert(keys(0) < keys(1) && keys(1) < keys(2),
      s"diagonal points must order along the curve: ${keys.toSeq}")
    val interp = ZOrderKeyN(Seq(
      org.apache.spark.sql.catalyst.expressions.Literal(hi),
      org.apache.spark.sql.catalyst.expressions.Literal(hi),
      org.apache.spark.sql.catalyst.expressions.Literal(hi)))
      .eval(null).asInstanceOf[Long]
    assert(interp === keys(2), "interpreted eval must equal codegen result")
  }

  test("optimizeZOrderRanked: quantile normalization keeps pruning tight under heavy key skew") {
    val path = java.nio.file.Files.createTempDirectory("graft_mtzr").toString + "/t"
    // y is HEAVILY skewed (quadratic): under equi-width normalization
    // three quarters of the rows land in the top quarter of the grid
    val df = spark.range(0, 4096).toDF("id")
      .withColumn("y", col("id") * col("id"))
      .withColumn("s", pmod(col("id") * 2654435761L, lit(4096)))
    ManifestTable.write(
      df.repartitionByRange(8, col("s")).sortWithinPartitions(col("s")),
      path, statsCols = Seq("id", "y"))

    ManifestTable.optimizeZOrderRanked(spark, path, "y", "id",
      targetFiles = 64)
    // a rank slice of the skewed dimension (the lowest eighth of ROWS:
    // y <= 512^2 covers ids 0..512) touches few files despite covering
    // a sliver of the VALUE domain
    val (keptY, totY) = ManifestTable.pruneCount(spark, path, "y",
      0, 512.0 * 512.0)
    assert(totY >= 48, s"expected ~64 files, got $totY")
    assert(keptY <= totY / 4,
      s"rank-normalized skewed dim should prune: kept $keptY of $totY")
    // and the uniform dimension prunes too — the curve stayed 2-D
    val (keptId, totId) = ManifestTable.pruneCount(spark, path, "id", 0, 511)
    assert(keptId <= totId / 4,
      s"uniform dim should prune: kept $keptId of $totId")
    // content invariant
    assert(ManifestTable.read(spark, path).count() === 4096)
    assert(ManifestTable.read(spark, path)
      .filter(col("y") =!= col("id") * col("id")).count() === 0)
  }

  test("diff between versions yields the insert/delete change feed") {
    val path = java.nio.file.Files.createTempDirectory("graft_mt9").toString + "/t"
    ManifestTable.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), path)
    // v2: update 2, delete 3, insert 4
    ManifestTable.write(Seq((1L, "a"), (2L, "B2"), (4L, "d")).toDF("id", "v"), path)
    val changes = ManifestTable.diff(spark, path, 1, 2)
      .as[(Long, String, String)].collect().toSet
    assert(changes === Set(
      (2L, "B2", "insert"), (4L, "d", "insert"),
      (2L, "b", "delete"), (3L, "c", "delete")))
    // the reverse diff swaps the change labels
    val reverse = ManifestTable.diff(spark, path, 2, 1)
      .as[(Long, String, String)].collect().toSet
    assert(reverse === Set(
      (2L, "b", "insert"), (3L, "c", "insert"),
      (2L, "B2", "delete"), (4L, "d", "delete")))
  }

  test("compact bin-packs into a new version; old version and skipping survive") {
    val path = java.nio.file.Files.createTempDirectory("graft_mt10").toString + "/t"
    val df = spark.range(0, 1000).toDF("id").withColumn("v", col("id") * 3)
      .repartitionByRange(8, col("id")).sortWithinPartitions(col("id"))
    ManifestTable.write(df, path, statsCols = Seq("id"))
    assert(ManifestTable.manifestFiles(spark, path, 1).size === 8)

    val v2 = ManifestTable.compact(spark, path, targetFiles = 2,
      statsCols = Seq("id"), sortCols = Seq("id"))
    assert(v2 === 2L)
    assert(ManifestTable.manifestFiles(spark, path, 2).size === 2)
    // identical data, refreshed stats, pruning still sound
    assert(ManifestTable.read(spark, path).as[(Long, Long)].collect().toSet
      === df.as[(Long, Long)].collect().toSet)
    val (kept, total) = ManifestTable.pruneCount(spark, path, "id", 0, 100)
    assert(total === 2 && kept === 1, s"re-clustered compact should skip: $kept/$total")
    // pre-compaction version still time-travelable
    assert(ManifestTable.readVersion(spark, path, 1).count() === 1000)
  }

  test("compact keeps a declared PARTITIONED BY layout, flattens an undeclared one, and keeps a file when every row is deleted") {
    val base = java.nio.file.Files.createTempDirectory("graft_mt10p").toString
    val rows = spark.range(1, 41).toDF("id").withColumn("k", col("id") % 2)
    def files(p: String) = ManifestTable.manifestFiles(spark, p,
      ManifestTable.currentVersion(spark, p).get)
    val declared = s"$base/declared"
    ManifestTable.write(rows, declared, partitionCols = Seq("k"),
      partitionColsDecl = Seq("k"))
    ManifestTable.compact(spark, declared)
    assert(files(declared).size === 2 &&
      files(declared).forall(_.contains("k=")), s"${files(declared)}")
    assert(ManifestTable.read(spark, declared).count() === 40)
    // a partitioned write of zero rows stages nothing: the rewrite keeps
    // one schema-bearing file so the table stays readable
    ManifestTable.deleteWhereDV(spark, declared, col("id") > 0, "id")
    ManifestTable.compact(spark, declared)
    assert(files(declared).size === 1)
    assert(ManifestTable.read(spark, declared).count() === 0)
    val undeclared = s"$base/undeclared"
    ManifestTable.write(rows, undeclared, partitionCols = Seq("k"))
    ManifestTable.compact(spark, undeclared)
    assert(files(undeclared).size === 1 &&
      !files(undeclared).exists(_.contains("=")), s"${files(undeclared)}")
    // flat again, so the table takes appends
    ManifestTable.append(rows, undeclared)
    assert(ManifestTable.read(spark, undeclared).count() === 80)
  }

  test("incremental gold state merges exactly, any way the facts are sliced") {
    val orders = Tables.orders(spark, sfTiny)
    val h1 = orders.filter(col("o_orderkey") % 3 === 0)
    val h2 = orders.filter(col("o_orderkey") % 3 === 1)
    val h3 = orders.filter(col("o_orderkey") % 3 === 2)
    val full = Incremental.dailyState(orders)
    val merged = Incremental.mergeDailyState(
      Incremental.mergeDailyState(
        Incremental.dailyState(h1), Incremental.dailyState(h2)),
      Incremental.dailyState(h3))
    // decimal state is associative: merged ≡ full, bit for bit
    assert(merged.exceptAll(full).count() === 0)
    assert(full.exceptAll(merged).count() === 0)
    // presentation view reproduces the declared gold table exactly
    val viaState = Incremental.presentDaily(merged).collect().map(_.toSeq).toSeq
    val declared = graft.ops.Aggregates.goldDailyRevenue(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    assert(viaState === declared)
  }

  test("incremental histogram state: merge is bit-exact; quantiles match the declared query") {
    val orders = Tables.orders(spark, sfTiny)
    val slices = (0 to 2).map(k =>
      orders.filter(col("o_orderkey") % 3 === k))
    val full = Incremental.histogramState(orders)
    val merged = slices.map(Incremental.histogramState(_))
      .reduce(Incremental.mergeHistogramState)
    assert(merged.exceptAll(full).count() === 0)
    assert(full.exceptAll(merged).count() === 0)
    // quantile presentation from maintained state == declared recompute
    val viaState = graft.ops.Sketches.quantilesFromState(merged)
      .collect().map(_.toSeq).toSeq
    val declared = graft.ops.Sketches.monthlyValueQuantiles(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    assert(viaState === declared)
  }

  test("append commits accumulate; idempotent tags replay as no-ops") {
    val path = java.nio.file.Files.createTempDirectory("graft_mt9").toString + "/t"
    assert(ManifestTable.write(Seq((1L, "a")).toDF("id", "v"), path) === 1L)
    assert(ManifestTable.append(Seq((2L, "b")).toDF("id", "v"), path) === 2L)
    assert(ManifestTable.read(spark, path).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
    // previous version untouched (time travel across an append)
    assert(ManifestTable.readVersion(spark, path, 1).count() === 1)
    // the change feed between append versions is pure inserts
    val feed = ManifestTable.diff(spark, path, 1, 2).collect()
    assert(feed.map(_.getString(2)).toSeq === Seq("insert"))

    // tagged append: replaying the same batch tag commits nothing
    val v3 = ManifestTable.appendIdempotent(
      Seq((3L, "c")).toDF("id", "v"), path, tag = "batch-7")
    assert(v3 === 3L)
    val replay = ManifestTable.appendIdempotent(
      Seq((3L, "c")).toDF("id", "v"), path, tag = "batch-7")
    assert(replay === 3L, "replayed tag must return the original commit")
    assert(ManifestTable.currentVersion(spark, path) === Some(3L))
    assert(ManifestTable.read(spark, path).count() === 3)
    assert(ManifestTable.committedVersionOfTag(spark, path, "batch-7")
      === Some(3L))
  }

  test("vacuum never deletes a snapshot an appended version still reads") {
    val path = java.nio.file.Files.createTempDirectory("graft_mt10").toString + "/t"
    ManifestTable.write(Seq((1L, "a")).toDF("id", "v"), path)    // v1
    ManifestTable.append(Seq((2L, "b")).toDF("id", "v"), path)   // v2 = v1 files + new
    // dropping v1 must keep v1's snapshot DIRECTORY (v2 reads from it)
    assert(ManifestTable.vacuum(spark, path, keep = 1) === Seq(1L))
    assert(ManifestTable.versions(spark, path) === Seq(2L))
    assert(ManifestTable.read(spark, path).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")),
      "vacuum deleted files still referenced by the surviving append")

    // after a compaction (self-contained rewrite) the old dirs CAN go
    ManifestTable.compact(spark, path, targetFiles = 1)          // v3
    assert(ManifestTable.vacuum(spark, path, keep = 1) === Seq(2L))
    assert(!new java.io.File(path).listFiles()
      .exists(f => f.getName.startsWith("snap-1-") || f.getName.startsWith("snap-2-")),
      "unreferenced snapshot dirs should be gone after compaction+vacuum")
    assert(ManifestTable.read(spark, path).count() === 2)
  }

  test("carried tag map is bounded by the replay horizon; evicted tags re-append") {
    val path = java.nio.file.Files.createTempDirectory("graft_mt_tags").toString + "/t"
    // the horizon is a per-call parameter (not mutable static state): a
    // writer shrinking it cannot truncate another table's tag map
    ManifestTable.write(Seq((0L, "x")).toDF("id", "v"), path) // v1
    (1 to 3).foreach(i => ManifestTable.appendIdempotent(
      Seq((i.toLong, "w")).toDF("id", "v"), path, tag = s"t$i",
      tagHorizon = 2)) // v2..v4
    // the two newest tags stay replay-protected
    assert(ManifestTable.committedVersionOfTag(spark, path, "t3") === Some(4L))
    assert(ManifestTable.committedVersionOfTag(spark, path, "t2") === Some(3L))
    // the oldest fell off the horizon: a late replay re-appends (the
    // documented boundary — retention must exceed the replay horizon)
    assert(ManifestTable.committedVersionOfTag(spark, path, "t1").isEmpty)
    assert(ManifestTable.appendIdempotent(
      Seq((9L, "r")).toDF("id", "v"), path, tag = "t1") === 5L)
  }

  test("stress: 8 concurrent tagged appenders, vacuum racing an old-version reader, replay after vacuum") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val path = java.nio.file.Files.createTempDirectory("graft_mt_stress").toString + "/t"
    assert(ManifestTable.write(Seq((0L, "base")).toDF("id", "v"), path) === 1L)

    // 8 writers race distinct tags concurrently; OCC must land each
    // exactly once (attempts sized for the worst losing streak)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val committed = Await.result(
      Future.sequence((1 to 8).map { i =>
        Future(ManifestTable.appendIdempotent(
          Seq((i.toLong, s"w$i")).toDF("id", "v"), path,
          tag = s"batch-$i", maxAttempts = 64))
      }), 180.seconds)
    assert(committed.toSet.size === 8, s"duplicate/lost commits: $committed")
    assert(ManifestTable.versions(spark, path) === (1L to 9L),
      "every racer must land on a distinct consecutive version")
    assert(ManifestTable.read(spark, path).as[(Long, String)].collect().toSet
      === ((0L, "base") +: (1 to 8).map(i => (i.toLong, s"w$i"))).toSet,
      "a committed batch was lost or duplicated")
    (1 to 8).foreach { i =>
      assert(ManifestTable.committedVersionOfTag(spark, path, s"batch-$i").isDefined)
    }

    // reader pinned at version 5 (file list resolved at construction)
    // races a vacuum that drops every manifest but the newest; the
    // append chain still references the old snapshot dirs, so the
    // reader's snapshot stays exactly what version 5 committed
    val expected5 = ManifestTable.readVersion(spark, path, 5)
      .as[(Long, String)].collect().toSet
    val raced = ManifestTable.readVersion(spark, path, 5)
    val readF = Future(raced.as[(Long, String)].collect().toSet)
    val vacF = Future(ManifestTable.vacuum(spark, path, keep = 1))
    assert(Await.result(readF, 120.seconds) === expected5,
      "racing reader saw an inconsistent snapshot")
    assert(Await.result(vacF, 120.seconds) === (1L to 8L))
    pool.shutdown()

    // no dangling state: exactly the surviving manifest remains, every
    // file it names exists, every snapshot dir on disk is referenced
    assert(ManifestTable.versions(spark, path) === Seq(9L))
    val files = ManifestTable.manifestFiles(spark, path, 9L)
    files.foreach(f => assert(new java.io.File(s"$path/$f").exists(),
      s"surviving manifest names a vacuumed file: $f"))
    val referenced = files.map(_.split("/").head).toSet
    val onDisk = new java.io.File(path).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("snap-"))
      .map(_.getName).toSet
    assert(onDisk === referenced,
      s"dangling snapshot dirs after vacuum: ${onDisk -- referenced}")

    // replay protection SURVIVES the vacuum: the tag map rode forward,
    // so a late redelivery of any batch still no-ops
    (1 to 8).foreach { i =>
      val v = ManifestTable.appendIdempotent(
        Seq((99L, "dup")).toDF("id", "v"), path, tag = s"batch-$i")
      assert(v === committed(i - 1),
        s"batch-$i replayed after vacuum re-committed (got v$v)")
    }
    assert(ManifestTable.currentVersion(spark, path) === Some(9L))
    assert(ManifestTable.read(spark, path).count() === 9)
  }

  test("streaming bronze through the manifest sink: atomic batches, replay-safe tags") {
    val base = java.nio.file.Files.createTempDirectory("graft_mt11").toString
    val src = java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(s"$base/src"))
    java.nio.file.Files.createSymbolicLink(
      src.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sfTiny/events.parquet"))
    val table = s"$base/bronze"
    val (committed, skipped) = graft.streaming.EventsStream
      .streamToManifestBronze(spark, src.toString, table, s"$base/ckpt")
    assert(committed >= 1 && skipped === 0)
    val viaStream = ManifestTable.read(spark, table)
    val viaBatch = graft.ops.Relational.bronzeIngest(spark, sfTiny)
    assert(viaStream.count() === viaBatch.count())
    assert(viaStream.select("event_id").as[Long].collect().sorted.toSeq
      === viaBatch.select("event_id").as[Long].collect().sorted.toSeq)

    // same checkpoint, nothing new: no batches, no duplicates
    val (c2, s2) = graft.streaming.EventsStream
      .streamToManifestBronze(spark, src.toString, table, s"$base/ckpt")
    assert(c2 === 0L && s2 === 0L)
    assert(ManifestTable.read(spark, table).count() === viaBatch.count())

    // simulate the crash-between-commit-and-checkpoint replay: the
    // sink sees the same batch id again and must skip it
    val tag = "events-bronze-batch-0"
    val v = ManifestTable.committedVersionOfTag(spark, table, tag)
    assert(v.nonEmpty, "batch 0 should have committed under its tag")
    val replayed = ManifestTable.appendIdempotent(
      viaBatch.limit(5), table, tag)
    assert(replayed === v.get, "replayed batch must no-op onto its commit")
    assert(ManifestTable.read(spark, table).count() === viaBatch.count())
  }

  test("streaming incremental gold: stream-maintained state equals the batch gold, replay-safe") {
    val base = java.nio.file.Files.createTempDirectory("graft_mt13").toString
    val src = java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(s"$base/src"))
    java.nio.file.Files.createSymbolicLink(
      src.resolve("orders.parquet"),
      java.nio.file.Paths.get(s"$sfTiny/orders.parquet"))
    val state = s"$base/gold_state"
    val (merged, skipped) = graft.streaming.EventsStream
      .streamGoldDaily(spark, src.toString, state, s"$base/ckpt")
    assert(merged >= 1 && skipped === 0)

    // the stream-maintained gold equals the batch gold, value for value
    val viaStream = Incremental.presentDaily(ManifestTable.read(spark, state))
      .collect().map(_.toSeq).toSeq
    val viaBatch = graft.ops.Aggregates.goldDailyRevenue(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    assert(viaStream === viaBatch)

    // a second run over the same checkpoint drains nothing new
    val (m2, s2) = graft.streaming.EventsStream
      .streamGoldDaily(spark, src.toString, state, s"$base/ckpt")
    assert(m2 === 0L && s2 === 0L)

    // full replay (lost checkpoint): AvailableNow over the same files
    // re-delivers the same batches under the same ids — every one must
    // hit its committed tag and skip, never double-merging a delta
    // (a double-merged sum would silently inflate the gold table)
    val before = ManifestTable.currentVersion(spark, state)
    val (m3, s3) = graft.streaming.EventsStream
      .streamGoldDaily(spark, src.toString, state, s"$base/ckpt2")
    assert(m3 === 0L && s3 === merged, s"expected $merged replay skips, got $s3")
    assert(ManifestTable.currentVersion(spark, state) === before,
      "replayed batches must commit nothing")
    assert(Incremental.presentDaily(ManifestTable.read(spark, state))
      .collect().map(_.toSeq).toSeq === viaBatch)
  }

  test("streaming quantile gold: stream-maintained histogram equals the declared rollup, replay-safe") {
    val base = java.nio.file.Files.createTempDirectory("graft_mt14").toString
    val src = java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(s"$base/src"))
    java.nio.file.Files.createSymbolicLink(
      src.resolve("orders.parquet"),
      java.nio.file.Paths.get(s"$sfTiny/orders.parquet"))
    val state = s"$base/q_state"
    val (merged, skipped) = graft.streaming.EventsStream
      .streamGoldQuantiles(spark, src.toString, state, s"$base/ckpt")
    assert(merged >= 1 && skipped === 0)
    val viaStream = graft.ops.Sketches
      .quantilesFromState(ManifestTable.read(spark, state))
      .collect().map(_.toSeq).toSeq
    val declared = graft.ops.Sketches.monthlyValueQuantiles(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    assert(viaStream === declared)
    // lost-checkpoint replay: every batch hits its tag, state unchanged
    val before = ManifestTable.currentVersion(spark, state)
    val (m2, s2) = graft.streaming.EventsStream
      .streamGoldQuantiles(spark, src.toString, state, s"$base/ckpt2")
    assert(m2 === 0L && s2 === merged)
    assert(ManifestTable.currentVersion(spark, state) === before)
  }

  test("schema rides the manifest: additive evolution on append, type changes rejected") {
    val path = java.nio.file.Files.createTempDirectory("graft_mt12").toString + "/t"
    ManifestTable.write(Seq((1L, "a")).toDF("id", "v"), path)            // v1
    // append a batch carrying a NEW column: table schema evolves
    ManifestTable.append(Seq((2L, "b", 9.5)).toDF("id", "v", "score"), path) // v2
    val cur = ManifestTable.read(spark, path)
    assert(cur.columns.toSeq === Seq("id", "v", "score"))
    val byId = cur.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(byId === Map(1L -> None, 2L -> Some(9.5)),
      "pre-evolution rows must read the new column as null")
    // time travel keeps the old shape
    assert(ManifestTable.readVersion(spark, path, 1).columns.toSeq
      === Seq("id", "v"))
    // a type change on a shared column must refuse to commit
    val err = intercept[IllegalArgumentException] {
      ManifestTable.append(Seq((3, 7)).toDF("id", "v"), path)
    }
    assert(err.getMessage.contains("changes type"))
    assert(ManifestTable.currentVersion(spark, path) === Some(2L),
      "rejected append must not have committed")
  }

  test("append guards and stats carry: partitioned base rejected, skipping index survives untagged appends") {
    // appending onto a partitioned base would commit a mixed layout
    // Spark cannot read — must fail fast, committing nothing
    val p1 = java.nio.file.Files.createTempDirectory("graft_mt14").toString + "/t"
    ManifestTable.write(Seq((1L, 10, "x")).toDF("id", "part", "v"), p1, Seq("part"))
    intercept[IllegalArgumentException] {
      ManifestTable.append(Seq((2L, 10, "y")).toDF("id", "part", "v"), p1)
    }
    assert(ManifestTable.currentVersion(spark, p1) === Some(1L))

    // an append WITHOUT statsCols must not strip the history's
    // data-skipping stats — only its own new files go unindexed
    val p2 = java.nio.file.Files.createTempDirectory("graft_mt15").toString + "/t"
    ManifestTable.write(spark.range(0, 100).toDF("id"), p2, statsCols = Seq("id"))
    ManifestTable.append(spark.range(100, 110).toDF("id"), p2) // no statsCols
    val stats = ManifestTable.manifestStats(spark, p2, 2)
    assert(stats.nonEmpty, "carried stats dropped by a stats-less append")
    // pruned read stays complete: indexed files prune, unindexed are kept
    assert(ManifestTable.readNumericRange(spark, p2, "id", 0, 5).count()
      >= 6 + 10 - 10) // at least the matching rows; unindexed files add theirs
    assert(ManifestTable.readNumericRange(spark, p2, "id", 0, 200).count() === 110)

    // pruned reads follow the recorded schema like read() does
    val p3 = java.nio.file.Files.createTempDirectory("graft_mt16").toString + "/t"
    ManifestTable.write(Seq((1L, "a")).toDF("id", "v"), p3, statsCols = Seq("id"))
    ManifestTable.append(Seq((2L, "b", 9.5)).toDF("id", "v", "score"), p3,
      statsCols = Seq("id"))
    val pruned = ManifestTable.readNumericRange(spark, p3, "id", 0, 100)
    assert(pruned.columns.toSeq === ManifestTable.read(spark, p3).columns.toSeq,
      "stats-pruned read must present the evolved schema")
    assert(pruned.count() === 2)
  }

  test("keyed merge: update wins, insert on no-match, delete drops the key") {
    val path = java.nio.file.Files.createTempDirectory("graft_mg1").toString + "/t"
    ManifestTable.write(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
        .toDF("id", "v", "x"), path)
    val updates = Seq(
      (2L, "B2", 99.0, false),  // update
      (9L, "new", 1.0, false),  // insert (matches nothing)
      (3L, "c", 30.0, true))    // delete
      .toDF("id", "v", "x", "_del")
    val v = ManifestTable.merge(updates, path, "id", deleteCol = Some("_del"))
    assert(v === 2L)
    val got = ManifestTable.read(spark, path)
      .select("id", "v", "x").as[(Long, String, Double)].collect().toSet
    assert(got === Set((1L, "a", 10.0), (2L, "B2", 99.0),
      (4L, "d", 40.0), (9L, "new", 1.0)))
    // time travel: pre-merge version intact
    assert(ManifestTable.readVersion(spark, path, 1).count() === 4)
    // schema contract: extra/missing columns refuse to commit
    intercept[IllegalArgumentException] {
      ManifestTable.merge(Seq((1L, "z")).toDF("id", "v"), path, "id")
    }
    assert(ManifestTable.currentVersion(spark, path) === Some(2L))
  }

  test("merge is copy-on-write: untouched files are physically the same bytes, pruned by key stats") {
    val path = java.nio.file.Files.createTempDirectory("graft_mg2").toString + "/t"
    // key-clustered base: 4 files with disjoint id ranges + key stats
    ManifestTable.write(
      spark.range(0, 400).toDF("id").withColumn("v", col("id") * 2)
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      path, statsCols = Seq("id"))
    val baseFiles = ManifestTable.manifestFiles(spark, path, 1)
    assert(baseFiles.size === 4)
    val sig = baseFiles.map { rel =>
      val f = new java.io.File(s"$path/$rel")
      rel -> (f.length, f.lastModified)
    }.toMap

    // update keys 10..19 — they live in exactly one range file
    val updates = spark.range(10, 20).toDF("id")
      .withColumn("v", lit(-1L))
    ManifestTable.merge(updates, path, "id", statsCols = Seq("id"))
    val after = ManifestTable.manifestFiles(spark, path, 2)
    val kept = after.filter(baseFiles.contains)
    val rewritten = baseFiles.filterNot(after.contains)
    assert(rewritten.size === 1,
      s"narrow-range merge must rewrite exactly the one touched file, got $rewritten")
    // untouched files: same paths, same bytes on disk (never rewritten)
    kept.foreach { rel =>
      val f = new java.io.File(s"$path/$rel")
      assert((f.length, f.lastModified) === sig(rel),
        s"untouched file $rel was rewritten")
    }
    // merged content is right
    val got = ManifestTable.read(spark, path)
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(got.size === 400)
    (10L until 20L).foreach(k => assert(got(k) === -1L))
    assert(got(9L) === 18L && got(20L) === 40L)
    // the data-skipping index survives the merge on both sides
    val (cand, total) = ManifestTable.pruneCount(spark, path, "id", 10, 19)
    assert(total === after.size && cand < total,
      "merged table lost its key stats — future merges cannot prune")
  }

  test("cluster-aware merge: the rewritten file is re-sorted in place") {
    val path = java.nio.file.Files.createTempDirectory("graft_mg5").toString + "/t"
    ManifestTable.write(
      spark.range(0, 200).toDF("id").withColumn("v", col("id"))
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      path, statsCols = Seq("id"))
    val before = ManifestTable.manifestFiles(spark, path, 1)
    ManifestTable.merge(
      spark.range(10, 20).toDF("id").withColumn("v", lit(-1L)),
      path, "id", statsCols = Seq("id"), sortCols = Seq("id"))
    val staged = ManifestTable.manifestFiles(spark, path, 2)
      .filterNot(before.contains)
    assert(staged.size === 1)
    // the rewritten file keeps the table's clustering: ids ascending
    // inside the file (what keeps row-group stats tight under churn)
    val ids = spark.read.parquet(s"$path/${staged.head}")
      .select("id").as[Long].collect()
    assert(ids.toSeq === ids.sorted.toSeq, "rewrite lost the sort order")
    assert(ids.toSet === (0L until 100L).toSet)
  }

  test("merge operates on an additively evolved table") {
    val path = java.nio.file.Files.createTempDirectory("graft_mg4").toString + "/t"
    ManifestTable.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)   // v1
    ManifestTable.append(Seq((3L, "c", 9.5)).toDF("id", "v", "score"), path) // v2 evolves
    // updates must carry the EVOLVED schema; pre-evolution rows read
    // score as null through the rewrite
    val updates = Seq(
      (1L, "A", Some(1.5), false),   // update a pre-evolution row
      (4L, "d", None, false),        // insert
      (3L, "c", None, true))         // delete the evolved row
      .toDF("id", "v", "score", "_del")
    ManifestTable.merge(updates, path, "id", deleteCol = Some("_del"))
    val got = ManifestTable.read(spark, path)
      .select("id", "v", "score").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(got === Set(
      (1L, "A", Some(1.5)), (2L, "b", None), (4L, "d", None)))
    // pre-evolution shape refused (merge never evolves schema)
    intercept[IllegalArgumentException] {
      ManifestTable.merge(Seq((2L, "x")).toDF("id", "v"), path, "id")
    }
  }

  test("merge churn is bounded by the compaction policy; clustering and pruning restored") {
    val path = java.nio.file.Files.createTempDirectory("graft_mg7").toString + "/t"
    ManifestTable.write(
      spark.range(0, 400).toDF("id").withColumn("v", col("id"))
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      path, statsCols = Seq("id"))
    // churn: update merges replace files 1:1 (the coalesce discipline —
    // file count must NOT grow), then insert-only merges, which add one
    // staged file each
    ManifestTable.merge(
      spark.range(10, 15).toDF("id").withColumn("v", lit(-1L)),
      path, "id", statsCols = Seq("id"))
    assert(ManifestTable.manifestFiles(spark, path,
      ManifestTable.currentVersion(spark, path).get).size === 4,
      "an update merge must replace files 1:1, not fragment")
    (0 until 6).foreach { i =>
      ManifestTable.merge(
        spark.range(1000 + i * 10, 1000 + i * 10 + 5).toDF("id")
          .withColumn("v", lit(-1L)),
        path, "id", statsCols = Seq("id"))
      // under the threshold nothing compacts
      assert(ManifestTable.compactIfFragmented(spark, path, maxFiles = 64,
        statsCols = Seq("id")).isEmpty)
    }
    val cur = ManifestTable.currentVersion(spark, path).get
    val before = ManifestTable.manifestFiles(spark, path, cur).size
    assert(before > 4, "insert churn should have grown the file list")
    // policy triggers: re-clustered, re-indexed, file count restored
    val v = ManifestTable.compactIfFragmented(spark, path, maxFiles = 4,
      targetFiles = 4, statsCols = Seq("id"), sortCols = Seq("id"))
    assert(v.isDefined)
    assert(ManifestTable.manifestFiles(spark, path, v.get).size === 4)
    val got = ManifestTable.read(spark, path)
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(got.size === 430)
    (10 until 15).foreach(k => assert(got(k.toLong) === -1L))
    (0 until 6).foreach(i =>
      (1000 + i * 10 until 1000 + i * 10 + 5).foreach(k =>
        assert(got(k.toLong) === -1L)))
    val (cand, total) = ManifestTable.pruneCount(spark, path, "id", 0, 50)
    assert(total === 4 && cand < total,
      "compaction must restore the data-skipping index")
  }

  test("conditional merge: clauses fire per row; unfired matches keep the base row") {
    val path = java.nio.file.Files.createTempDirectory("graft_mg6").toString + "/t"
    ManifestTable.write(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
        .toDF("id", "v", "x"), path)
    // conditions see update columns plainly and base columns as _b_*
    val updates = Seq(
      (1L, "A", 5.0),    // matched, update fires (x < base x)
      (2L, "B", 99.0),   // matched, NO clause fires → base row kept
      (3L, "c", 0.0),    // matched, delete fires (update x == 0)
      (8L, "new", 1.0),  // unmatched, insert fires (x < 50)
      (9L, "no", 77.0))  // unmatched, insert condition fails → dropped
      .toDF("id", "v", "x")
    ManifestTable.mergeConditional(updates, path, "id",
      whenMatchedUpdate = Some(col("x") < col("_b_x")),
      whenMatchedDelete = Some(col("x") === 0.0),
      whenNotMatchedInsert = Some(col("x") < 50.0))
    val got = ManifestTable.read(spark, path)
      .select("id", "v", "x").as[(Long, String, Double)].collect().toSet
    assert(got === Set(
      (1L, "A", 5.0),    // updated
      (2L, "b", 20.0),   // base kept (update withheld)
      (4L, "d", 40.0),   // untouched
      (8L, "new", 1.0))) // inserted; 3 deleted, 9 dropped
    // ambiguous multi-match refuses to commit
    intercept[IllegalArgumentException] {
      ManifestTable.mergeConditional(
        Seq((1L, "p", 1.0), (1L, "q", 2.0)).toDF("id", "v", "x"), path, "id")
    }
    assert(ManifestTable.currentVersion(spark, path) === Some(2L))
    // replay idempotence composes through the conditional layer
    val v3 = ManifestTable.mergeConditional(
      Seq((4L, "D", 1.0)).toDF("id", "v", "x"), path, "id",
      tag = Some("cond-1"))
    assert(ManifestTable.mergeConditional(
      Seq((4L, "D", 1.0)).toDF("id", "v", "x"), path, "id",
      tag = Some("cond-1")) === v3)
  }

  test("merge replays idempotently by tag and stays in the OCC loop") {
    val path = java.nio.file.Files.createTempDirectory("graft_mg3").toString + "/t"
    ManifestTable.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    val updates = Seq((2L, "B")).toDF("id", "v")
    val v = ManifestTable.merge(updates, path, "id", tag = Some("batch-7"))
    assert(v === 2L)
    // redelivered merge with the committed tag: no-op, same version back
    assert(ManifestTable.merge(updates, path, "id", tag = Some("batch-7")) === 2L)
    assert(ManifestTable.currentVersion(spark, path) === Some(2L))
    assert(ManifestTable.read(spark, path).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "B")))
  }

  test("merge model check: random upsert/delete sequences match a reference Map, every version time-travelable") {
    val path = java.nio.file.Files.createTempDirectory("graft_mg_prop").toString + "/t"
    // deterministic LCG (house convention — scalatest-plus bridge is
    // not in the offline dep set)
    var seed = 0x5DEECE66DL
    def next(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    val model = scala.collection.mutable.Map.empty[Long, Long]
    // base: 30 keys
    val base = (0 until 30).map(k => (k.toLong, next(1000).toLong))
    base.foreach { case (k, v) => model(k) = v }
    ManifestTable.write(base.toDF("id", "v"), path, statsCols = Seq("id"))

    (1 to 8).foreach { round =>
      // random batch: 1-6 key-unique ops over keys 0..39 (some miss)
      val nOps = 1 + next(6)
      val keys = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (keys.size < nOps) keys += next(40).toLong
      val ops = keys.toSeq.map { k =>
        val del = next(4) == 0
        val v = next(1000).toLong
        (k, v, del)
      }
      ops.foreach { case (k, v, del) =>
        if (del) model.remove(k) else model(k) = v
      }
      ManifestTable.merge(ops.toDF("id", "v", "_del"), path, "id",
        deleteCol = Some("_del"), statsCols = Seq("id"))
      val got = ManifestTable.read(spark, path)
        .as[(Long, Long)].collect().toMap
      assert(got === model.toMap, s"divergence after round $round: $ops")
    }
    // every intermediate version still reads (no merge broke history),
    // and the version count is base + rounds
    val vs = ManifestTable.versions(spark, path)
    assert(vs === (1L to 9L))
    vs.foreach(v =>
      assert(ManifestTable.readVersion(spark, path, v).count() > 0))
  }

  test("reads stay sound when stats are absent or the column is unknown") {
    val path = java.nio.file.Files.createTempDirectory("graft_mt8").toString + "/t"
    ManifestTable.write(spark.range(0, 100).toDF("id"), path) // no statsCols
    assert(ManifestTable.manifestStats(spark, path, 1) === Map.empty)
    // without stats nothing can be pruned — full data comes back
    assert(ManifestTable.readNumericRange(spark, path, "id", 0, 1).count() === 100)
    // stats recorded, but the queried column has none → no pruning either
    ManifestTable.write(spark.range(0, 100).toDF("id"), path, statsCols = Seq("id"))
    assert(ManifestTable
      .readNumericRange(spark, path, "nope", 0, 1).count() === 100)
  }
}
