package graft

import graft.pipeline.ManifestTable
import org.apache.spark.sql.functions._

/** Keyless predicate UPDATE / DELETE (round 11): copy-on-write rewrite
  * of only the files holding matching rows, discovered by one
  * filter-pushed name-only scan.
  */
class UpdateDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def fileSig(path: String, rels: Seq[String]): Map[String, (Long, Long)] =
    rels.map { rel =>
      val f = new java.io.File(s"$path/$rel")
      rel -> ((f.length, f.lastModified))
    }.toMap

  test("updateWhere rewrites ONLY matching files; untouched files carry byte-identical; null cond rows unchanged") {
    val path = java.nio.file.Files.createTempDirectory("graft_upd1").toString + "/t"
    // range-clustered on id so the predicate isolates one file
    val df = spark.range(0, 400).toDF("id")
      .withColumn("v", col("id") * 10)
      .withColumn("flag", when(col("id") % 100 === 0, lit(null: String))
        .otherwise(concat(lit("f"), col("id") % 2)))
    ManifestTable.write(
      df.repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      path, statsCols = Seq("id"))
    val files1 = ManifestTable.manifestFiles(spark, path, 1)
    assert(files1.size === 4)
    val sig = fileSig(path, files1)
    // predicate true only for ids 0..49 → exactly one file of the four
    val v = ManifestTable.updateWhere(spark, path,
      Seq("v" -> lit(-1L)), col("id") < 50 && col("flag").isNotNull)
    assert(v === 2L)
    val files2 = ManifestTable.manifestFiles(spark, path, 2)
    val carried = files2.filter(files1.contains)
    assert(carried.size === 3, s"3 of 4 files must carry: $files2")
    carried.foreach { rel =>
      val f = new java.io.File(s"$path/$rel")
      assert((f.length, f.lastModified) === sig(rel), s"$rel was rewritten")
    }
    val got = ManifestTable.read(spark, path)
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(got.size === 400)
    // id=0 has NULL flag → cond NULL → unchanged (SQL semantics)
    assert(got(0L) === 0L)
    (1L until 50L).foreach(i => assert(got(i) === -1L, s"id=$i"))
    (50L until 400L).foreach(i => assert(got(i) === i * 10))
    // stats survived the rewrite without re-declaration: prune works
    val (cand, total) = ManifestTable.pruneCount(spark, path, "id", 399.0, 399.0)
    assert(cand < total, "inherited stats must keep pruning after UPDATE")
    // no-match update: NO new version
    val v2 = ManifestTable.updateWhere(spark, path,
      Seq("v" -> lit(0L)), col("id") > 100000)
    assert(v2 === 2L, "a no-match UPDATE must not commit")
  }

  test("deleteWhere removes matching rows only; generated columns and constraints recompute/enforce through updateWhere") {
    val path = java.nio.file.Files.createTempDirectory("graft_upd2").toString + "/t"
    ManifestTable.write(
      spark.range(0, 100).toDF("id").withColumn("v", col("id") + 1000L)
        .repartitionByRange(2, col("id")), path)
    val dv = ManifestTable.deleteWhere(spark, path, col("id") % 10 === 3)
    assert(dv === 2L)
    val ids = ManifestTable.read(spark, path).select("id").as[Long]
      .collect().toSet
    assert(ids.size === 90 && !ids(3L) && !ids(13L) && ids(4L))
    // history classifies the new verbs
    val ops = ManifestTable.history(spark, path)
      .select("version", "operation").as[(Long, String)].collect().toMap
    assert(ops(2L) === "DELETE")
    // generated column recomputes when UPDATE touches its source
    val p2 = java.nio.file.Files.createTempDirectory("graft_upd3").toString + "/t"
    ManifestTable.addGeneratedColumn(spark, p2, "v2", "v * 2")
    ManifestTable.write(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), p2)
    assert(ManifestTable.read(spark, p2).filter(col("id") === 1)
      .select("v2").head().getLong(0) === 20L)
    ManifestTable.updateWhere(spark, p2, Seq("v" -> lit(100L)),
      col("id") === 1)
    assert(ManifestTable.read(spark, p2).filter(col("id") === 1)
      .select("v2").head().getLong(0) === 200L,
      "generated column must recompute from the updated source")
    // SET directly on a generated column is refused
    intercept[IllegalArgumentException] {
      ManifestTable.updateWhere(spark, p2, Seq("v2" -> lit(0L)),
        col("id") === 1)
    }
    // constraint blocks an UPDATE that would violate it
    ManifestTable.addCheckConstraint(spark, p2, "v_pos", "v > 0")
    intercept[Exception] {
      ManifestTable.updateWhere(spark, p2, Seq("v" -> lit(-5L)),
        col("id") === 2)
    }
    assert(ManifestTable.read(spark, p2).filter(col("id") === 2)
      .select("v").head().getLong(0) === 20L, "failed UPDATE must not land")
  }

  test("condBounds extracts necessary ranges from conjuncts (sound: OR contributes nothing, non-numeric leaves ignored)") {
    val b1 = ManifestTable.condBounds(
      col("id") >= 10 && col("id") < 50 && col("flag") === "x")
    assert(b1("id") === ((10.0, 50.0)))
    assert(!b1.contains("flag"), "string equality must not bound")
    // reversed operand order and equality
    val b2 = ManifestTable.condBounds(lit(100) > col("v") && col("k") === 7)
    assert(b2("v") === ((Double.NegativeInfinity, 100.0)))
    assert(b2("k") === ((7.0, 7.0)))
    // an OR is ONE conjunct — no necessary range may escape it
    val b3 = ManifestTable.condBounds(col("a") < 5 || col("a") > 100)
    assert(b3.isEmpty, s"disjunction must not bound: $b3")
    // contradictory conjuncts yield an empty interval (prunes all)
    val b4 = ManifestTable.condBounds(col("a") > 10 && col("a") < 5)
    assert(b4("a")._1 > b4("a")._2)
  }

  test("an IN list prunes to the files whose [min, max] hold a listed key; the DV delete kills the same rows") {
    val path = java.nio.file.Files.createTempDirectory("graft_upd_in").toString + "/t"
    ManifestTable.write(
      spark.range(0, 1600).toDF("o_orderkey").withColumn("v", col("o_orderkey"))
        .repartitionByRange(16, col("o_orderkey")).sortWithinPartitions("o_orderkey"),
      path, statsCols = Seq("o_orderkey"))
    val st = ManifestTable.resolveState(spark, path, 1L)
    assert(st.files.size === 16)
    val keys = Seq(5L, 410L, 1599L, 99999L)
    def holding(ks: Seq[Long]): Set[String] = st.files.filter { f =>
      val s = st.stats(f)("o_orderkey")
      ks.exists(k => s.min.toString.toLong <= k && k <= s.max.toString.toLong)
    }.toSet
    val cond = col("o_orderkey").isin(keys: _*)
    val cand = ManifestTable.condCandidates(st, cond)
    assert(cand.toSet === holding(keys) && cand.size === 3, s"candidates: $cand")
    // null literals never make IN true; a non-numeric literal (or an OR)
    // leaves the prune unsure, so every file stays
    assert(ManifestTable.condCandidates(st,
      col("o_orderkey").isin(5L, null)).toSet === holding(Seq(5L)))
    assert(ManifestTable.condCandidates(st,
      col("o_orderkey").isin(5L, "x")).size === 16)
    assert(ManifestTable.condCandidates(st,
      col("o_orderkey").isin(5L) || col("v") === 900L).size === 16)
    // a range conjunct narrows the points; two IN lists intersect
    assert(ManifestTable.condCandidates(st,
      cond && col("o_orderkey") > 100L).toSet === holding(Seq(410L, 1599L)))
    assert(ManifestTable.condCandidates(st,
      cond && col("o_orderkey").isin(410L, 7L)).toSet === holding(Seq(410L)))
    ManifestTable.deleteWhereDV(spark, path, cond, "o_orderkey")
    val st2 = ManifestTable.resolveState(spark, path, 2L)
    val killed = spark.read.parquet(st2.dvFiles.map(f => s"$path/$f"): _*)
    assert(killed.select("_graft_dv_key").as[Long].collect().toSet ===
      Set(5L, 410L, 1599L))
    assert(killed.select("_graft_dv_file").as[String].collect().toSet ===
      holding(keys).map(_.split("/").last))
    assert(ManifestTable.read(spark, path).select("o_orderkey").as[Long]
      .collect().toSet === (0L until 1600L).toSet -- Set(5L, 410L, 1599L))
  }

  test("updateWhere pre-prunes whole files from manifest stats before the detection scan") {
    val path = java.nio.file.Files.createTempDirectory("graft_upd5").toString + "/t"
    ManifestTable.write(
      spark.range(0, 400).toDF("id").withColumn("v", col("id"))
        .repartitionByRange(8, col("id")).sortWithinPartitions("id"),
      path, statsCols = Seq("id"))
    // the necessary range id in [0, 49] intersects exactly 1 of 8 files
    val (cand, total) = ManifestTable.pruneCount(spark, path, "id", 0.0, 49.0)
    assert(total === 8 && cand === 1, s"fixture: $cand/$total")
    // the same prune drives the rewrite: correct result, one rewritten
    // file, 7 carried verbatim
    val files1 = ManifestTable.manifestFiles(spark, path, 1)
    ManifestTable.updateWhere(spark, path, Seq("v" -> lit(-1L)),
      col("id") <= 49 && col("id") >= 0 && col("v") % 2 === 0)
    val files2 = ManifestTable.manifestFiles(spark, path, 2)
    assert(files2.count(files1.contains) === 7,
      "stats-pruned files must carry verbatim")
    val got = ManifestTable.read(spark, path).select("id", "v")
      .as[(Long, Long)].collect().toMap
    (0L until 50L).foreach(i =>
      assert(got(i) === (if (i % 2 == 0) -1L else i)))
    (50L until 400L).foreach(i => assert(got(i) === i))
  }

  test("deleteWhereDV: predicate delete as a deletion-vector sidecar — zero data files touched; reads, CDC, and compact fold it") {
    val path = java.nio.file.Files.createTempDirectory("graft_upd8").toString + "/t"
    ManifestTable.write(
      spark.range(0, 400).toDF("id").withColumn("v", col("id") * 3)
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      path, statsCols = Seq("id"))
    val files1 = ManifestTable.manifestFiles(spark, path, 1)
    val sig = files1.map { rel =>
      val f = new java.io.File(s"$path/$rel")
      rel -> ((f.length, f.lastModified))
    }.toMap
    // sparse predicate delete → DV sidecar only
    val v = ManifestTable.deleteWhereDV(spark, path,
      col("id") % 50 === 3, key = "id")
    assert(v === 2L)
    val files2 = ManifestTable.manifestFiles(spark, path, 2)
    assert(files2 === files1, "a DV delete must not add or remove data files")
    files1.foreach { rel =>
      val f = new java.io.File(s"$path/$rel")
      assert((f.length, f.lastModified) === sig(rel), s"$rel was rewritten")
    }
    val ids = ManifestTable.read(spark, path).select("id").as[Long]
      .collect().toSet
    assert(ids.size === 392 && !ids(3L) && !ids(53L) && ids(4L))
    // CDC replays exactly the killed rows as deletes
    val ch = ManifestTable.changesForVersion(spark, path, 2)
      .select("id", "_change").as[(Long, String)].collect().toSet
    assert(ch === (3L until 400L by 50).map(i => (i, "delete")).toSet)
    // a second DV delete stacks; time travel below both still sees all
    ManifestTable.deleteWhereDV(spark, path, col("id") === 100, key = "id")
    assert(ManifestTable.read(spark, path).count() === 391)
    assert(ManifestTable.readVersion(spark, path, 1).count() === 400)
    // history classifies; a mismatched second key is refused
    val ops = ManifestTable.history(spark, path)
      .select("version", "operation").as[(Long, String)].collect().toMap
    assert(ops(2L) === "DELETE_DV" && ops(3L) === "DELETE_DV")
    intercept[IllegalArgumentException] {
      ManifestTable.deleteWhereDV(spark, path, col("v") === 0, key = "v")
    }
    // no-match predicate: no commit, no sidecar debris
    assert(ManifestTable.deleteWhereDV(spark, path,
      col("id") === 999999, key = "id") === 3L)
    // compact folds every vector away
    ManifestTable.compact(spark, path, targetFiles = 2)
    val st = ManifestTable.resolveState(spark, path,
      ManifestTable.currentVersion(spark, path).get)
    assert(st.dvFiles.isEmpty, "compact must fold the deletion vectors")
    assert(ManifestTable.read(spark, path).count() === 391)
  }

  test("updateWhereDV: merge-on-read UPDATE — old images DV'd, new images appended, no data file rewritten; ids carry; CDC and compact fold") {
    val path = java.nio.file.Files.createTempDirectory("graft_upd9").toString + "/t"
    ManifestTable.enableRowTracking(spark, path)
    ManifestTable.write(
      spark.range(0, 400).toDF("id").withColumn("v", col("id"))
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      path, statsCols = Seq("id"))
    val files1 = ManifestTable.manifestFiles(spark, path, 2)
    val sig = files1.map { rel =>
      val f = new java.io.File(s"$path/$rel")
      rel -> ((f.length, f.lastModified))
    }.toMap
    val idsBefore = ManifestTable.readWithRowIds(spark, path)
      .select("id", ManifestTable.RowIdCol).as[(Long, Long)]
      .collect().toMap
    // sparse scattered update: MoR touches no existing file
    val v = ManifestTable.updateWhereDV(spark, path,
      Seq("v" -> (col("v") + lit(10000L))),
      col("id") % 100 === 7, key = "id")
    assert(v === 3L)
    val files2 = ManifestTable.manifestFiles(spark, path, v)
    files1.foreach { rel =>
      assert(files2.contains(rel), s"$rel must stay live")
      val f = new java.io.File(s"$path/$rel")
      assert((f.length, f.lastModified) === sig(rel), s"$rel was rewritten")
    }
    assert(files2.size === files1.size + 1,
      "exactly one appended images file")
    val got = ManifestTable.read(spark, path).select("id", "v")
      .as[(Long, Long)].collect().toMap
    assert(got.size === 400)
    Seq(7L, 107L, 207L, 307L).foreach(i => assert(got(i) === i + 10000L))
    assert(got(8L) === 8L)
    // stable ids carry onto the new images (update, not delete+insert)
    val idsAfter = ManifestTable.readWithRowIds(spark, path)
      .select("id", ManifestTable.RowIdCol).as[(Long, Long)]
      .collect().toMap
    assert(idsAfter === idsBefore, "MoR update must keep every row id")
    // CDC: old images delete, new images insert — multiset-consistent
    val ch = ManifestTable.changesForVersion(spark, path, v)
      .select("id", "v", "_change").as[(Long, Long, String)]
      .collect().toSet
    assert(ch === Seq(7L, 107L, 207L, 307L).flatMap(i =>
      Seq((i, i, "delete"), (i, i + 10000L, "insert"))).toSet)
    // SET on the DV key is refused (the vector is keyed on it)
    intercept[IllegalArgumentException] {
      ManifestTable.updateWhereDV(spark, path,
        Seq("id" -> lit(0L)), col("v") === 0, key = "id")
    }
    // no-match: no commit
    assert(ManifestTable.updateWhereDV(spark, path,
      Seq("v" -> lit(0L)), col("id") === 999999, key = "id") === v)
    // compact folds vectors; content and ids survive
    ManifestTable.compact(spark, path, targetFiles = 2)
    val st = ManifestTable.resolveState(spark, path,
      ManifestTable.currentVersion(spark, path).get)
    assert(st.dvFiles.isEmpty)
    assert(ManifestTable.read(spark, path).count() === 400)
    assert(ManifestTable.readWithRowIds(spark, path)
      .select("id", ManifestTable.RowIdCol).as[(Long, Long)]
      .collect().toMap === idsBefore)
  }

  test("MoR sparse-contract guard: a bulk predicate falls back to the CoW rewrite (r12)") {
    val path = java.nio.file.Files.createTempDirectory("graft_upd12a").toString + "/t"
    ManifestTable.write(
      spark.range(0, 400).toDF("id").withColumn("v", col("id"))
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      path, statsCols = Seq("id"))
    // 200 matching rows against a limit of 10: the MoR verb must take
    // the CoW path — no deletion vectors, matching files rewritten
    val v = ManifestTable.updateWhereDV(spark, path,
      Seq("v" -> lit(-1L)), col("id") % 2 === 0, key = "id",
      sparseRowLimit = 10L)
    assert(v === 2L)
    val st = ManifestTable.resolveState(spark, path, v)
    assert(st.dvFiles.isEmpty, "bulk update must not commit a sidecar")
    val ops = ManifestTable.history(spark, path)
      .select("version", "operation").as[(Long, String)].collect().toMap
    assert(ops(2L) === "UPDATE", s"CoW fallback must classify as UPDATE: $ops")
    val got = ManifestTable.read(spark, path).select("id", "v")
      .as[(Long, Long)].collect().toMap
    assert((0L until 400L).forall(i => got(i) === (if (i % 2 == 0) -1L else i)))
    // same for DELETE: bulk predicate → CoW delete, no vectors
    val v2 = ManifestTable.deleteWhereDV(spark, path,
      col("id") < 200, key = "id", sparseRowLimit = 10L)
    assert(v2 === 3L)
    val st2 = ManifestTable.resolveState(spark, path, v2)
    assert(st2.dvFiles.isEmpty, "bulk delete must not commit a sidecar")
    assert(ManifestTable.history(spark, path)
      .select("version", "operation").as[(Long, String)].collect()
      .toMap.apply(3L) === "DELETE")
    assert(ManifestTable.read(spark, path).count() === 200)
    // under the limit the MoR shape still engages
    val v3 = ManifestTable.deleteWhereDV(spark, path,
      col("id") === 250, key = "id", sparseRowLimit = 10L)
    assert(ManifestTable.resolveState(spark, path, v3).dvFiles.nonEmpty,
      "a genuinely sparse delete keeps the sidecar path")
  }

  test("updateWhereDV on a PARTITIONED table: images land in partition homes, no data file rewritten (r12)") {
    val path = java.nio.file.Files.createTempDirectory("graft_upd12b").toString + "/t"
    val df = spark.range(0, 300).toDF("id")
      .withColumn("part", (col("id") % 3).cast("int"))
      .withColumn("v", col("id"))
    ManifestTable.write(df.repartition(2), path,
      partitionCols = Seq("part"), statsCols = Seq("id"))
    val files1 = ManifestTable.manifestFiles(spark, path, 1)
    val sig = fileSig(path, files1)
    val v = ManifestTable.updateWhereDV(spark, path,
      Seq("v" -> (col("v") + lit(10000L))),
      col("id") % 100 === 7, key = "id")
    assert(v === 2L)
    val files2 = ManifestTable.manifestFiles(spark, path, v)
    files1.foreach { rel =>
      assert(files2.contains(rel), s"$rel must stay live")
      val f = new java.io.File(s"$path/$rel")
      assert((f.length, f.lastModified) === sig(rel), s"$rel was rewritten")
    }
    val images = files2.filterNot(files1.contains)
    assert(images.nonEmpty && images.forall(_.contains("part=")),
      s"appended images must live inside partition dirs: $images")
    val got = ManifestTable.read(spark, path).select("id", "v")
      .as[(Long, Long)].collect().toMap
    assert(got.size === 300)
    Seq(7L, 107L, 207L).foreach(i => assert(got(i) === i + 10000L))
    assert(got(8L) === 8L)
    // partition-value pruning still works across the mixed generations
    val hit = ManifestTable.read(spark, path).filter(col("part") === 1)
    assert(hit.count() === 100)
    // CDC classifies delete(old)+insert(new) pairs
    val ch = ManifestTable.changesForVersion(spark, path, v)
      .select("id", "_change").as[(Long, String)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(ch("delete") === Set(7L, 107L, 207L) &&
      ch("insert") === Set(7L, 107L, 207L))
  }

  test("updateWhere WHERE and SET RHS may reference generated columns (r12)") {
    val path = java.nio.file.Files.createTempDirectory("graft_upd12c").toString + "/t"
    ManifestTable.write(
      spark.range(0, 100).toDF("id").withColumn("v", col("id"))
        .withColumn("double_v", col("v") * 2), path)
    ManifestTable.addGeneratedColumn(spark, path, "double_v", "v * 2")
    // predicate over the GENERATED column (Delta permits this); the
    // RHS reads it too — both must survive the generated-column strip
    val v = ManifestTable.updateWhere(spark, path,
      Seq("v" -> (col("double_v") + lit(1L))), col("double_v") >= 180)
    val got = ManifestTable.read(spark, path)
      .select("id", "v", "double_v").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    got.foreach { case (i, vv, dv) =>
      if (i >= 90) { assert(vv === i * 2 + 1); assert(dv === vv * 2) }
      else { assert(vv === i); assert(dv === i * 2) }
    }
    assert(v === 3L)
    // the MoR twin honors the same contract
    val v2 = ManifestTable.updateWhereDV(spark, path,
      Seq("v" -> (col("double_v") + lit(5L))), col("double_v") === 0,
      key = "id")
    assert(ManifestTable.read(spark, path)
      .filter(col("id") === 0).select("v").as[Long].head() === 5L)
    assert(v2 === 4L)
  }

  test("updateWhere on a PARTITIONED table: untouched partitions carry; SET on the partition column moves rows across dirs") {
    val path = java.nio.file.Files.createTempDirectory("graft_upd7").toString + "/t"
    val df = spark.range(0, 300).toDF("id")
      .withColumn("part", (col("id") % 3).cast("int"))
      .withColumn("v", col("id"))
    ManifestTable.write(df, path, partitionCols = Seq("part"))
    val files1 = ManifestTable.manifestFiles(spark, path, 1)
    val others = files1.filterNot(_.contains("part=2"))
    val sig = others.map { rel =>
      val f = new java.io.File(s"$path/$rel")
      rel -> ((f.length, f.lastModified))
    }.toMap
    // cond isolates part=2 (partition-value prune via condBounds on
    // the partition column); SET MOVES matching rows into part=7
    ManifestTable.updateWhere(spark, path,
      Seq("part" -> lit(7)), col("part") === 2 && col("id") < 30)
    val files2 = ManifestTable.manifestFiles(spark, path, 2)
    others.foreach { rel =>
      assert(files2.contains(rel), s"$rel must carry")
      val f = new java.io.File(s"$path/$rel")
      assert((f.length, f.lastModified) === sig(rel), s"$rel was rewritten")
    }
    assert(files2.exists(_.contains("part=7")),
      s"moved rows must land in their new partition dir: $files2")
    val got = ManifestTable.read(spark, path)
    assert(got.count() === 300)
    assert(got.filter(col("part") === 7).select("id").as[Long]
      .collect().toSet === (0L until 30L).filter(_ % 3 == 2).toSet)
    assert(got.filter(col("part") === 2).count() === 100 - 10)
    // partition-value prune drives the next read
    val (cand, total) = ManifestTable.pruneCount(spark, path, "part", 7, 7)
    assert(cand < total)
  }

  test("OCC across the round-11 commit classes: racing appends, predicate updates, and cluster maintenance all serialize") {
    val path = java.nio.file.Files.createTempDirectory("graft_upd6").toString + "/t"
    ManifestTable.setClusterColumns(spark, path, Seq("id"))
    ManifestTable.write(
      (0 until 16).map(i => (i.toLong, 0L)).toDF("id", "v"), path)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val tasks: Seq[Runnable] =
      // 2 appenders of disjoint fresh keys
      (0 until 2).map { t =>
        new Runnable {
          def run(): Unit = try {
            (0 until 2).foreach { i =>
              ManifestTable.append(
                Seq((100L + t * 10 + i, 1L)).toDF("id", "v"), path,
                maxAttempts = 64)
            }
          } catch { case e: Throwable => failures.add(e); () }
        }
      } ++
      // 2 predicate updaters on disjoint base ranges
      (0 until 2).map { u =>
        new Runnable {
          def run(): Unit = try {
            ManifestTable.updateWhere(spark, path,
              Seq("v" -> org.apache.spark.sql.functions.lit(7L + u)),
              col("id") >= u * 8 && col("id") < (u + 1) * 8 &&
                col("id") < 16, maxAttempts = 64)
          } catch { case e: Throwable => failures.add(e); () }
        }
      } :+
      // 1 cluster maintainer
      (new Runnable {
        def run(): Unit = try {
          ManifestTable.optimizeClustered(spark, path, maxAttempts = 64)
        } catch { case e: Throwable => failures.add(e); () }
      }: Runnable)
    tasks.foreach(pool.submit)
    pool.shutdown()
    assert(pool.awaitTermination(300, java.util.concurrent.TimeUnit.SECONDS))
    assert(failures.isEmpty, s"writer failed: ${Option(failures.peek())}")
    // contiguous versions; serial-equivalent final content
    val vs = ManifestTable.versions(spark, path)
    assert(vs === (1L to vs.length.toLong).toSeq,
      s"versions must stay contiguous: $vs")
    val got = ManifestTable.read(spark, path)
      .as[(Long, Long)].collect().toMap
    assert(got.size === 20)
    (0 until 8).foreach(i => assert(got(i.toLong) === 7L, s"id=$i"))
    (8 until 16).foreach(i => assert(got(i.toLong) === 8L, s"id=$i"))
    Seq(100L, 101L, 110L, 111L).foreach(k => assert(got(k) === 1L))
    // a final maintenance pass converges to full cluster coverage
    ManifestTable.optimizeClustered(spark, path)
    val st = ManifestTable.resolveState(spark, path,
      ManifestTable.currentVersion(spark, path).get)
    assert(st.clusteredFiles.toSet === st.files.toSet)
  }

  test("updateWhere under row tracking keeps stable ids; deleteWhere drops them; change feed sees row-level updates") {
    val path = java.nio.file.Files.createTempDirectory("graft_upd4").toString + "/t"
    ManifestTable.enableRowTracking(spark, path)
    ManifestTable.write(
      spark.range(0, 40).toDF("id").withColumn("v", lit(0L)), path)
    val before = ManifestTable.readWithRowIds(spark, path)
      .select("id", ManifestTable.RowIdCol).as[(Long, Long)].collect().toMap
    ManifestTable.updateWhere(spark, path, Seq("v" -> lit(7L)),
      col("id") < 10)
    val after = ManifestTable.readWithRowIds(spark, path)
      .select("id", ManifestTable.RowIdCol).as[(Long, Long)].collect().toMap
    assert(after === before, "UPDATE must preserve every stable row id")
    // id-keyed CDC classifies the rewrite as updates, not delete+insert
    val v = ManifestTable.currentVersion(spark, path).get
    val ch = ManifestTable.changesByRowId(spark, path, v)
      .select("_change").as[String].collect()
    assert(ch.nonEmpty && ch.forall(c => c.startsWith("update")),
      s"row-id CDC must classify UPDATE as updates: ${ch.toSet}")
    ManifestTable.deleteWhere(spark, path, col("id") === 5)
    val ids = ManifestTable.readWithRowIds(spark, path)
      .select("id").as[Long].collect().toSet
    assert(!ids(5L) && ids.size === 39)
  }
}
