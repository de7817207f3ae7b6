package graft

import graft.pipeline.ManifestTable
import org.apache.spark.sql.functions._

/** Round-10 ACID-layer surface: the incremental commit log (O(Δ) log
  * entries + periodic checkpoints), timestamp time travel, merge on
  * partitioned tables, deletion vectors (merge-on-read deletes), and
  * conditional-merge clause resolution inside the OCC retry loop.
  */
class ManifestLogSpec extends SparkSpec {
  import spark.implicits._

  private def manifestLen(path: String, v: Long): Long =
    new java.io.File(s"$path/_graft_manifest-v$v.json").length

  test("commits are O(delta): append log entries stay flat while the table grows; a checkpoint folds the log") {
    val path = java.nio.file.Files.createTempDirectory("graft_log1").toString + "/t"
    ManifestTable.write(Seq((0L, "base")).toDF("id", "v"), path)
    (1 to 20).foreach(i =>
      ManifestTable.append(Seq((i.toLong, s"w$i")).toDF("id", "v"), path))
    // the 2nd append and the 20th append carry the same O(1 file) entry —
    // a full-manifest protocol would grow the 20th by ~20x
    val early = manifestLen(path, 3)
    val late = manifestLen(path, 21)
    assert(late <= early * 2,
      s"append log entry grew with table size: v3=$early bytes, v21=$late bytes")
    // the interval checkpoint landed and the state resolves identically
    // through it (v16 = CheckpointInterval)
    assert(new java.io.File(s"$path/_graft_checkpoint-v16.json").isFile,
      "interval checkpoint missing")
    assert(ManifestTable.read(spark, path).count() === 21)
    assert(ManifestTable.readVersion(spark, path, 10).count() === 10)
    // resolution through the checkpoint equals resolution through the
    // full delta chain (same files, same count)
    assert(ManifestTable.manifestFiles(spark, path, 21).size >= 21)
  }

  test("timestamp time travel: reads resolve to the newest commit at-or-before the instant") {
    val path = java.nio.file.Files.createTempDirectory("graft_log2").toString + "/t"
    ManifestTable.write(Seq((1L, "a")).toDF("id", "v"), path)      // v1
    val t1 = System.currentTimeMillis()
    Thread.sleep(20)
    ManifestTable.write(Seq((1L, "b"), (2L, "b")).toDF("id", "v"), path) // v2
    val t2 = System.currentTimeMillis()
    Thread.sleep(20)
    ManifestTable.append(Seq((3L, "c")).toDF("id", "v"), path)     // v3
    assert(ManifestTable.versionAsOfTimestamp(spark, path, t1) === Some(1L))
    assert(ManifestTable.readAsOfTimestamp(spark, path, t1).count() === 1)
    assert(ManifestTable.versionAsOfTimestamp(spark, path, t2) === Some(2L))
    assert(ManifestTable.readAsOfTimestamp(spark, path, t2).count() === 2)
    assert(ManifestTable.readAsOfTimestamp(spark, path,
      System.currentTimeMillis()).count() === 3)
    // before the first commit: loud error naming the oldest commit
    val err = intercept[IllegalStateException] {
      ManifestTable.readAsOfTimestamp(spark, path, t1 - 86400000L)
    }
    assert(err.getMessage.contains("oldest surviving"))
    // commit timestamps are recorded and monotone here
    assert(ManifestTable.commitTimestamp(spark, path, 1) <=
      ManifestTable.commitTimestamp(spark, path, 3))
  }

  test("merge on a partitioned table: partition pruning, in-partition rewrite, untouched partitions byte-identical") {
    val path = java.nio.file.Files.createTempDirectory("graft_log3").toString + "/t"
    val base = spark.range(0, 400).toDF("id")
      .withColumn("part", (col("id") % 4).cast("int"))
      .withColumn("v", col("id") * 2)
    ManifestTable.write(base, path, partitionCols = Seq("part"))
    val files1 = ManifestTable.manifestFiles(spark, path, 1)
    assert(files1.forall(_.contains("part=")), "not a partitioned layout")
    val sig = files1.map { rel =>
      val f = new java.io.File(s"$path/$rel")
      rel -> (f.length, f.lastModified)
    }.toMap

    // keys 0 mod 4 live ONLY in part=0: update some, delete some, insert new
    val upd = spark.range(0, 40, 4).toDF("id")
      .withColumn("part", lit(0)).withColumn("v", lit(-1L))
      .withColumn("_del", lit(false))
    val del = spark.range(100, 120, 4).toDF("id")
      .withColumn("part", lit(0)).withColumn("v", lit(0L))
      .withColumn("_del", lit(true))
    val ins = Seq((1000L, 7, 9L, false)).toDF("id", "part", "v", "_del")
    ManifestTable.merge(upd.unionByName(del).unionByName(ins), path, "id",
      deleteCol = Some("_del"))
    val files2 = ManifestTable.manifestFiles(spark, path, 2)
    // every part=1..3 file carried verbatim — same path, same bytes
    val untouched = files2.filter(f => files1.contains(f))
    assert(untouched.exists(_.contains("part=1")) &&
      untouched.exists(_.contains("part=2")) && untouched.exists(_.contains("part=3")),
      s"non-key partitions must carry verbatim, files2=$files2")
    untouched.foreach { rel =>
      val f = new java.io.File(s"$path/$rel")
      assert((f.length, f.lastModified) === sig(rel), s"$rel was rewritten")
    }
    // part=0 was rewritten inside its partition; the insert landed under part=7
    assert(files2.exists(f => f.contains("part=0") && !files1.contains(f)))
    assert(files2.exists(_.contains("part=7")), "insert must land in its partition dir")
    // content is right
    val got = ManifestTable.read(spark, path)
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(got.size === 400 - 5 + 1) // 5 deleted (100..116 step 4), 1 inserted
    (0L until 40L by 4).foreach(k => assert(got(k) === -1L))
    (100L until 120L by 4).foreach(k => assert(!got.contains(k)))
    assert(got(1000L) === 9L && got(1L) === 2L)
    // partition-value prune: a merge keyed INTO the partition column
    // only treats that partition's files as candidates
    val partKeyed = Seq((7, 1000L, 9L)).toDF("part", "id", "v")
      .select("id", "part", "v")
    // (diagnostic via pruneCount on the partition column)
    val (cand, total) = ManifestTable.pruneCount(spark, path, "part", 7, 7)
    assert(cand < total, s"partition value prune inert: $cand/$total")
    assert(partKeyed.count() === 1) // silence unused warning path
  }

  test("deletion vectors: a sparse delete writes no data files; reads, feed and compaction fold it") {
    val path = java.nio.file.Files.createTempDirectory("graft_log4").toString + "/t"
    ManifestTable.write(
      spark.range(0, 400).toDF("id").withColumn("v", col("id"))
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      path, statsCols = Seq("id"))
    val files1 = ManifestTable.manifestFiles(spark, path, 1)
    val sig = files1.map { rel =>
      val f = new java.io.File(s"$path/$rel")
      rel -> (f.length, f.lastModified)
    }.toMap

    // delete-only merge under DVs: ZERO data files staged or removed
    val del = Seq(10L, 11L, 250L).toDF("id")
      .withColumn("v", lit(0L)).withColumn("_del", lit(true))
    ManifestTable.merge(del, path, "id", deleteCol = Some("_del"),
      deleteVectors = true)
    val files2 = ManifestTable.manifestFiles(spark, path, 2)
    assert(files2 === files1, "a DV delete must not add or remove data files")
    files1.foreach { rel =>
      val f = new java.io.File(s"$path/$rel")
      assert((f.length, f.lastModified) === sig(rel), s"$rel was rewritten")
    }
    // reads exclude the rows
    val got = ManifestTable.read(spark, path).select("id").as[Long].collect().toSet
    assert(got.size === 397 && !got(10L) && !got(11L) && !got(250L))
    // time travel below the DV still sees them
    assert(ManifestTable.readVersion(spark, path, 1).count() === 400)
    // the change feed surfaces exactly the deleted rows
    val changes = ManifestTable.changesForVersion(spark, path, 2)
      .select($"id", $"_change").as[(Long, String)].collect().toSet
    assert(changes === Set((10L, "delete"), (11L, "delete"), (250L, "delete")))
    // a later merge re-inserts a DV-deleted key: per-file DV semantics
    // must NOT swallow the new row (the global-key-set failure mode)
    ManifestTable.merge(Seq((10L, 77L)).toDF("id", "v"), path, "id")
    val after = ManifestTable.read(spark, path)
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(after(10L) === 77L && after.size === 398)
    // mixed merge on a DV table: updates rewrite, DV-deleted rows never
    // resurrect through the rewrite
    ManifestTable.merge(Seq((12L, -5L)).toDF("id", "v"), path, "id")
    val after2 = ManifestTable.read(spark, path)
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(after2(12L) === -5L && !after2.contains(11L) && after2.size === 398)
    // compact folds the DVs away: no dv dirs referenced, content stable
    ManifestTable.compact(spark, path, targetFiles = 2, statsCols = Seq("id"))
    val st = ManifestTable.resolveState(spark, path,
      ManifestTable.currentVersion(spark, path).get)
    assert(st.dvFiles.isEmpty, "compact must fold deletion vectors")
    assert(ManifestTable.read(spark, path).count() === 398)
    // vacuum sweeps the now-unreferenced dv dirs
    ManifestTable.vacuum(spark, path, keep = 1)
    assert(!new java.io.File(path).listFiles().exists(_.getName.startsWith("dv-")),
      "vacuum left orphaned deletion-vector dirs")
    assert(ManifestTable.read(spark, path).count() === 398)
  }

  test("conditional merge re-resolves clauses when it loses the OCC race") {
    val path = java.nio.file.Files.createTempDirectory("graft_log5").toString + "/t"
    ManifestTable.write(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"), path) // v1
    // a foreign writer commits version 2 BETWEEN our resolution and our
    // commit (simulated by pre-publishing its manifest): row 1 now has
    // x=100. Our clause `update when incoming x > base x` must be
    // evaluated against THE VERSION THE COMMIT LANDS ON (v2's x=100),
    // not the stale v1 snapshot (x=10).
    val foreignSnap = s"$path/snap-2"
    Seq((1L, 100.0), (2L, 20.0)).toDF("id", "x").coalesce(1)
      .write.parquet(foreignSnap)
    val foreignFiles = new java.io.File(foreignSnap).listFiles()
      .filter(_.getName.endsWith(".parquet")).map("snap-2/" + _.getName)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_graft_manifest-v2.json"),
      s"""{"version":2,"files":[${foreignFiles.map("\"" + _ + "\"").mkString(",")}]}""")
    // incoming x=50: against v1 (x=10) the update WOULD fire; against
    // the landed v2 (x=100) it must NOT — base row survives
    ManifestTable.mergeConditional(Seq((1L, 50.0)).toDF("id", "x"), path, "id",
      whenMatchedUpdate = Some(col("x") > col("_b_x")))
    assert(ManifestTable.currentVersion(spark, path) === Some(3L))
    val got = ManifestTable.read(spark, path)
      .as[(Long, Double)].collect().toMap
    assert(got(1L) === 100.0,
      "clause was evaluated against a stale snapshot across an OCC conflict")
  }

  test("conditional merge absent clauses are no-action when any clause is given (delete-only merge corrupts nothing)") {
    val path = java.nio.file.Files.createTempDirectory("graft_log6").toString + "/t"
    ManifestTable.write(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
        .toDF("id", "v", "x"), path)
    // delete-only conditional merge: matched rows NOT deleted must keep
    // their BASE values (not be overwritten by source values), and
    // unmatched source rows must NOT insert
    val updates = Seq(
      (1L, "CLOBBER", 0.0),  // matched, delete fires (x == 0)
      (2L, "CLOBBER", 9.0),  // matched, delete does not fire → base row kept
      (9L, "CLOBBER", 0.0))  // unmatched → dropped (no insert clause)
      .toDF("id", "v", "x")
    ManifestTable.mergeConditional(updates, path, "id",
      whenMatchedDelete = Some(col("x") === 0.0))
    val got = ManifestTable.read(spark, path)
      .select("id", "v", "x").as[(Long, String, Double)].collect().toSet
    assert(got === Set((2L, "b", 20.0), (3L, "c", 30.0)),
      "absent update/insert clauses must be no-action, not clobber")
    // a call with NO clauses keeps the historical upsert reading
    ManifestTable.mergeConditional(Seq((2L, "B!", 1.0), (7L, "new", 2.0))
      .toDF("id", "v", "x"), path, "id")
    val got2 = ManifestTable.read(spark, path)
      .select("id", "v", "x").as[(Long, String, Double)].collect().toSet
    assert(got2 === Set((2L, "B!", 1.0), (3L, "c", 30.0), (7L, "new", 2.0)))
  }

  test("decimal merge keys never stats-prune (unscaled footer stats would lose updates); merge stays correct") {
    val path = java.nio.file.Files.createTempDirectory("graft_log7").toString + "/t"
    // decimal(12,2) key whose scaled values (10.00..) dwarf their
    // unscaled footer encoding (1000..) — the round-9 prune compared
    // these directly and could wrongly prune every file
    val base = spark.range(0, 100).toDF("k0")
      .withColumn("key", (col("k0") / 100.0).cast("decimal(12,2)"))
      .withColumn("v", col("k0")).drop("k0")
      .repartitionByRange(4, col("key")).sortWithinPartitions("key")
    ManifestTable.write(base, path, statsCols = Seq("key"))
    val upd = Seq((java.math.BigDecimal.valueOf(50, 2), -1L))
      .toDF("key", "v").select(col("key").cast("decimal(12,2)").as("key"), col("v"))
    ManifestTable.merge(upd, path, "key", statsCols = Seq("key"))
    val got = ManifestTable.read(spark, path)
      .select(col("key").cast("string"), col("v")).as[(String, Long)]
      .collect().toMap
    assert(got("0.50") === -1L, "decimal-keyed update was lost to a bad prune")
    assert(got.size === 100)
    // and the decimal column never prunes a range read
    val (cand, total) = ManifestTable.pruneCount(spark, path, "key", 0.0, 0.01)
    assert(cand === total, "decimal stats must not prune (unsound encoding)")
  }

  test("change feed: merge versions classify update images, scan only touched files; compact emits zero changes") {
    val path = java.nio.file.Files.createTempDirectory("graft_log8").toString + "/t"
    val base = spark.range(0, 400).toDF("id").withColumn("v", col("id") * 10)
    ManifestTable.write(
      base.repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      path, statsCols = Seq("id"))
    val v1Files = ManifestTable.manifestFiles(spark, path, 1)
    assert(v1Files.size === 4)
    // updates cluster in the first file's key range; delete + insert ride along
    val upd = Seq.tabulate(5)(i => (i.toLong, i * 10L + 1L, false))
      .toDF("id", "v", "_d")
    val ins = Seq((1000L, 7L, false)).toDF("id", "v", "_d")
    val del = Seq((390L, 0L, true)).toDF("id", "v", "_d")
    val v = ManifestTable.merge(upd.union(ins).union(del), path, "id",
      deleteCol = Some("_d"), statsCols = Seq("id"))
    val ch = ManifestTable.changesForVersion(spark, path, v,
      updateImages = true)
    val got = ch.select("id", "v", "_change").as[(Long, Long, String)]
      .collect().toSet
    val expect =
      (0 until 5).map(i => (i.toLong, i * 10L, "update_preimage")).toSet ++
        (0 until 5).map(i => (i.toLong, i * 10L + 1L, "update_postimage")) +
        ((1000L, 7L, "insert")) + ((390L, 3900L, "delete"))
    assert(got === expect)
    // O(touched): the change plan reads only the entry's own files —
    // the untouched middle files (v1 files surviving into v) never
    // enter any scan
    val survived = ManifestTable.manifestFiles(spark, path, v)
      .map(_.split("/").last).toSet
    val untouched = v1Files.map(_.split("/").last).toSet.intersect(survived)
    assert(untouched.size === 2, "merge should leave 2 of 4 files untouched")
    val scannedFiles = ch.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.inputFiles.toSeq
          case _ => Seq.empty[String]
        }
    }.flatten.map(_.split("/").last).toSet
    assert(untouched.forall(f => !scannedFiles.contains(f)),
      s"change feed scanned untouched files: ${untouched.intersect(scannedFiles)}")
    // without updateImages the same version reads as delete+insert pairs
    val plain = ManifestTable.changesForVersion(spark, path, v)
      .groupBy("_change").count().as[(String, Long)].collect().toMap
    assert(plain === Map("insert" -> 6L, "delete" -> 6L))
    // a compact rewrite carries every row verbatim -> ZERO change rows,
    // computed from the entry's own files (no table diff)
    val cv = ManifestTable.compact(spark, path, targetFiles = 2)
    assert(ManifestTable.changesForVersion(spark, path, cv).count() === 0L)
  }

  test("CHECK constraints: enforced atomically on write/append/merge, survive vacuum, drop restores") {
    val path = java.nio.file.Files.createTempDirectory("graft_log9").toString + "/t"
    ManifestTable.write(
      Seq((1L, 10.0, "a"), (2L, 20.0, null)).toDF("id", "price", "note"),
      path)
    // NULL evaluations pass (SQL CHECK semantics): note IS NULL row is fine
    ManifestTable.addCheckConstraint(spark, path, "pos_price", "price > 0")
    ManifestTable.addCheckConstraint(spark, path, "short_note",
      "length(note) < 10")
    assert(ManifestTable.checkConstraints(spark, path).keySet ===
      Set("pos_price", "short_note"))
    // adding a constraint existing rows violate is refused
    val exAdd = intercept[IllegalArgumentException] {
      ManifestTable.addCheckConstraint(spark, path, "big_id", "id > 100")
    }
    assert(exAdd.getMessage.contains("2 existing rows violate"))
    // violating append fails the JOB and commits nothing
    val vBefore = ManifestTable.currentVersion(spark, path).get
    val exApp = intercept[Exception] {
      ManifestTable.append(Seq((3L, -5.0, "bad")).toDF("id", "price", "note"),
        path)
    }
    assert(exApp.getMessage.contains("pos_price") ||
      Option(exApp.getCause).exists(_.getMessage.contains("pos_price")))
    assert(ManifestTable.currentVersion(spark, path).get === vBefore,
      "violating append must not commit a version")
    assert(ManifestTable.read(spark, path).count() === 2)
    // valid append lands; violating MERGE upsert is rejected too
    ManifestTable.append(Seq((3L, 30.0, "ok")).toDF("id", "price", "note"),
      path)
    val exMerge = intercept[Exception] {
      ManifestTable.merge(Seq((2L, -1.0, "upd")).toDF("id", "price", "note"),
        path, "id")
    }
    assert(exMerge.getMessage.contains("pos_price") ||
      Option(exMerge.getCause).exists(_.getMessage.contains("pos_price")))
    assert(ManifestTable.read(spark, path).count() === 3)
    // constraints ride checkpoints: vacuum to one version, still enforced
    ManifestTable.vacuum(spark, path, keep = 1)
    assert(ManifestTable.checkConstraints(spark, path).keySet ===
      Set("pos_price", "short_note"))
    intercept[Exception] {
      ManifestTable.append(Seq((4L, 1.0, "waytoolongnote")).toDF(
        "id", "price", "note"), path)
    }
    // drop restores writability for the dropped rule only
    ManifestTable.dropCheckConstraint(spark, path, "short_note")
    ManifestTable.append(Seq((4L, 1.0, "waytoolongnote")).toDF(
      "id", "price", "note"), path)
    assert(ManifestTable.read(spark, path).count() === 4)
    intercept[IllegalArgumentException] {
      ManifestTable.dropCheckConstraint(spark, path, "nope")
    }
  }

  test("shallow clone: zero-copy fork carrying stats/DVs/constraints; divergence never touches the source; compact localizes") {
    val root = java.nio.file.Files.createTempDirectory("graft_log10").toString
    val src = s"$root/src"
    val dst = s"$root/clone"
    val base = spark.range(0, 400).toDF("id").withColumn("v", col("id") * 10)
    ManifestTable.write(
      base.repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      src, statsCols = Seq("id"))
    // source carries a DV delete and a constraint — both must ride the clone
    ManifestTable.merge(Seq((7L, 0L, true)).toDF("id", "v", "_d"), src,
      "id", deleteCol = Some("_d"), statsCols = Seq("id"),
      deleteVectors = true)
    ManifestTable.addCheckConstraint(spark, src, "nonneg_v", "v >= 0")
    ManifestTable.cloneShallow(spark, src, dst)
    // metadata-only: no data files under dst, every ref external
    val dstDirs = new java.io.File(dst).listFiles.map(_.getName).toSeq
    assert(dstDirs.forall(n => n.startsWith("_graft_")),
      s"clone must write only manifests, found: $dstDirs")
    assert(ManifestTable.manifestFiles(spark, dst, 1)
      .forall(_.startsWith("file:/")), "clone refs must be fs-qualified")
    // reads match (incl. the DV'd row absent), stats prune carried over
    assert(ManifestTable.read(spark, dst).count() === 399)
    assert(ManifestTable.read(spark, dst).filter(col("id") === 7).count() === 0)
    val (cand, total) = ManifestTable.pruneCount(spark, dst, "id", 0.0, 10.0)
    assert(cand < total, "carried stats must prune on the clone")
    // constraint carried: violating append on the CLONE is rejected
    intercept[Exception] {
      ManifestTable.append(Seq((900L, -1L)).toDF("id", "v"), dst)
    }
    // record source bytes, then DIVERGE the clone with a merge
    def srcSnapshot(): Map[String, (Long, Long)] = {
      val out = scala.collection.mutable.Map.empty[String, (Long, Long)]
      java.nio.file.Files.walk(java.nio.file.Paths.get(src)).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          out += p.toString -> ((java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis))
      }
      out.toMap
    }
    val before = srcSnapshot()
    val mv = ManifestTable.merge(Seq((5L, 5000L)).toDF("id", "v"),
      dst, "id", statsCols = Seq("id"))
    assert(srcSnapshot() === before, "merge on clone must not touch source bytes")
    assert(ManifestTable.read(spark, dst)
      .filter(col("id") === 5).select("v").head().getLong(0) === 5000L)
    assert(ManifestTable.read(spark, src)
      .filter(col("id") === 5).select("v").head().getLong(0) === 50L)
    // only the touched ref localized; the others still point at src
    val refs = ManifestTable.manifestFiles(spark, dst, mv)
    assert(refs.count(_.startsWith("file:/")) === 3,
      s"merge must localize exactly the touched file, got $refs")
    // compact localizes everything -> the clone survives source vacuum
    ManifestTable.compact(spark, dst, targetFiles = 2)
    assert(ManifestTable.manifestFiles(spark, dst,
      ManifestTable.currentVersion(spark, dst).get)
      .forall(r => !r.startsWith("/") && !r.startsWith("file:")))
    ManifestTable.write(base.limit(1), src) // shrink source…
    ManifestTable.vacuum(spark, src, keep = 1) // …and drop its history
    assert(ManifestTable.read(spark, dst).count() === 399)
    // cloning into a non-empty table is refused
    intercept[IllegalArgumentException] {
      ManifestTable.cloneShallow(spark, src, dst)
    }
  }

  test("shallow clone of a PARTITIONED source: partition columns re-derive, partition prune works, merge stays inside its partition") {
    val root = java.nio.file.Files.createTempDirectory("graft_log10p").toString
    val src = s"$root/src"
    val dst = s"$root/clone"
    val base = spark.range(0, 300).toDF("id")
      .withColumn("part", (col("id") % 3).cast("int"))
      .withColumn("v", col("id") * 10)
    ManifestTable.write(base, src, partitionCols = Seq("part"))
    // a second partitioned snapshot via overwrite history (two k=v roots
    // never arise on one version for partitioned tables — appends are
    // refused — but the clone must at least handle the single-root case
    // with mixed partition dirs)
    ManifestTable.cloneShallow(spark, src, dst)
    val refs = ManifestTable.manifestFiles(spark, dst, 1)
    assert(refs.forall(_.startsWith("file:/")) && refs.forall(_.contains("part=")),
      s"partitioned refs must keep their k=v segments: $refs")
    // content identical, partition column re-derived with its value
    val got = ManifestTable.read(spark, dst)
    assert(got.schema.fieldNames.toSet === Set("id", "part", "v"))
    assert(got.count() === 300)
    assert(got.filter(col("part") === 1).count() === 100)
    assert(got.filter(col("part") === col("id") % 3).count() === 300)
    // partition-value prune on the clone: only part=2's files survive
    val (cand, total) = ManifestTable.pruneCount(spark, dst, "part", 2.0, 2.0)
    assert(cand < total && cand >= 1,
      s"partition prune on the clone: $cand of $total")
    // a keyed merge on the clone rewrites INSIDE the partition layout
    // and leaves the source untouched
    val mv = ManifestTable.merge(
      Seq((6L, 0, -1L)).toDF("id", "part", "v"), dst, "id")
    val after = ManifestTable.manifestFiles(spark, dst, mv)
    assert(after.exists(r => !r.startsWith("/") && !r.startsWith("file:") &&
      r.contains("part=")),
      s"merge rewrite must land in a local partition dir: $after")
    assert(ManifestTable.read(spark, dst)
      .filter(col("id") === 6).select("v").head().getLong(0) === -1L)
    assert(ManifestTable.read(spark, src)
      .filter(col("id") === 6).select("v").head().getLong(0) === 60L)
    assert(ManifestTable.read(spark, dst).count() === 300)
  }

  test("restore DOWNGRADES across schema evolution: pre-evolution schema returns, change feed replays the boundary") {
    val path = java.nio.file.Files.createTempDirectory("graft_log11s").toString + "/t"
    ManifestTable.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path) // v1
    // v2 evolves: adds `extra`
    ManifestTable.append(Seq((3L, "c", 30L)).toDF("id", "v", "extra"), path)
    assert(ManifestTable.read(spark, path).schema.fieldNames.toSeq
      === Seq("id", "v", "extra"))
    val rv = ManifestTable.restore(spark, path, 1L)                     // v3
    // the downgrade: restore commits the TARGET's schema, so the added
    // column disappears from the logical surface
    val cur = ManifestTable.read(spark, path)
    assert(cur.schema.fieldNames.toSeq === Seq("id", "v"))
    assert(cur.as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
    // evolved history still time-travels with its own schema
    assert(ManifestTable.readVersion(spark, path, 2)
      .schema.fieldNames.toSeq === Seq("id", "v", "extra"))
    // the change feed replays the boundary (schema changed across it,
    // so the diff falls back to aligned-column comparison)
    val ch = ManifestTable.changesForVersion(spark, path, rv)
      .select("id", "_change").as[(Long, String)].collect().toSet
    assert(ch === Set((3L, "delete")))
    // and evolution works again after the downgrade
    ManifestTable.append(Seq((4L, "d", 40L)).toDF("id", "v", "extra"), path)
    assert(ManifestTable.read(spark, path).count() === 3)
  }

  test("restore: metadata-only rollback, history preserved, feed replays it, vacuum horizon enforced") {
    val path = java.nio.file.Files.createTempDirectory("graft_log11").toString + "/t"
    ManifestTable.write(Seq((1L, "a"), (2L, "a")).toDF("id", "v"), path,
      statsCols = Seq("id"))                                          // v1
    ManifestTable.append(Seq((3L, "b")).toDF("id", "v"), path,
      statsCols = Seq("id"))                                          // v2
    ManifestTable.write(Seq((9L, "oops")).toDF("id", "v"), path)      // v3 (bad)
    val rv = ManifestTable.restore(spark, path, 2L)                   // v4
    assert(rv === 4L)
    assert(ManifestTable.read(spark, path).select("id")
      .as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    // metadata-only: restore re-references v2's files verbatim
    assert(ManifestTable.manifestFiles(spark, path, 4).toSet ===
      ManifestTable.manifestFiles(spark, path, 2).toSet)
    // history preserved: the bad v3 still reads
    assert(ManifestTable.readVersion(spark, path, 3).count() === 1)
    // the change feed replays the restore as delete(oops)+insert(1,2,3)
    val ch = ManifestTable.changesForVersion(spark, path, 4)
      .select("id", "_change").as[(Long, String)].collect().toSet
    assert(ch === Set((9L, "delete"), (1L, "insert"), (2L, "insert"),
      (3L, "insert")))
    // carried stats still prune on the restored state
    val (cand, total) = ManifestTable.pruneCount(spark, path, "id", 3.0, 3.0)
    assert(cand < total)
    // beyond the vacuum horizon the restore fails loudly
    ManifestTable.write(Seq((10L, "c")).toDF("id", "v"), path)        // v5
    ManifestTable.vacuum(spark, path, keep = 1)
    val err = intercept[IllegalStateException] {
      ManifestTable.restore(spark, path, 4L)
    }
    assert(err.getMessage.contains("vacuum") ||
      err.getMessage.contains("not resolvable"))
  }

  test("bloom file index: prunes point lookups where min/max can't; pre-index files conservative; merge/compact rebuild filters") {
    val path = java.nio.file.Files.createTempDirectory("graft_log13").toString + "/t"
    // clustered by id; looked up by a SCATTERED key every file's
    // [min,max] contains — the case stats pruning cannot touch
    val df = spark.range(0, 4000).toDF("id")
      .withColumn("cust", (col("id") * 2654435761L) % 997)
    // declare the index on the empty table, then load
    ManifestTable.setBloomIndex(spark, path, Seq("cust"), items = 4096,
      fpp = 0.01)
    ManifestTable.write(
      df.repartitionByRange(8, col("id")).sortWithinPartitions("id"),
      path, statsCols = Seq("id"))
    val expect123 = df.filter(col("cust") === 123).count()
    val (cand, total) = ManifestTable.pointLookupCount(spark, path, "cust", 123L)
    assert(total === 8)
    assert(cand < total, "bloom must prune files for a present value " +
      s"(~4 of 4000 rows match): $cand of $total")
    assert(ManifestTable.readWhereEquals(spark, path, "cust", 123L)
      .count() === expect123)
    // absent value: nearly every filter says no (deterministic — same
    // data, same hash seeds)
    val (candAbsent, _) = ManifestTable.pointLookupCount(spark, path,
      "cust", 99999L)
    assert(candAbsent <= 2, s"absent value kept $candAbsent of 8 files")
    assert(ManifestTable.readWhereEquals(spark, path, "cust", 99999L)
      .count() === 0)
    // a merge rewrites one file -> its filter rebuilds and finds the row
    ManifestTable.merge(Seq((5L, 99999L)).toDF("id", "cust"), path, "id",
      statsCols = Seq("id"))
    val found = ManifestTable.readWhereEquals(spark, path, "cust", 99999L)
      .select("id").as[Long].collect().toSeq
    assert(found === Seq(5L))
    // files committed BEFORE the index carry no filter and are never
    // pruned; compact rebuilds everything with filters
    val p2 = java.nio.file.Files.createTempDirectory("graft_log13b").toString + "/t"
    ManifestTable.write(df.coalesce(2), p2)
    ManifestTable.setBloomIndex(spark, p2, Seq("cust"), items = 4096,
      fpp = 0.01)
    ManifestTable.append(
      spark.range(10000, 11000).toDF("id")
        .withColumn("cust", lit(500000L) + col("id")).coalesce(1), p2)
    // value living only in the PRE-INDEX files is still found
    assert(ManifestTable.readWhereEquals(spark, p2, "cust", 123L)
      .count() === expect123)
    val (c2, t2) = ManifestTable.pointLookupCount(spark, p2, "cust", 99999L)
    assert(t2 === 3 && c2 >= 2,
      s"pre-index files must be kept conservatively: $c2 of $t2")
    ManifestTable.compact(spark, p2, targetFiles = 2)
    val (c3, t3) = ManifestTable.pointLookupCount(spark, p2, "cust", 99999L)
    assert(t3 === 2 && c3 === 0,
      s"after compact every file has a filter: $c3 of $t3")
    assert(ManifestTable.readWhereEquals(spark, p2, "cust", 123L)
      .count() === expect123)
  }

  test("restore rolls back constraints and the bloom spec: post-target constraints stop enforcing, dropped ones re-enforce, a pre-index target disables the index") {
    val path = java.nio.file.Files.createTempDirectory("graft_log14").toString + "/t"
    ManifestTable.write(Seq((1L, 10L)).toDF("id", "v"), path)          // v1
    ManifestTable.addCheckConstraint(spark, path, "v_pos", "v > 0")    // v2
    val v2 = ManifestTable.currentVersion(spark, path).get
    ManifestTable.dropCheckConstraint(spark, path, "v_pos")            // v3
    ManifestTable.addCheckConstraint(spark, path, "v_big", "v >= 10")  // v4
    ManifestTable.setBloomIndex(spark, path, Seq("id"), items = 256,
      fpp = 0.01)                                                      // v5
    // restore to v2: v_pos must re-enforce, v_big must vanish, and the
    // bloom index (declared after v2) must disable
    ManifestTable.restore(spark, path, v2)
    val st = ManifestTable.resolveState(spark, path,
      ManifestTable.currentVersion(spark, path).get)
    assert(st.constraints.keySet === Set("v_pos"),
      s"restored constraints: ${st.constraints.keySet}")
    assert(st.bloom.forall(_.cols.isEmpty),
      s"bloom spec must roll back with the state: ${st.bloom}")
    // v_big (added after the target) no longer blocks small values...
    ManifestTable.append(Seq((2L, 5L)).toDF("id", "v"), path)
    // ...but v_pos (live at the target) still enforces
    intercept[Exception] {
      ManifestTable.append(Seq((3L, -1L)).toDF("id", "v"), path)
    }
    assert(ManifestTable.read(spark, path).count() === 2)
  }

  test("cloneShallow qualifies external refs with the source filesystem: relative sources resolve, refs carry a scheme") {
    val base = java.nio.file.Files.createTempDirectory("graft_log15").toString
    val src = s"$base/src"
    ManifestTable.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), src)
    val dst = s"$base/dst"
    ManifestTable.cloneShallow(spark, src, dst)
    // refs are fully qualified (scheme-carrying) external paths, so a
    // clone of an s3://-style source would resolve against the SOURCE
    // filesystem rather than the destination's default one
    val refs = ManifestTable.manifestFiles(spark, dst, 1L)
    assert(refs.nonEmpty && refs.forall(_.startsWith("file:")),
      s"clone refs must be filesystem-qualified: $refs")
    assert(ManifestTable.read(spark, dst).count() === 2)
    // a RELATIVE source path also yields resolvable external refs
    val cwd = new java.io.File(".").getCanonicalPath
    val relSrc = new java.io.File(cwd).toPath
      .relativize(new java.io.File(src).toPath).toString
    val dst2 = s"$base/dst2"
    ManifestTable.cloneShallow(spark, relSrc, dst2)
    assert(ManifestTable.read(spark, dst2).count() === 2)
  }

  test("bloom probe is distributed: sidecar scanned executor-side, only excluded NAMES reach the driver, filter bytes never collected") {
    val path = java.nio.file.Files.createTempDirectory("graft_log13c").toString + "/t"
    val df = spark.range(0, 4000).toDF("id")
      .withColumn("cust", (col("id") * 2654435761L) % 997)
    ManifestTable.setBloomIndex(spark, path, Seq("cust"), items = 4096,
      fpp = 0.01)
    ManifestTable.write(
      df.repartitionByRange(8, col("id")).sortWithinPartitions("id"),
      path, statsCols = Seq("id"))
    val v = ManifestTable.currentVersion(spark, path).get
    val st = ManifestTable.resolveState(spark, path, v)
    val probe = ManifestTable.bloomProbeFrame(spark, path, st, "cust", 99999L)
    // 1) the collected schema is (file NAME, boolean) — the bits column
    //    is projected away inside the executor-side plan, so driver
    //    bytes are flat in filter size
    assert(probe.schema.fieldNames.toSeq ===
      Seq("_graft_bloom_file", "_graft_bloom_maybe"))
    assert(!probe.schema.exists(_.dataType ==
      org.apache.spark.sql.types.BinaryType),
      "probe output must not carry filter bytes to the driver")
    // 2) plan shape: parquet scan of the sidecars + the native probe
    //    expression, no driver-side materialization step
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("Parquet") || plan.contains("parquet"),
      s"probe must scan the sidecar parquet distributively:\n$plan")
    assert(probe.queryExecution.analyzed.toString
      .contains("graft_bloom_probe"),
      "probe must evaluate via the native BloomProbe expression")
    // 3) semantics unchanged: excluded names prune exactly like the
    //    old driver-side probe — absent value excludes nearly all files
    val excluded = ManifestTable.bloomExcludedFiles(spark, path, st,
      "cust", 99999L)
    assert(excluded.size >= 6, s"absent value excluded only ${excluded.size} of 8")
    assert(excluded.forall(n => !n.contains("/")),
      "excluded entries must be basenames, not paths")
    // 4) string-valued probe goes through the same distributed path
    val p2 = java.nio.file.Files.createTempDirectory("graft_log13d").toString + "/t"
    ManifestTable.setBloomIndex(spark, p2, Seq("tag"), items = 1024,
      fpp = 0.01)
    ManifestTable.write(
      spark.range(0, 100).toDF("id")
        .withColumn("tag", concat(lit("t"), col("id"))).repartition(4),
      p2)
    assert(ManifestTable.readWhereEquals(spark, p2, "tag", "t42")
      .count() === 1L)
    val (cAbsent, tot) = ManifestTable.pointLookupCount(spark, p2, "tag",
      "no-such-tag")
    assert(tot === 4 && cAbsent <= 1,
      s"string probe must prune: kept $cAbsent of $tot")
  }

  test("OCC under real thread concurrency: racing appends and merges all land exactly once") {
    val path = java.nio.file.Files.createTempDirectory("graft_log12").toString + "/t"
    // base rows the mergers will update, on keys disjoint from appends
    ManifestTable.write(
      (0 until 8).map(i => (i.toLong, 0L)).toDF("id", "v"), path)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val tasks: Seq[Runnable] =
      // 4 appenders × 3 appends of one unique row each (ids 100+)
      (0 until 4).map { t =>
        new Runnable {
          def run(): Unit = try {
            (0 until 3).foreach { i =>
              ManifestTable.append(
                Seq((100L + t * 10 + i, 1L)).toDF("id", "v"), path,
                maxAttempts = 64)
            }
          } catch { case e: Throwable => failures.add(e); () }
        }
      } ++
      // 2 mergers upserting disjoint base keys to distinct values
      (0 until 2).map { m =>
        new Runnable {
          def run(): Unit = try {
            ManifestTable.merge(
              (0 until 4).map(i => ((m * 4 + i).toLong, 7L + m))
                .toDF("id", "v"),
              path, "id", maxAttempts = 64)
          } catch { case e: Throwable => failures.add(e); () }
        }
      }
    tasks.foreach(pool.submit)
    pool.shutdown()
    assert(pool.awaitTermination(300, java.util.concurrent.TimeUnit.SECONDS))
    assert(failures.isEmpty, s"writer failed: ${Option(failures.peek())}")
    // every committed version is contiguous (no lost or skipped commit)
    val vs = ManifestTable.versions(spark, path)
    assert(vs === (1L to (1 + 12 + 2)).toSeq,
      s"expected 15 contiguous versions, got $vs")
    // final content = serial equivalent: 8 merged base rows + 12 appends
    val got = ManifestTable.read(spark, path)
      .as[(Long, Long)].collect().toSet
    val expect =
      (0 until 4).map(i => (i.toLong, 7L)).toSet ++
        (0 until 4).map(i => ((4 + i).toLong, 8L)) ++
        (for (t <- 0 until 4; i <- 0 until 3) yield (100L + t * 10 + i, 1L))
    assert(got === expect)
  }

  test("every ACID feature composed on ONE table: bloom + ndv + generated + constraint + rename + merge + DV + zorder + clone + restore") {
    val root = java.nio.file.Files.createTempDirectory("graft_log13").toString
    val path = s"$root/t"
    // declare everything up front (all metadata-only, empty-table ok)
    ManifestTable.setBloomIndex(spark, path, Seq("user"), items = 1L << 12)
    ManifestTable.setNdvStats(spark, path, Seq("user", "id"))
    ManifestTable.addGeneratedColumn(spark, path, "bucket", "pmod(id, 8)")
    // load: generated column computed; sidecars built; stats recorded
    ManifestTable.write(
      spark.range(0, 2000).toDF("id")
        .withColumn("user", pmod(col("id") * 2654435761L, lit(500)))
        .withColumn("v", col("id") * 3)
        .repartitionByRange(8, col("id")).sortWithinPartitions(col("id")),
      path, statsCols = Seq("id"))
    // rename FIRST (a constraint on the old name would rightly block
    // it), then constrain the NEW name
    ManifestTable.renameColumn(spark, path, "v", "value")
    ManifestTable.addCheckConstraint(spark, path, "nonneg_value", "value >= 0")
    // keyed merge with updates AND a DV delete, through all the guards
    // (generated bucket enforced, constraint enforced, mapping staged
    // physical, bloom + ndv sidecars rebuilt for touched files)
    ManifestTable.merge(
      Seq((5L, 40L, 123L, 5L, false), (6L, 41L, 0L, 6L, true))
        .toDF("id", "user", "value", "bucket", "_d"),
      path, "id", deleteCol = Some("_d"), statsCols = Seq("id"),
      deleteVectors = true)
    val after = ManifestTable.read(spark, path)
    assert(after.count() === 1999)
    assert(after.filter(col("id") === 5).select("value").head().getLong(0) === 123L)
    assert(after.filter(col("id") === 6).count() === 0)
    // every metadata consumer answers through the mapping on the live DV'd state
    assert(ManifestTable.readWhereEquals(spark, path, "user", 42L).count()
      === after.filter(col("user") === 42L).count())
    val (est, cov, tot) = ManifestTable.ndvEstimate(spark, path, "user")
    assert(cov === tot && math.abs(est - 500L) <= 25L)
    // the constraint bites a violating append; the generated column
    // catches a wrong bucket; both leave no version behind
    val vBefore = ManifestTable.currentVersion(spark, path)
    intercept[Exception] {
      ManifestTable.append(Seq((9000L, 1L, -1L, 0L))
        .toDF("id", "user", "value", "bucket"), path) }
    intercept[Exception] {
      ManifestTable.append(Seq((9000L, 1L, 1L, 5L))
        .toDF("id", "user", "value", "bucket"), path) }
    assert(ManifestTable.currentVersion(spark, path) === vBefore)
    // zorder the whole thing; content invariant, everything still works
    ManifestTable.optimizeZOrder(spark, path, "user", "id", targetFiles = 8)
    assert(ManifestTable.read(spark, path).count() === 1999)
    assert(ManifestTable.readWhereEquals(spark, path, "user", 42L).count()
      === after.filter(col("user") === 42L).count())
    assert(ManifestTable.ndvEstimate(spark, path, "user")._2 === 8)
    // clone carries the whole feature set; restore rolls everything back
    val dst = s"$root/c"
    ManifestTable.cloneShallow(spark, path, dst)
    assert(ManifestTable.read(spark, dst).count() === 1999)
    assert(ManifestTable.generatedColumns(spark, dst).keySet === Set("bucket"))
    assert(ManifestTable.checkConstraints(spark, dst).keySet === Set("nonneg_value"))
    assert(ManifestTable.columnMapping(spark, dst) === Map("value" -> "v"))
    val vZ = ManifestTable.currentVersion(spark, path).get
    ManifestTable.restore(spark, path, vZ - 1) // back before the zorder
    assert(ManifestTable.read(spark, path).count() === 1999)
  }

  test("history classifies every commit type; compactToFileSize hits the byte target") {
    val path = java.nio.file.Files.createTempDirectory("graft_log15").toString + "/t"
    ManifestTable.write(spark.range(0, 100).toDF("id")
      .withColumn("v", col("id")), path, tag = Some("load1"))        // WRITE
    ManifestTable.append(spark.range(100, 200).toDF("id")
      .withColumn("v", col("id")), path)                             // APPEND
    ManifestTable.merge(Seq((5L, 500L)).toDF("id", "v"), path, "id") // MERGE
    ManifestTable.addCheckConstraint(spark, path, "ok", "v >= 0")    // CONSTRAINT
    ManifestTable.renameColumn(spark, path, "id", "row_id")          // SCHEMA
    ManifestTable.setNdvStats(spark, path, Seq("id"))                // INDEX
    val h = ManifestTable.history(spark, path)
      .select("version", "operation", "tag")
      .as[(Long, String, Option[String])].collect().toSeq
    assert(h === Seq(
      (6L, "INDEX", None), (5L, "SCHEMA", None), (4L, "CONSTRAINT", None),
      (3L, "MERGE", None), (2L, "APPEND", None),
      (1L, "WRITE", Some("load1"))), s"got $h")
    // timestamps ride along, newest first, monotone non-decreasing back
    val ts = ManifestTable.history(spark, path).select("ts")
      .as[Long].collect()
    assert(ts.zip(ts.tail).forall { case (a, b) => a >= b })

    // size-targeted compaction: ~2.4 MB of rows at a 1 MB target → 3 files
    val p2 = java.nio.file.Files.createTempDirectory("graft_log15b").toString + "/t"
    ManifestTable.write(
      spark.range(0, 60000).toDF("id")
        .withColumn("pad", concat(lit("x" * 200), col("id"))),
      p2)
    val before = ManifestTable.manifestFiles(spark, p2, 1)
      .map(r => new java.io.File(p2, r).length).sum
    val target = before / 3 + 1
    ManifestTable.compactToFileSize(spark, p2, target)
    val files = ManifestTable.manifestFiles(spark, p2,
      ManifestTable.currentVersion(spark, p2).get)
    assert(files.size >= 2 && files.size <= 4,
      s"expected ~3 files at a third-of-table target, got ${files.size}")
    assert(ManifestTable.read(spark, p2).count() === 60000)
  }

  test("protocol gate: a future-writer table refuses writes but reads; a future-reader table refuses resolution") {
    val path = java.nio.file.Files.createTempDirectory("graft_log16").toString + "/t"
    ManifestTable.write(Seq((1L, "a")).toDF("id", "v"), path)
    // same-version upgrade is a no-op commit that records the protocol
    ManifestTable.upgradeProtocol(spark, path, 1, 1)
    assert(ManifestTable.read(spark, path).count() === 1)
    // downgrades and beyond-own-implementation upgrades refuse
    intercept[IllegalArgumentException] {
      ManifestTable.upgradeProtocol(spark, path, 1, 99) }

    // simulate a FUTURE writer's commit: minWriter beyond ours — reads
    // still fine, writes refuse loudly
    def forge(v: Long, mr: Int, mw: Int): Unit = {
      val json = s"""{"version":$v,"ts":0,"minReader":$mr,"minWriter":$mw,"adds":[],"removes":[]}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$path/_graft_manifest-v$v.json"),
        json.getBytes("UTF-8"))
    }
    forge(3L, 1, 99)
    assert(ManifestTable.read(spark, path).count() === 1, "reads must survive a higher minWriter")
    val ew = intercept[IllegalStateException] {
      ManifestTable.append(Seq((2L, "b")).toDF("id", "v"), path) }
    assert(ew.getMessage.contains("writer version 99"))
    val em = intercept[IllegalStateException] {
      ManifestTable.merge(Seq((1L, "x")).toDF("id", "v"), path, "id") }
    assert(em.getMessage.contains("writer version 99"))
    // the gate covers every verb that publishes a version — metadata
    // verbs and restore included, not only the data writes
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    Seq[(String, () => Long)](
      "addCheckConstraint" -> (() =>
        ManifestTable.addCheckConstraint(spark, path, "id_pos", "id > 0")),
      "addColumns" -> (() => ManifestTable.addColumns(spark, path,
        StructType(Seq(StructField("w", LongType))))),
      "renameColumn" -> (() =>
        ManifestTable.renameColumn(spark, path, "v", "v2")),
      "setColumnDefault" -> (() =>
        ManifestTable.setColumnDefault(spark, path, "v", "'d'")),
      "restore" -> (() => ManifestTable.restore(spark, path, 1L))
    ).foreach { case (verb, run) =>
      val e = intercept[IllegalStateException](run())
      assert(e.getMessage.contains("writer version 99"),
        s"$verb must refuse a future-writer table: ${e.getMessage}")
    }
    assert(ManifestTable.versions(spark, path) === Seq(1L, 2L, 3L),
      "a refused verb must not commit")

    // a higher minReader refuses resolution entirely
    forge(4L, 99, 99)
    val er = intercept[IllegalStateException] {
      ManifestTable.read(spark, path) }
    assert(er.getMessage.contains("reader version 99"))
  }

  test("empty-source conditional merge analyzes its clause expressions exactly like a non-empty one") {
    val path = java.nio.file.Files.createTempDirectory("graft_log_empty_merge").toString + "/t"
    ManifestTable.write(Seq((1L, "a")).toDF("id", "v"), path)
    val nonEmpty = Seq((1L, "b"), (2L, "c")).toDF("id", "v")
    val empty = nonEmpty.limit(0)
    // a typo'd column in a WHEN MATCHED condition, and in a WHEN NOT
    // MATCHED condition: the batch's emptiness must not decide whether
    // the typo fails
    Seq(
      (src: org.apache.spark.sql.DataFrame) => ManifestTable.mergeConditional(
        src, path, "id", whenMatchedUpdate = Some(col("no_such_col") > 0)),
      (src: org.apache.spark.sql.DataFrame) => ManifestTable.mergeConditional(
        src, path, "id", whenNotMatchedInsert = Some(col("no_such_col") > 0))
    ).foreach { run =>
      val full = intercept[Exception](run(nonEmpty))
      val none = intercept[Exception](run(empty))
      assert(full.isInstanceOf[org.apache.spark.sql.AnalysisException],
        s"non-empty batch: ${full.getClass}: ${full.getMessage}")
      assert(none.getClass === full.getClass,
        s"empty batch raised ${none.getClass}, non-empty ${full.getClass}")
    }
    assert(ManifestTable.versions(spark, path) === Seq(1L),
      "a merge with a bad clause must not commit")
    // a well-formed empty merge still commits its (empty) version
    assert(ManifestTable.mergeConditional(empty, path, "id",
      whenMatchedUpdate = Some(col("v") =!= col("_b_v"))) === 2L)
  }

  test("OCC races across METADATA commit types: rename, constraint, generated, appends all serialize") {
    val path = java.nio.file.Files.createTempDirectory("graft_log14").toString + "/t"
    ManifestTable.write(
      (0 until 8).map(i => (i.toLong, i.toLong, 0L)).toDF("id", "a", "b"), path)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def task(f: () => Unit): Runnable = new Runnable {
      def run(): Unit = try f() catch { case e: Throwable => failures.add(e); () }
    }
    val tasks = Seq(
      task(() => ManifestTable.renameColumn(spark, path, "a", "alpha",
        maxAttempts = 64)),
      task(() => ManifestTable.addCheckConstraint(spark, path, "b_ok",
        "b >= 0", maxAttempts = 64)),
      task(() => ManifestTable.addGeneratedColumn(spark, path, "b",
        "0", maxAttempts = 64)),
      task(() => ManifestTable.setColumnDefault(spark, path, "id",
        "0", maxAttempts = 64)),
      // appenders omit the column being renamed (a batch speaking the
      // OLD name after the rename lands would legally evolve a second
      // column — correct, but not what this race is probing)
      task(() => (0 until 3).foreach { i =>
        ManifestTable.append(Seq((100L + i, 0L))
          .toDF("id", "b"), path, maxAttempts = 64) }),
      task(() => (0 until 3).foreach { i =>
        ManifestTable.append(Seq((200L + i, 0L))
          .toDF("id", "b"), path, maxAttempts = 64) }))
    tasks.foreach(pool.submit)
    pool.shutdown()
    assert(pool.awaitTermination(300, java.util.concurrent.TimeUnit.SECONDS))
    assert(failures.isEmpty, s"writer failed: ${Option(failures.peek())}")
    val vs = ManifestTable.versions(spark, path)
    assert(vs === (1L to vs.length.toLong).toSeq,
      s"versions must be contiguous, got $vs")
    val st = ManifestTable.read(spark, path)
    assert(st.schema.fieldNames.contains("alpha"))
    assert(ManifestTable.checkConstraints(spark, path).keySet === Set("b_ok"))
    assert(ManifestTable.generatedColumns(spark, path) === Map("b" -> "0"))
    assert(ManifestTable.columnDefaults(spark, path) === Map("id" -> "0"))
  }

  test("commit timestamps are STRICTLY monotone — timestamp travel resolves every version (r16 in-commit-timestamps)") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_ict").toString + "/t"
    // rapid-fire commits: without the write-side clamp several land in
    // the SAME millisecond, making `TIMESTAMP AS OF` ambiguous (and a
    // behind-clock racer could even record ts going BACKWARD)
    ManifestTable.write(Seq(1L).toDF("id"), path)
    (2 to 6).foreach(i => ManifestTable.append(Seq(i.toLong).toDF("id"), path))
    val vs = ManifestTable.versions(spark, path)
    val ts = vs.map(v => ManifestTable.commitTimestamp(spark, path, v))
    assert(ts.sliding(2).forall(p => p(1) > p.head),
      s"timestamps must STRICTLY increase, got $ts")
    // each version's own ts resolves exactly that version
    vs.zip(ts).foreach { case (v, t) =>
      assert(ManifestTable.versionAsOfTimestamp(spark, path, t)
        === Some(v), s"ts=$t must resolve v$v")
    }
  }
}
