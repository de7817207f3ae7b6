package graft

import graft.pipeline.ManifestTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-11 SQL surface: the ACID verbs and path-table reads from pure
  * SQL text through the injected parser + table functions — the layer
  * the reference's platform exposes over its tables
  * (`/root/reference/src/etl_pipeline.py:36-37`). Each test proves SQL
  * ≡ Scala API on the same table.
  */
class GraftSqlSpec extends SparkSpec {
  import spark.implicits._

  /** One extended session on the shared context (getOrCreate on the
    * plain builder would return the shared session, bypassing
    * extensions). */
  private lazy val sqlSession: SparkSession = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder()
      .master("local[4]")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
  private def withSql[A](f: SparkSession => A): A = {
    val base = spark
    val s = sqlSession
    SparkSession.setActiveSession(s)
    SparkSession.setDefaultSession(s)
    try f(s)
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("graft_table TVF and graft.'path' sugar: current, VERSION AS OF, TIMESTAMP AS OF, full SELECT composes") {
    val path = java.nio.file.Files.createTempDirectory("graft_sql1").toString + "/t"
    ManifestTable.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    val t1 = System.currentTimeMillis()
    Thread.sleep(20)
    ManifestTable.append(Seq((3L, "c")).toDF("id", "v"), path)
    withSql { s =>
      assert(s.sql(s"SELECT * FROM graft_table('$path')").count() === 3)
      assert(s.sql(s"SELECT * FROM graft_table('$path', 1)").count() === 2)
      // the Delta-ish sugar rewrites anywhere in the statement
      assert(s.sql(s"SELECT count(*) AS n FROM graft.'$path'")
        .head().getLong(0) === 3)
      assert(s.sql(s"SELECT * FROM graft.'$path' VERSION AS OF 1")
        .count() === 2)
      val atT1 = s.sql(
        s"SELECT * FROM graft.'$path' TIMESTAMP AS OF '$t1'")
      assert(atT1.count() === 2, "epoch-millis time travel")
      // full SELECT syntax composes: filter + join of two travel points
      val joined = s.sql(
        s"""SELECT cur.id, cur.v
            FROM graft.'$path' cur
            LEFT ANTI JOIN graft.'$path' VERSION AS OF 1 old
              ON cur.id = old.id""")
      assert(joined.as[(Long, String)].collect().toSeq === Seq((3L, "c")))
    }
  }

  test("UPDATE / DELETE / DESCRIBE HISTORY SQL verbs match the Scala API") {
    val path = java.nio.file.Files.createTempDirectory("graft_sql2").toString + "/t"
    ManifestTable.write(
      spark.range(0, 100).toDF("id").withColumn("v", col("id") * 2)
        .repartitionByRange(4, col("id")), path)
    withSql { s =>
      val uv = s.sql(s"UPDATE '$path' SET v = v + 1000 WHERE id < 10")
      assert(uv.head().getLong(0) === 2L, "UPDATE returns the version")
      val dv = s.sql(s"DELETE FROM '$path' WHERE id >= 90")
      assert(dv.head().getLong(0) === 3L)
      val got = s.sql(s"SELECT id, v FROM graft.'$path' ORDER BY id")
        .as[(Long, Long)].collect()
      assert(got.length === 90)
      assert(got.take(10).forall { case (i, v) => v === i * 2 + 1000 })
      assert(got.drop(10).forall { case (i, v) => v === i * 2 })
      val hist = s.sql(s"DESCRIBE HISTORY '$path'")
        .select("version", "operation").as[(Long, String)].collect().toMap
      assert(hist === Map(1L -> "WRITE", 2L -> "UPDATE", 3L -> "DELETE"))
      // multi-assignment with top-level comma inside a function call
      s.sql(s"UPDATE '$path' SET v = greatest(v, 1), id = id WHERE id = 0")
      assert(hist.size === 3) // previous snapshot unchanged
      // WHERE-less forms: UPDATE touches every row, DELETE truncates
      val p2 = java.nio.file.Files.createTempDirectory("graft_sql2b")
        .toString + "/t"
      ManifestTable.write(s.range(0, 20).toDF("id")
        .withColumn("v", lit(1L)), p2)
      s.sql(s"UPDATE '$p2' SET v = v * 10")
      assert(ManifestTable.read(s, p2).agg(sum("v")).head().getLong(0)
        === 200L)
      s.sql(s"DELETE FROM '$p2'")
      assert(ManifestTable.read(s, p2).count() === 0,
        "WHERE-less DELETE must truncate to a readable empty version")
    }
  }

  test("MERGE INTO SQL: subquery source, clause conditions with target.col, parity with mergeConditional") {
    val root = java.nio.file.Files.createTempDirectory("graft_sql3").toString
    val path = s"$root/t"
    val apiPath = s"$root/api"
    val base = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
    ManifestTable.write(base, path)
    ManifestTable.write(base, apiPath)
    withSql { s =>
      // temp views are SESSION-scoped: register on the SQL session
      s.createDataFrame(Seq((1L, 99L), (3L, 1L), (4L, 40L)))
        .toDF("id", "v").createOrReplaceTempView("updates_src")
      val mv = s.sql(
        s"""MERGE INTO '$path' USING updates_src ON id
            WHEN MATCHED AND v > target.v THEN UPDATE SET *
            WHEN MATCHED AND v <= target.v THEN DELETE
            WHEN NOT MATCHED THEN INSERT *""")
      assert(mv.head().getLong(0) === 2L)
      // same clauses through the Scala API on the twin table
      ManifestTable.mergeConditional(
        Seq((1L, 99L), (3L, 1L), (4L, 40L)).toDF("id", "v"), apiPath, "id",
        whenMatchedUpdate = Some(col("v") > col("_b_v")),
        whenMatchedDelete = Some(col("v") <= col("_b_v")),
        whenNotMatchedInsert = Some(lit(true)))
      val viaSql = ManifestTable.read(s, path)
        .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
      val viaApi = ManifestTable.read(s, apiPath)
        .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
      assert(viaSql === viaApi)
      assert(viaSql === Seq((1L, 99L), (2L, 20L), (4L, 40L)))
      // subquery source with aliases
      val mv2 = s.sql(
        s"""MERGE INTO '$path' AS t
            USING (SELECT id, v * 10 AS v FROM updates_src WHERE id = 4) AS u
            ON t.id = u.id
            WHEN MATCHED THEN UPDATE SET *""")
      assert(ManifestTable.read(s, path).filter(col("id") === 4)
        .select("v").head().getLong(0) === 400L)
      assert(mv2.head().getLong(0) === 3L)
    }
  }

  test("MERGE SQL expression clauses: SET c = expr keeps target values, INSERT (cols) VALUES fills NULLs (r12)") {
    val root = java.nio.file.Files.createTempDirectory("graft_sql8").toString
    val path = s"$root/t"
    ManifestTable.write(
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
        .toDF("id", "v", "tagc"), path)
    withSql { s =>
      s.createDataFrame(Seq((1L, 5L), (4L, 40L)))
        .toDF("id", "delta").createOrReplaceTempView("deltas_src")
      // SET v = target.v + delta: unassigned `tagc` keeps the TARGET
      // value; INSERT list omits tagc -> NULL
      s.sql(
        s"""MERGE INTO '$path' AS t USING deltas_src AS u ON t.id = u.id
            WHEN MATCHED THEN UPDATE SET v = t.v + u.delta
            WHEN NOT MATCHED THEN INSERT (id, v) VALUES (u.id, u.delta)""")
      val got = ManifestTable.read(s, path)
        .select("id", "v", "tagc").as[(Long, Long, Option[String])]
        .collect().sortBy(_._1).toSeq
      assert(got === Seq((1L, 15L, Some("a")), (2L, 20L, Some("b")),
        (3L, 30L, Some("c")), (4L, 40L, None)))
    }
  }

  test("MERGE SQL with an EMPTY source resolves table-qualified `src.col` clause references as a non-empty source does") {
    val root = java.nio.file.Files.createTempDirectory("graft_sql8e").toString
    val path = s"$root/t"
    ManifestTable.write(Seq((1L, 10L)).toDF("id", "v"), path)
    withSql { s =>
      s.createDataFrame(Seq((1L, 5L))).toDF("id", "v").limit(0)
        .createOrReplaceTempView("empty_src")
      s.sql(
        s"""MERGE INTO '$path' USING empty_src ON id
            WHEN MATCHED THEN UPDATE SET v = empty_src.v
            WHEN NOT MATCHED THEN INSERT (id, v) VALUES (empty_src.id, empty_src.v)""")
      // the empty batch commits its (empty) version and changes no row
      assert(ManifestTable.versions(s, path) === Seq(1L, 2L))
      assert(ManifestTable.read(s, path).as[(Long, Long)].collect().toSeq ===
        Seq((1L, 10L)))
    }
  }

  test("MERGE SET payload with a column literally named `matched` is not truncated (r13)") {
    val root = java.nio.file.Files.createTempDirectory("graft_sql13m").toString
    val path = s"$root/t"
    ManifestTable.write(
      Seq((1L, 10L, false), (2L, 20L, true), (3L, 30L, false))
        .toDF("id", "v", "matched"), path)
    withSql { s =>
      s.createDataFrame(Seq((1L, 0L, true), (2L, 0L, false), (4L, 40L, true)))
        .toDF("id", "v", "matched").createOrReplaceTempView("m_src")
      // the CASE arm's `WHEN matched THEN 100` must NOT be read as a
      // new WHEN MATCHED clause head — the old lookahead split here
      s.sql(
        s"""MERGE INTO '$path' AS t USING m_src AS u ON t.id = u.id
            WHEN MATCHED THEN UPDATE SET v = CASE WHEN matched THEN 100 ELSE -1 END
            WHEN NOT MATCHED THEN INSERT *""")
      val got = ManifestTable.read(s, path)
        .select("id", "v").as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(got === Seq((1L, 100L), (2L, -1L), (3L, 30L), (4L, 40L)),
        s"CASE WHEN matched payload mis-parsed: $got")
    }
  }

  test("MERGE SQL clause order is first-clause-wins; multi-clause composes, unreachable clauses rejected (r12/r13)") {
    val root = java.nio.file.Files.createTempDirectory("graft_sql9").toString
    withSql { s =>
      s.createDataFrame(Seq((1L, 100L), (2L, 1L)))
        .toDF("id", "v").createOrReplaceTempView("ord_src")
      // UPDATE textually first: a row matching BOTH conditions updates
      // (delta-spark first-clause-wins), never deletes
      val p1 = s"$root/t1"
      ManifestTable.write(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), p1)
      s.sql(
        s"""MERGE INTO '$p1' USING ord_src ON id
            WHEN MATCHED AND v > 50 THEN UPDATE SET *
            WHEN MATCHED THEN DELETE""")
      assert(ManifestTable.read(s, p1).select("id", "v")
        .as[(Long, Long)].collect().toSeq.sorted === Seq((1L, 100L)),
        "id=1 matches the earlier UPDATE clause and must not delete")
      // DELETE first: the same rows delete
      val p2 = s"$root/t2"
      ManifestTable.write(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), p2)
      s.sql(
        s"""MERGE INTO '$p2' USING ord_src ON id
            WHEN MATCHED AND v > 50 THEN DELETE
            WHEN MATCHED THEN UPDATE SET *""")
      assert(ManifestTable.read(s, p2).select("id", "v")
        .as[(Long, Long)].collect().toSeq.sorted === Seq((2L, 1L)),
        "id=1 matches the earlier DELETE clause; id=2 updates")
      // multiple clauses of one kind compose first-clause-wins (r13 —
      // Delta's full multi-clause surface): three matched clauses,
      // each claiming the first row its condition hits
      val p4 = s"$root/t4"
      ManifestTable.write(
        Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("id", "v"), p4)
      s.createDataFrame(Seq((1L, 100L), (2L, 2L), (3L, 3L)))
        .toDF("id", "v").createOrReplaceTempView("mc_src")
      s.sql(
        s"""MERGE INTO '$p4' USING mc_src ON id
            WHEN MATCHED AND v > 50 THEN UPDATE SET v = 111
            WHEN MATCHED AND target.v = 20 THEN UPDATE SET v = 222
            WHEN MATCHED THEN DELETE""")
      assert(ManifestTable.read(s, p4).select("id", "v")
        .as[(Long, Long)].collect().toSeq.sorted ===
        Seq((1L, 111L), (2L, 222L), (4L, 40L)),
        "clause 1 claims id=1, clause 2 claims id=2, the fall-through " +
          "DELETE claims id=3; unmatched id=4 survives untouched")
      // an unconditional matched clause must be last (Delta's rule)
      intercept[IllegalArgumentException] {
        s.sql(
          s"""MERGE INTO '$p2' USING ord_src ON id
              WHEN MATCHED THEN UPDATE SET *
              WHEN MATCHED THEN DELETE""")
      }
      // a string literal containing `target.` is data, not a reference
      val p3 = s"$root/t3"
      ManifestTable.write(Seq((1L, "x"), (2L, "target.v"))
        .toDF("id", "note"), p3)
      s.createDataFrame(Seq((1L, "n1"), (2L, "n2"))).toDF("id", "note")
        .createOrReplaceTempView("note_src")
      s.sql(
        s"""MERGE INTO '$p3' USING note_src ON id
            WHEN MATCHED AND target.note = 'target.v' THEN UPDATE SET *""")
      assert(ManifestTable.read(s, p3).select("id", "note")
        .as[(Long, String)].collect().toSeq.sorted ===
        Seq((1L, "x"), (2L, "n2")),
        "only the row whose note LITERALLY equals 'target.v' updates")
      // graft.'path' inside an ordinary string literal passes through
      assert(s.sql(s"SELECT 'graft.''$p3''' AS lit_text").head().getString(0)
        === s"graft.'$p3'")
    }
  }

  test("ALTER TABLE / SHALLOW CLONE / ANALYZE / graft_table_changes: the full console surface from SQL text") {
    val root = java.nio.file.Files.createTempDirectory("graft_sql5").toString
    val path = s"$root/t"
    ManifestTable.write(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), path)
    withSql { s =>
      // rename + constraint lifecycle, pure SQL
      s.sql(s"ALTER TABLE '$path' RENAME COLUMN v TO amount")
      assert(ManifestTable.read(s, path).schema.fieldNames.toSet ===
        Set("id", "amount"))
      s.sql(s"ALTER TABLE '$path' ADD CONSTRAINT amt_pos CHECK (amount > 0)")
      intercept[Exception] {
        ManifestTable.append(Seq((3L, -1L)).toDF("id", "amount"), path)
      }
      s.sql(s"ALTER TABLE '$path' DROP CONSTRAINT amt_pos")
      ManifestTable.append(Seq((3L, -1L)).toDF("id", "amount"), path)
      // ANALYZE declares the NDV index; later commits sketch
      s.sql(s"ANALYZE TABLE '$path' FOR COLUMNS id, amount")
      ManifestTable.append(Seq((4L, 40L)).toDF("id", "amount"), path)
      val (_, covered, _) = ManifestTable.rowCountFromStats(s, path)
      assert(covered >= 1, "ANALYZE must start sketching commits")
      // SHALLOW CLONE via SQL, then a column drop on the clone only
      val dst = s"$root/clone"
      s.sql(s"CREATE TABLE '$dst' SHALLOW CLONE '$path'")
      assert(ManifestTable.read(s, dst).count() ===
        ManifestTable.read(s, path).count())
      s.sql(s"ALTER TABLE '$dst' DROP COLUMN amount")
      assert(ManifestTable.read(s, dst).schema.fieldNames.toSeq === Seq("id"))
      assert(ManifestTable.read(s, path).schema.fieldNames.toSet ===
        Set("id", "amount"), "dropping on the clone must not touch the source")
      // CDF from SQL: all changes since v1 with their commit versions
      val ch = s.sql(
        s"SELECT * FROM graft_table_changes('$path', 2) ORDER BY _commit_version, id")
      assert(ch.schema.fieldNames.contains("_change") &&
        ch.schema.fieldNames.contains("_commit_version"))
      val inserts = ch.filter(col("_change") === "insert")
        .select("id").as[Long].collect().toSet
      assert(inserts === Set(3L, 4L),
        s"appends after v1 must replay as inserts: $inserts")
    }
  }

  test("INSERT INTO / INSERT OVERWRITE / CREATE TABLE AS SELECT: SQL pipelines over path tables compose end-to-end") {
    val root = java.nio.file.Files.createTempDirectory("graft_sql7").toString
    val src = s"$root/src"
    val dst = s"$root/dst"
    ManifestTable.write(spark.range(0, 100).toDF("id")
      .withColumn("v", col("id") * 2), src)
    withSql { s =>
      // CTAS reading a path table THROUGH the sugar in the same statement
      val cv = s.sql(
        s"CREATE TABLE '$dst' AS SELECT id, v FROM graft.'$src' WHERE id < 50")
      assert(cv.head().getLong(0) === 1L)
      assert(ManifestTable.read(s, dst).count() === 50)
      // CTAS refuses an existing table
      intercept[IllegalArgumentException] {
        s.sql(s"CREATE TABLE '$dst' AS SELECT 1 AS id, 2 AS v")
      }
      // INSERT INTO appends transactionally (one O(new files) commit)
      val iv = s.sql(
        s"INSERT INTO '$dst' SELECT id, v FROM graft.'$src' WHERE id >= 90")
      assert(iv.head().getLong(0) === 2L)
      assert(ManifestTable.read(s, dst).count() === 60)
      // history shows APPEND, time travel shows the pre-insert snapshot
      assert(ManifestTable.readVersion(s, dst, 1).count() === 50)
      // INSERT OVERWRITE replaces the snapshot
      s.sql(s"INSERT OVERWRITE '$dst' SELECT id, v FROM graft.'$src'")
      assert(ManifestTable.read(s, dst).count() === 100)
      // inline-row form — resolution is BY NAME (the append contract),
      // so inline rows alias their columns
      s.sql(s"INSERT INTO '$dst' " +
        "SELECT CAST(999 AS BIGINT) AS id, CAST(0 AS BIGINT) AS v")
      assert(ManifestTable.read(s, dst).filter(col("id") === 999)
        .count() === 1)
    }
  }

  test("DESCRIBE DETAIL / VACUUM DRY RUN / partition-scoped OPTIMIZE WHERE") {
    val path = java.nio.file.Files.createTempDirectory("graft_sql6").toString + "/t"
    val df = spark.range(0, 300).toDF("id")
      .withColumn("part", (col("id") % 3).cast("int"))
      .withColumn("v", col("id") * 2)
    ManifestTable.write(df.repartition(4), path,
      partitionCols = Seq("part"))                                     // v1
    // fragment ONE partition via an overwrite keeping the layout
    ManifestTable.write(df.repartition(6), path,
      partitionCols = Seq("part"))                                     // v2
    withSql { s =>
      // one-row summary with the layout and counts
      val det = s.sql(s"DESCRIBE DETAIL '$path'").head()
      assert(det.getAs[Long]("version") === 2L)
      assert(det.getAs[String]("partition_columns") === "part")
      assert(det.getAs[Long]("num_files") >= 3L)
      assert(det.getAs[Long]("size_bytes") > 0L)
      // partition-scoped OPTIMIZE: only part=1's files rewrite
      val st2 = ManifestTable.resolveState(s, path, 2L)
      val others = st2.files.filterNot(_.contains("part=1"))
      val sig = others.map { rel =>
        val f = new java.io.File(s"$path/$rel")
        rel -> ((f.length, f.lastModified))
      }.toMap
      val ov = s.sql(s"OPTIMIZE '$path' WHERE part = 1")
      assert(ov.head().getLong(0) === 3L)
      val st3 = ManifestTable.resolveState(s, path, 3L)
      others.foreach { rel =>
        assert(st3.files.contains(rel), s"$rel must carry")
        val f = new java.io.File(s"$path/$rel")
        assert((f.length, f.lastModified) === sig(rel),
          s"non-matching partition file $rel was rewritten")
      }
      assert(st3.files.count(_.contains("part=1")) === 1,
        "the matching partition must bin-pack to one file")
      assert(ManifestTable.read(s, path).count() === 300)
      // a cond matching nothing commits nothing
      assert(s.sql(s"OPTIMIZE '$path' WHERE part = 99")
        .head().getLong(0) === 3L)
      // SHOW PARTITIONS: distinct tuples from the manifest, no scan
      val parts = s.sql(s"SHOW PARTITIONS '$path'")
        .as[String].collect().toSeq
      assert(parts === Seq("part=0", "part=1", "part=2"), s"$parts")
      // DRY RUN reports what vacuum would sweep, sweeps nothing
      val dry = s.sql(s"VACUUM '$path' RETAIN 1 VERSIONS DRY RUN")
        .as[Long].collect().toSeq
      assert(dry === Seq(1L, 2L))
      assert(ManifestTable.versions(s, path) === Seq(1L, 2L, 3L),
        "dry run must not delete manifests")
      assert(ManifestTable.readVersion(s, path, 1).count() === 300)
      // the real sweep matches the dry-run report
      assert(s.sql(s"VACUUM '$path' RETAIN 1 VERSIONS")
        .as[Long].collect().toSeq === dry)
    }
  }

  test("OPTIMIZE [ZORDER BY] / RESTORE / VACUUM SQL verbs") {
    val path = java.nio.file.Files.createTempDirectory("graft_sql4").toString + "/t"
    val df = spark.range(0, 4096).toDF("id")
      .withColumn("x", (col("id") % 64).cast("int"))
      .withColumn("y", (col("id") / 64).cast("int"))
    ManifestTable.write(df.repartition(8), path, statsCols = Seq("x", "y"))
    withSql { s =>
      // OPTIMIZE ZORDER clusters both axes: either-axis range prune works
      val zv = s.sql(s"OPTIMIZE '$path' INTO 16 FILES ZORDER BY (x, y)")
      assert(zv.head().getLong(0) === 2L)
      val (cx, tx) = ManifestTable.pruneCount(s, path, "x", 0.0, 7.0)
      val (cy, ty) = ManifestTable.pruneCount(s, path, "y", 0.0, 7.0)
      assert(tx === 16 && cx < tx && cy < ty,
        s"zorder must prune both axes: x $cx/$tx y $cy/$ty")
      // RESTORE back to v1, then OPTIMIZE (plain bin-pack)
      val rv = s.sql(s"RESTORE TABLE '$path' TO VERSION AS OF 1")
      assert(rv.head().getLong(0) === 3L)
      assert(ManifestTable.manifestFiles(s, path, 3).toSet ===
        ManifestTable.manifestFiles(s, path, 1).toSet)
      val ov = s.sql(s"OPTIMIZE '$path' INTO 2 FILES")
      assert(ov.head().getLong(0) === 4L)
      assert(ManifestTable.manifestFiles(s, path, 4).size === 2)
      // VACUUM sweeps history
      val swept = s.sql(s"VACUUM '$path' RETAIN 1 VERSIONS")
        .as[Long].collect()
      assert(swept.nonEmpty)
      assert(ManifestTable.read(s, path).count() === 4096)
      // every OTHER statement still parses through Spark byte-identical
      assert(s.sql("SELECT 1 + 1 AS two").head().getInt(0) === 2)
    }
  }
}
