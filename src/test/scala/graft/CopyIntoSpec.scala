package graft

import graft.pipeline.ManifestTable
import org.apache.spark.sql.SparkSession

/** COPY INTO — idempotent FILE-level ingest (the Databricks/Delta COPY
  * INTO shape): the ingested-file ledger rides the commit (atomic with
  * the data), folds into checkpoints (vacuum-proof), and rolls back
  * with RESTORE.
  */
class CopyIntoSpec extends SparkSpec {
  import spark.implicits._

  private def writeOneFile(rows: Seq[(Long, String)], dest: String): Unit =
    rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(dest)

  /** Flatten a one-file parquet dir into `<dir>/<name>.parquet`. */
  private def stage(rows: Seq[(Long, String)], dir: String,
                    name: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ci_stage")
    writeOneFile(rows, tmp.toString + "/d")
    val part = new java.io.File(tmp.toString + "/d").listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(dir, s"$name.parquet")): Unit
  }

  test("overlapping runs ingest each file exactly once; zero new files = no commit") {
    val base = java.nio.file.Files.createTempDirectory("graft_ci1").toString
    val src = s"$base/dump"
    val table = s"$base/t"
    ManifestTable.write(Seq((0L, "seed")).toDF("id", "v"), table)   // v1
    stage(Seq((1L, "a"), (2L, "b")), src, "f1")
    stage(Seq((3L, "c")), src, "f2")
    val (v2, n1) = ManifestTable.copyInto(spark, table, src)
    assert(v2 === 2L && n1 === 2, s"first run must ingest both files: $n1")
    // replay: nothing new — NO commit, same version
    val (v2b, n2) = ManifestTable.copyInto(spark, table, src)
    assert(v2b === 2L && n2 === 0, "replay must be a no-op without a commit")
    // the dump grows; only the NEW file ingests
    stage(Seq((4L, "d"), (5L, "e")), src, "f3")
    val (v3, n3) = ManifestTable.copyInto(spark, table, src)
    assert(v3 === 3L && n3 === 1, s"grown dump must ingest only f3: $n3")
    val got = ManifestTable.read(spark, table)
      .as[(Long, String)].collect().toSet
    assert(got === Set((0L, "seed"), (1L, "a"), (2L, "b"), (3L, "c"),
      (4L, "d"), (5L, "e")), s"content wrong: $got")
    // the ledger names exactly the three staged files
    val ledger = ManifestTable.copiedFiles(spark, table)
      .map(_.split("/").last).toSet
    assert(ledger === Set("f1.parquet", "f2.parquet", "f3.parquet"),
      s"ledger wrong: $ledger")
  }

  test("a source file whose name URL-encodes ingests; the re-run skips it") {
    val base = java.nio.file.Files.createTempDirectory("graft_ci6").toString
    val src = s"$base/dump"
    val table = s"$base/t"
    ManifestTable.write(Seq((0L, "seed")).toDF("id", "v"), table)   // v1
    stage(Seq((1L, "a"), (2L, "b")), src, "a b%c+d")
    stage(Seq((3L, "c")), src, "plain")
    val (v2, n1) = ManifestTable.copyInto(spark, table, src)
    assert(v2 === 2L && n1 === 2, s"both files must ingest: $n1")
    assert(ManifestTable.read(spark, table).as[(Long, String)].collect()
      .toSet === Set((0L, "seed"), (1L, "a"), (2L, "b"), (3L, "c")))
    // the ledger names the file as the listing does, so a replay is a no-op
    assert(ManifestTable.copiedFiles(spark, table).map(_.split("/").last)
      .toSet === Set("a b%c+d.parquet", "plain.parquet"))
    assert(ManifestTable.copyInto(spark, table, src) === ((2L, 0)))
  }

  test("ledger survives vacuum via the checkpoint; RESTORE rolls it back with the state") {
    val base = java.nio.file.Files.createTempDirectory("graft_ci2").toString
    val src = s"$base/dump"
    val table = s"$base/t"
    ManifestTable.write(Seq((0L, "seed")).toDF("id", "v"), table)   // v1
    stage(Seq((1L, "a")), src, "f1")
    val (v2, _) = ManifestTable.copyInto(spark, table, src)         // v2
    stage(Seq((2L, "b")), src, "f2")
    ManifestTable.copyInto(spark, table, src)                       // v3
    // vacuum to the head: old manifests drop, the checkpoint carries
    // the ledger — the replay must STILL skip both files
    ManifestTable.vacuum(spark, table, keep = 1)
    val (_, nAfterVacuum) = ManifestTable.copyInto(spark, table, src)
    assert(nAfterVacuum === 0,
      "vacuum must not forget the ledger (checkpoint carries it)")
    // restore to before the second ingest: the ledger rolls back, so
    // re-running the COPY re-ingests f2 and content returns
    val base2 = java.nio.file.Files.createTempDirectory("graft_ci3").toString
    val src2 = s"$base2/dump"
    val t2 = s"$base2/t"
    ManifestTable.write(Seq((0L, "seed")).toDF("id", "v"), t2)      // v1
    stage(Seq((1L, "a")), src2, "f1")
    ManifestTable.copyInto(spark, t2, src2)                         // v2
    stage(Seq((2L, "b")), src2, "f2")
    ManifestTable.copyInto(spark, t2, src2)                         // v3
    ManifestTable.restore(spark, t2, 2L)                            // v4
    val (_, reIngested) = ManifestTable.copyInto(spark, t2, src2)   // v5
    assert(reIngested === 1,
      "restore must roll the ledger back — f2 re-ingests, not data loss")
    assert(ManifestTable.read(spark, t2).as[(Long, String)]
      .collect().toSet === Set((0L, "seed"), (1L, "a"), (2L, "b")))
  }

  test("schema alignment: casts by name, NULL-fill for absent table columns, extra source columns refused") {
    val base = java.nio.file.Files.createTempDirectory("graft_ci4").toString
    val table = s"$base/t"
    ManifestTable.write(
      Seq((0L, "seed", 1.5)).toDF("id", "v", "score"), table)
    // source carries id as INT (widens to the table's BIGINT) and
    // omits `score` (reads NULL through schema-on-read)
    val src = s"$base/dump"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    Seq((7, "x")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$base/staged")
    val part = new java.io.File(s"$base/staged").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(src, "f1.parquet"))
    ManifestTable.copyInto(spark, table, src)
    val got = ManifestTable.read(spark, table)
      .as[(Long, String, Option[Double])].collect().toSet
    assert(got === Set((0L, "seed", Some(1.5)), (7L, "x", None)),
      s"aligned ingest wrong: $got")
    // a source column the table lacks is refused, nothing commits
    val src2 = s"$base/dump2"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src2))
    Seq((8L, "y", "EXTRA")).toDF("id", "v", "bogus").coalesce(1)
      .write.mode("overwrite").parquet(s"$base/staged2")
    val part2 = new java.io.File(s"$base/staged2").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part2.toPath,
      java.nio.file.Paths.get(src2, "g1.parquet"))
    val before = ManifestTable.currentVersion(spark, table)
    intercept[IllegalArgumentException] {
      ManifestTable.copyInto(spark, table, src2)
    }
    assert(ManifestTable.currentVersion(spark, table) === before,
      "refused ingest must leave no commit")
  }

  test("SQL verb: COPY INTO ... FROM ... with PATTERN; CSV fileformat") {
    val base = SparkSession.clearActiveSession()
    val b = java.nio.file.Files.createTempDirectory("graft_ci5").toString
    val table = s"$b/t"
    graft.GraftSession.withSqlExtensions(spark) { s =>
      ManifestTable.write(Seq((0L, "seed")).toDF("id", "v"), table)
      val src = s"$b/dump"
      stage(Seq((1L, "a")), src, "keep_f1")
      stage(Seq((2L, "b")), src, "skip_f2")
      val out = s.sql(s"COPY INTO '$table' FROM '$src' " +
        "PATTERN = 'keep_*.parquet'").collect()
      assert(out.head.getLong(1) === 1L,
        s"PATTERN must restrict the listing: ${out.toSeq}")
      assert(ManifestTable.read(s, table).count() === 2)
      // csv ingest with header + cast
      val csvDir = s"$b/csv"
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(csvDir))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(csvDir, "c1.csv"), "id,v\n9,z\n")
      val out2 = s.sql(s"COPY INTO '$table' FROM '$csvDir' " +
        "FILEFORMAT = CSV").collect()
      assert(out2.head.getLong(1) === 1L)
      assert(ManifestTable.read(s, table)
        .filter(org.apache.spark.sql.functions.col("id") === 9L)
        .count() === 1, "csv row must land with the cast id")
    }
    base: Unit
  }
}
