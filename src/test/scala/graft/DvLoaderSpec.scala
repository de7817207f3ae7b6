package graft

import graft.pipeline.ManifestTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Driver-resolved deletion vectors: every read path loads sidecars
  * through one loader (explicit schema, driver LRU keyed by path and
  * mtime/len, local relation under the row budget, the distributed
  * broadcast read past it). Each case reads back exactly the rows the
  * Spark-side anti-join read before it.
  */
class DvLoaderSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  /** True when the frame's plan reads a deletion-vector sidecar through
    * Spark (the distributed path) rather than as a local relation. */
  private def readsSidecar(df: DataFrame): Boolean =
    df.inputFiles.exists(_.contains("/dv-"))

  private def copyDir(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(from)
    try walk.forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    } finally walk.close()
  }

  private def fixture(name: String): String = {
    val src = java.nio.file.Paths.get(
      getClass.getResource(s"/dv_parent_tables/$name").toURI)
    val dst = java.nio.file.Paths.get(tmp("graft_dvfix"))
    copyDir(src, dst)
    dst.toString
  }

  test("sidecars written before the loader (single key, MoR update, merge, composite key) read the same rows") {
    // tables committed by the Spark-side anti-join code: v2 deleteWhereDV
    // of ids 3 and 25, v3 updateWhereDV of id 7, v4 a merge delete of id
    // 30 as a vector
    val keyed = fixture("keyed")
    val all = (1L to 40L).map(i => (i, s"v$i"))
    def rows(v: Long) =
      ManifestTable.readVersion(spark, keyed, v).as[(Long, String)].collect().toSet
    assert(rows(1L) === all.toSet)
    assert(rows(2L) === all.filterNot(r => Set(3L, 25L)(r._1)).toSet)
    val v4 = all.filterNot(r => Set(3L, 25L, 30L)(r._1))
      .map { case (i, s) => (i, if (i == 7L) "u" else s) }.toSet
    assert(rows(4L) === v4)
    val cur = ManifestTable.read(spark, keyed)
    assert(!readsSidecar(cur), "sidecars this small resolve on the driver")
    assert(ManifestTable.readWhereEquals(spark, keyed, "id", 25L).count() === 0L)
    assert(ManifestTable.readWhereEquals(spark, keyed, "id", 7L)
      .as[(Long, String)].collect().toSeq === Seq((7L, "u")))
    // the change feed of a vector commit reads exactly the killed rows
    assert(ManifestTable.changesForVersion(spark, keyed, 2L)
      .select("id", "_change").as[(Long, String)].collect().toSet ===
      Set((3L, "delete"), (25L, "delete")))
    // a new vector on top of the old ones
    ManifestTable.deleteWhereDV(spark, keyed, col("id") === 40L, "id")
    assert(ManifestTable.read(spark, keyed).as[(Long, String)].collect().toSet ===
      v4.filterNot(_._1 == 40L))

    val comp = fixture("composite")
    val base = (1 to 12).map(i => (i % 4, s"b${i / 4}", i.toLong))
    val gone = Set((1, "b0"), (2, "b2"))
    assert(ManifestTable.read(spark, comp).as[(Int, String, Long)].collect().toSet ===
      base.filterNot(r => gone((r._1, r._2))).toSet)
  }

  test("a convertInPlace data file whose name needs URL encoding (space, %, +) takes and honours vectors") {
    val path = tmp("graft_dvsp")
    val src = path + "_src"
    (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1).write.parquet(src)
    new java.io.File(path).mkdirs()
    val part = new java.io.File(src).listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath, new java.io.File(path, "a b%c+d.parquet").toPath)
    // the ref must name the file as Spark parses a path (an encoded URI
    // string names a missing file: every read used to fail)
    ManifestTable.convertInPlace(spark, path)
    assert(ManifestTable.read(spark, path).count() === 20L)
    ManifestTable.deleteWhereDV(spark, path, col("id").isin(3L, 4L), "id")
    ManifestTable.updateWhereDV(spark, path, Seq("v" -> lit("u")), col("id") === 5L, "id")
    val got = ManifestTable.read(spark, path).as[(Long, String)].collect().toSet
    assert(got === (1L to 20L).filterNot(Set(3L, 4L)).map(i =>
      (i, if (i == 5L) "u" else s"v$i")).toSet)
    assert(ManifestTable.readWhereEquals(spark, path, "id", 4L).count() === 0L)
    assert(ManifestTable.changesForVersion(spark, path, 2L)
      .select("id").as[Long].collect().toSet === Set(3L, 4L))
  }

  test("composite-key vectors resolve on the driver: reads, lookups and time travel") {
    val path = tmp("graft_dvck")
    val base = (0 until 60).map(i => (i % 6, s"k${i / 6}", i.toLong))
    ManifestTable.write(base.toDF("a", "b", "v").repartition(3, $"a"), path)
    ManifestTable.mergeKeyed(Seq((1, "k0", 0L, true), (4, "k7", 0L, true))
      .toDF("a", "b", "v", "del"), path, Seq("a", "b"),
      deleteCol = Some("del"), deleteVectors = true)
    ManifestTable.mergeKeyed(Seq((5, "k9", 0L, true)).toDF("a", "b", "v", "del"),
      path, Seq("a", "b"), deleteCol = Some("del"), deleteVectors = true)
    val st = ManifestTable.resolveState(spark, path, 3L)
    assert(st.dvFiles.size === 2 && st.dvKey === Some("a,b"))
    val gone = Set((1, "k0"), (4, "k7"), (5, "k9"))
    val cur = ManifestTable.read(spark, path)
    assert(!readsSidecar(cur))
    assert(cur.as[(Int, String, Long)].collect().toSet ===
      base.filterNot(r => gone((r._1, r._2))).toSet)
    assert(ManifestTable.readVersion(spark, path, 2L).count() === 58L)
    assert(ManifestTable.readWhereEquals(spark, path, "a", 4).count() === 9L)
  }

  test("a column-mapped table whose DV key was renamed keeps honouring its vectors") {
    val path = tmp("graft_dvcm")
    ManifestTable.write((1L to 30L).map(i => (i, i * 10)).toDF("id", "v")
      .repartition(2), path)
    ManifestTable.deleteWhereDV(spark, path, col("id").isin(2L, 5L), "id")
    ManifestTable.renameColumn(spark, path, "id", "key")
    def keys = ManifestTable.read(spark, path).select("key").as[Long].collect().toSet
    assert(keys === (1L to 30L).toSet -- Set(2L, 5L))
    ManifestTable.deleteWhereDV(spark, path, col("key") === 9L, "key")
    assert(keys === (1L to 30L).toSet -- Set(2L, 5L, 9L))
    assert(ManifestTable.readWhereEquals(spark, path, "key", 5L).count() === 0L)
    assert(ManifestTable.readWhereEquals(spark, path, "key", 6L)
      .select("v").as[Long].collect().toSeq === Seq(60L))
  }

  test("a partitioned table spanning several snapshot roots unions its scans before the DV join") {
    val path = tmp("graft_dvpt")
    val df = spark.range(0, 90).toDF("id")
      .withColumn("part", (col("id") % 3).cast("int"))
      .withColumn("v", col("id"))
    ManifestTable.write(df.repartition(2), path, partitionCols = Seq("part"))
    // MoR update: new images land in a second partitioned snapshot root
    ManifestTable.updateWhereDV(spark, path, Seq("v" -> (col("v") + 1000L)),
      col("id") % 10 === 1, key = "id")
    // a vector over rows of both roots
    ManifestTable.deleteWhereDV(spark, path, col("id").isin(11L, 12L, 13L), "id")
    val roots = ManifestTable.manifestFiles(spark, path, 3L).map(_.split("/").head).toSet
    assert(roots.size === 2, s"expected two snapshot roots: $roots")
    val got = ManifestTable.read(spark, path).select("id", "v").as[(Long, Long)]
      .collect().toMap
    val want = (0L until 90L).filterNot(Set(11L, 12L, 13L))
      .map(i => i -> (if (i % 10 == 1) i + 1000L else i)).toMap
    assert(got === want)
    assert(ManifestTable.read(spark, path).filter(col("part") === 2)
      .count() === want.keys.count(_ % 3 == 2).toLong)
  }

  test("a table deleted and re-created at the same path never serves cached vectors") {
    val path = tmp("graft_dvre")
    val saved = java.nio.file.Paths.get(path + "_saved")
    def make(killed: Seq[Long]): Unit = {
      ManifestTable.write((1L to 20L).toDF("id").coalesce(1), path)
      ManifestTable.deleteWhereDV(spark, path, col("id").isin(killed: _*), "id")
    }
    def ids = ManifestTable.read(spark, path).as[Long].collect().toSet
    make(Seq(1L))
    assert(ids === (2L to 20L).toSet) // the vector is now cached
    copyDir(java.nio.file.Paths.get(path), saved)
    val sidecar = ManifestTable.resolveState(spark, path, 2L).dvFiles.head
    // re-create: same table, its sidecar file replaced IN PLACE by one
    // killing other keys (same path, different bytes)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    make(Seq(2L, 3L, 4L))
    val other = s"$path/${ManifestTable.resolveState(spark, path, 2L).dvFiles.head}"
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(other))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    copyDir(saved, java.nio.file.Paths.get(path))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/$sidecar"), bytes)
    new java.io.File(path, sidecar.replace("part-", ".part-") + ".crc").delete()
    // the rewritten sidecar names the old table's file under a different
    // name, so it kills nothing there — but never the cached key 1
    assert(ids === (1L to 20L).toSet)
    // and a genuinely new table at the path reads its own vectors
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    make(Seq(5L))
    assert(ids === (1L to 20L).toSet - 5L)
  }

  test("a sidecar past the row budget takes the distributed broadcast read") {
    val path = tmp("graft_dvbig")
    val n = 300000L
    ManifestTable.write(spark.range(0, n).toDF("id").repartition(4), path)
    val killed = 140000L // past the 131072-row budget, under the sparse limit
    ManifestTable.deleteWhereDV(spark, path, col("id") < killed, "id")
    val st = ManifestTable.resolveState(spark, path, 2L)
    assert(st.dvFiles.size === 1)
    val cur = ManifestTable.read(spark, path)
    assert(readsSidecar(cur), "an over-budget sidecar is read by Spark")
    assert(cur.count() === n - killed)
    assert(ManifestTable.readWhereEquals(spark, path, "id", 5L).count() === 0L)
    assert(ManifestTable.readWhereEquals(spark, path, "id", killed).count() === 1L)
    // a small vector on top still joins the big one's distributed read
    ManifestTable.deleteWhereDV(spark, path, col("id") === killed + 1, "id")
    assert(ManifestTable.read(spark, path).count() === n - killed - 1)
  }

  test("a point lookup whose key no vector names plans no DV join") {
    val path = tmp("graft_dvpl")
    ManifestTable.write(spark.range(0, 400).toDF("id").withColumn("v", col("id") * 2)
      .repartitionByRange(4, col("id")).sortWithinPartitions("id"), path,
      statsCols = Seq("id"))
    ManifestTable.deleteWhereDV(spark, path, col("id").isin(5L, 300L), "id")
    def plan(k: Long) = ManifestTable.readWhereEquals(spark, path, "id", k)
      .queryExecution.optimizedPlan.toString
    assert(!plan(7L).contains("Join"), plan(7L))
    assert(plan(5L).contains("LeftAnti"), plan(5L))
    assert(ManifestTable.readWhereEquals(spark, path, "id", 5L).count() === 0L)
    assert(ManifestTable.readWhereEquals(spark, path, "id", 7L)
      .select("v").as[Long].collect().toSeq === Seq(14L))
  }
}
