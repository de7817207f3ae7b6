package graft

import graft.pipeline.ManifestTable
import org.apache.spark.sql.functions._

/** Round-12 IDENTITY columns (Delta's `GENERATED BY DEFAULT AS
  * IDENTITY`): engine-assigned unique step-spaced values for omitted
  * columns, high water in the log, supplied values accepted and
  * advancing it.
  */
class IdentitySpec extends SparkSpec {
  import spark.implicits._

  test("declare-before-first-write: omitted column gets unique increasing values across commits") {
    val path = java.nio.file.Files.createTempDirectory("graft_id1").toString + "/t"
    ManifestTable.setIdentityColumn(spark, path, "order_sk",
      startWith = 100L, step = 10L)
    ManifestTable.write(
      spark.range(0, 50).toDF("payload").repartition(4), path)   // v2
    val v2 = ManifestTable.read(spark, path)
      .select("order_sk").as[Long].collect()
    assert(v2.length === 50 && v2.distinct.length === 50,
      "assigned identities must be unique")
    assert(v2.forall(v => v >= 100L && (v - 100L) % 10L == 0L),
      s"values start at startWith and respect the step: ${v2.min}")
    val hw2 = ManifestTable.identityInfo(spark, path).get._3
    assert(hw2 === v2.max, "high water = max assigned")
    // an append draws ABOVE the previous commit's values
    ManifestTable.append(spark.range(50, 80).toDF("payload"), path) // v3
    val v3 = ManifestTable.read(spark, path)
      .select("order_sk").as[Long].collect()
    assert(v3.length === 80 && v3.distinct.length === 80,
      "identities stay unique across commits")
    assert(ManifestTable.identityInfo(spark, path).get ===
      (("order_sk", 10L, v3.max)))
  }

  test("BY DEFAULT: supplied values are kept and advance the high water; merge carries identities") {
    val path = java.nio.file.Files.createTempDirectory("graft_id2").toString + "/t"
    ManifestTable.setIdentityColumn(spark, path, "sk")
    ManifestTable.write(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v")
        .withColumn("sk", col("k") * 1000), path)                 // supplied
    assert(ManifestTable.identityInfo(spark, path).get._3 === 2000L,
      "supplied values must advance the high water")
    ManifestTable.append(Seq((3L, "c")).toDF("k", "v"), path)     // assigned
    val got = ManifestTable.read(spark, path)
      .select("k", "sk").as[(Long, Long)].collect().toMap
    assert(got(1L) === 1000L && got(2L) === 2000L)
    assert(got(3L) > 2000L, s"assigned value must clear the supplied max: $got")
    // a CoW merge carries identities verbatim (column present in the
    // schema-contract source)
    val upd = ManifestTable.read(spark, path).filter(col("k") === 1)
      .withColumn("v", lit("A!"))
    ManifestTable.merge(upd, path, "k")
    val after = ManifestTable.read(spark, path)
      .select("k", "sk").as[(Long, Long)].collect().toMap
    assert(after === got, "merge must not reassign identities")
    // compaction carries too
    ManifestTable.compact(spark, path, targetFiles = 1)
    assert(ManifestTable.read(spark, path)
      .select("k", "sk").as[(Long, Long)].collect().toMap === got)
  }

  test("MERGE and replaceWhere SUPPLIED identities advance the high water (r13)") {
    val path = java.nio.file.Files.createTempDirectory("graft_id5").toString + "/t"
    ManifestTable.setIdentityColumn(spark, path, "sk")
    ManifestTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    val hw0 = ManifestTable.identityInfo(spark, path).get._3
    // merge inserts a row with an EXPLICIT sk far above the water
    val upd = Seq((9L, "ins", hw0 + 100L)).toDF("k", "v", "sk")
    ManifestTable.merge(upd, path, "k")
    val hw1 = ManifestTable.identityInfo(spark, path).get._3
    assert(hw1 >= hw0 + 100L,
      s"merge-supplied identity must advance the water: $hw0 -> $hw1")
    ManifestTable.append(Seq((3L, "c")).toDF("k", "v"), path)
    // replaceWhere slice carries an explicit sk higher still
    ManifestTable.overwriteWhere(
      Seq((1L, "A", hw1 + 500L)).toDF("k", "v", "sk"),
      path, col("k") === 1L)
    val hw2 = ManifestTable.identityInfo(spark, path).get._3
    assert(hw2 >= hw1 + 500L,
      s"replaceWhere-supplied identity must advance the water: $hw1 -> $hw2")
    ManifestTable.append(Seq((4L, "d")).toDF("k", "v"), path)
    val sks = ManifestTable.read(spark, path).select("sk").as[Long].collect()
    assert(sks.distinct.length === sks.length,
      s"identities must stay unique after merge/replaceWhere supply: ${sks.sorted.toSeq}")
    assert(sks.max > hw1 + 500L, "post-replaceWhere insert draws above the supplied max")
  }

  test("an UPDATE that SETs an identity value advances the high water, copy-on-write and merge-on-read") {
    val verbs = Seq[(String, (String, Long) => Long)](
      ("updateWhere", (p, hw) => ManifestTable.updateWhere(spark, p,
        Seq("id" -> lit(hw + 1)), col("k") === 1)),
      ("updateWhereDV", (p, hw) => ManifestTable.updateWhereDV(spark, p,
        Seq("id" -> lit(hw + 1)), col("k") === 1, key = "k")))
    for ((verb, update) <- verbs) {
      val path = java.nio.file.Files.createTempDirectory(
        s"graft_id_$verb").toString + "/t"
      ManifestTable.setIdentityColumn(spark, path, "id")
      ManifestTable.write(spark.range(0, 10).toDF("k").coalesce(1), path)
      val hw = ManifestTable.identityInfo(spark, path).get._3
      update(path, hw)
      // the next engine-assigned id must clear the value the UPDATE set
      ManifestTable.append(Seq(10L).toDF("k").coalesce(1), path)
      val ids = ManifestTable.read(spark, path).select("id").as[Long].collect()
      assert(ids.length === 11 && ids.distinct.length === 11,
        s"$verb: identities must stay unique: ${ids.sorted.toSeq}")
    }
  }

  test("declare on existing data seeds the high water; NULLs and double declarations refused; restore never rolls back") {
    val path = java.nio.file.Files.createTempDirectory("graft_id3").toString + "/t"
    ManifestTable.write(
      Seq((1L, 5L), (2L, 9L)).toDF("k", "sk"), path)              // v1
    ManifestTable.setIdentityColumn(spark, path, "sk")            // v2
    assert(ManifestTable.identityInfo(spark, path).get === (("sk", 1L, 9L)))
    intercept[IllegalArgumentException] {
      ManifestTable.setIdentityColumn(spark, path, "k")
    }
    ManifestTable.append(Seq(3L).toDF("k"), path)                 // v3
    val sk3 = ManifestTable.read(spark, path).filter(col("k") === 3)
      .select("sk").as[Long].head()
    assert(sk3 > 9L)
    // restore to v2: data rolls back, high water does NOT — the next
    // insert cannot collide with the rolled-off value
    ManifestTable.restore(spark, path, 2L)                        // v4
    assert(ManifestTable.read(spark, path).count() === 2)
    assert(ManifestTable.identityInfo(spark, path).get._3 >= sk3,
      "restore must never roll the identity high water back")
    ManifestTable.append(Seq(4L).toDF("k"), path)
    val allSk = ManifestTable.read(spark, path)
      .select("sk").as[Long].collect()
    assert(allSk.distinct.length === allSk.length)
    assert(allSk.max > sk3, "post-restore insert draws above the old max")
    // NULLs in the declared column are refused
    val p2 = java.nio.file.Files.createTempDirectory("graft_id3b").toString + "/t"
    ManifestTable.write(
      Seq((1L, Some(5L)), (2L, None)).toDF("k", "sk"), p2)
    intercept[IllegalArgumentException] {
      ManifestTable.setIdentityColumn(spark, p2, "sk")
    }
  }

  test("clone carries the identity declaration; SQL verb declares it") {
    val root = java.nio.file.Files.createTempDirectory("graft_id4").toString
    val path = s"$root/t"
    ManifestTable.setIdentityColumn(spark, path, "sk", startWith = 7L)
    ManifestTable.write(spark.range(0, 5).toDF("payload"), path)
    val dst = s"$root/clone"
    ManifestTable.cloneShallow(spark, path, dst)
    val (c, step, hw) = ManifestTable.identityInfo(spark, dst).get
    assert(c === "sk" && step === 1L)
    ManifestTable.append(spark.range(5, 8).toDF("payload"), dst)
    val sks = ManifestTable.read(spark, dst).select("sk").as[Long].collect()
    assert(sks.distinct.length === 8 && sks.min >= 7L,
      s"clone must keep assigning above the carried water ($hw): ${sks.sorted.toSeq}")
    // SQL spelling
    val base = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val s = try org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
    org.apache.spark.sql.SparkSession.setActiveSession(s)
    try {
      val p3 = s"$root/sqlid"
      s.sql(s"ALTER TABLE '$p3' ADD IDENTITY COLUMN uid START WITH 500 STEP 5")
      ManifestTable.write(s.range(0, 4).toDF("payload"), p3)
      val uids = ManifestTable.read(s, p3).select("uid").as[Long].collect()
      assert(uids.distinct.length === 4 &&
        uids.forall(u => u >= 500L && (u - 500L) % 5L == 0L), uids.toSeq)
    } finally org.apache.spark.sql.SparkSession.setActiveSession(base)
  }
}
