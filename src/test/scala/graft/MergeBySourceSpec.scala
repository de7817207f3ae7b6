package graft

import graft.pipeline.ManifestTable
import graft.pipeline.ManifestTable.{MergeDelete, MergeInsert, MergeUpdate}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** WHEN NOT MATCHED BY SOURCE coverage (round-14 advice): the common
  * Delta idioms — by-source DELETE/UPDATE driven by a NARROW
  * (keys-only) source frame — through both the builder and SQL, plus
  * the `target.` prefix ownership rule when a declared alias collides
  * with the convenience spelling.
  *
  * The narrow-source cases matter because the all-star fast path
  * selects every table column bare from the source frame; a merge
  * whose matched/insert clauses are delete-only or ABSENT must build
  * images from the `_b_` base columns instead (ManifestTable.mergeMulti),
  * or a keys-only source throws AnalysisException.
  */
class MergeBySourceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

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

  test("builder: BY SOURCE DELETE with a keys-only source and no other clauses (sync-to-source delete)") {
    val path = tmp("graft_bys1")
    ManifestTable.write(
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"), (4L, 40L, "d"))
        .toDF("id", "v", "tagc"), path)
    // the source carries ONLY the key — the exact shape the advice
    // flagged as throwing on the old all-star path
    val keysOnly = Seq(1L, 3L).toDF("id")
    ManifestTable.mergeMulti(keysOnly, path, "id",
      matched = Nil, notMatched = Nil,
      notMatchedBySource = Seq(MergeDelete()))
    val got = ManifestTable.read(spark, path)
      .select("id", "v", "tagc").as[(Long, Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 10L, "a"), (3L, 30L, "c")),
      "target rows absent from the source are deleted; matched rows " +
        "survive untouched (no matched clause claims them)")
  }

  test("builder: conditional BY SOURCE UPDATE then DELETE, first-clause-wins, narrow source") {
    val path = tmp("graft_bys2")
    ManifestTable.write(
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("id", "v"), path)
    val keysOnly = Seq(1L).toDF("id")
    // unmatched-by-source rows: 2,3,4. First clause claims v < 35
    // (2,3 -> v = -1); the unconditional DELETE takes the rest (4).
    ManifestTable.mergeMulti(keysOnly, path, "id",
      matched = Nil, notMatched = Nil,
      notMatchedBySource = Seq(
        MergeUpdate(Some(col("_b_v") < 35), Seq("v" -> lit(-1L))),
        MergeDelete()))
    val got = ManifestTable.read(spark, path)
      .select("id", "v").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 10L), (2L, -1L), (3L, -1L)))
  }

  test("builder: matched DELETE only with a keys-only source (same narrow-source hazard)") {
    val path = tmp("graft_bys3")
    ManifestTable.write(
      Seq((1L, 10L, "x"), (2L, 20L, "y"), (3L, 30L, "z"))
        .toDF("id", "v", "w"), path)
    ManifestTable.mergeMulti(Seq(2L).toDF("id"), path, "id",
      matched = Seq(MergeDelete()), notMatched = Nil)
    val got = ManifestTable.read(spark, path)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got === Seq(1L, 3L))
  }

  test("builder: BY SOURCE UPDATE requires explicit SET; by-source clauses compose with star insert") {
    val path = tmp("graft_bys4")
    ManifestTable.write(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), path)
    val e = intercept[IllegalArgumentException] {
      ManifestTable.mergeMulti(Seq(1L).toDF("id"), path, "id",
        matched = Nil, notMatched = Nil,
        notMatchedBySource = Seq(MergeUpdate()))
    }
    assert(e.getMessage.contains("explicit SET"))
    // full-width source: star insert + by-source delete in one pass
    val src = Seq((1L, 11L), (9L, 90L)).toDF("id", "v")
    ManifestTable.mergeMulti(src, path, "id",
      matched = Seq(MergeUpdate()), notMatched = Seq(MergeInsert()),
      notMatchedBySource = Seq(MergeDelete()))
    val got = ManifestTable.read(spark, path)
      .select("id", "v").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 11L), (9L, 90L)),
      "update matched, insert new, delete gone-from-source — the full sync")
  }

  test("SQL: WHEN NOT MATCHED BY SOURCE THEN DELETE with a keys-only source view") {
    val path = tmp("graft_bys5")
    ManifestTable.write(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"), path)
    withSql { s =>
      s.createDataFrame(Seq(Tuple1(2L))).toDF("id")
        .createOrReplaceTempView("bys_keys_src")
      s.sql(
        s"""MERGE INTO '$path' USING bys_keys_src ON id
            WHEN NOT MATCHED BY SOURCE THEN DELETE""")
      val got = ManifestTable.read(s, path)
        .select("id").as[Long].collect().sorted.toSeq
      assert(got === Seq(2L))
    }
  }

  test("SQL: conditional BY SOURCE UPDATE with target.col condition and SET") {
    val path = tmp("graft_bys6")
    ManifestTable.write(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"), path)
    withSql { s =>
      s.createDataFrame(Seq(Tuple1(1L))).toDF("id")
        .createOrReplaceTempView("bys_upd_src")
      s.sql(
        s"""MERGE INTO '$path' AS t USING bys_upd_src AS u ON t.id = u.id
            WHEN NOT MATCHED BY SOURCE AND t.v < 25 THEN UPDATE SET v = t.v + 100
            WHEN NOT MATCHED BY SOURCE THEN DELETE""")
      val got = ManifestTable.read(s, path)
        .select("id", "v").as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(got === Seq((1L, 10L), (2L, 120L)),
        "id=2 claimed by the conditional update, id=3 by the delete, " +
          "id=1 matched and untouched")
    }
  }

  test("SQL: a source ALIASED `target` owns the target. prefix (r14 advice: no silent _b_ rewrite)") {
    val path = tmp("graft_bys7")
    ManifestTable.write(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), path)
    withSql { s =>
      s.createDataFrame(Seq((1L, 777L))).toDF("id", "v")
        .createOrReplaceTempView("alias_src")
      // with the old unconditional rewrite, `target.v` below became
      // `_b_v` (the table's own value) and the update silently no-op'd
      s.sql(
        s"""MERGE INTO '$path' AS t USING alias_src AS target ON t.id = target.id
            WHEN MATCHED THEN UPDATE SET v = target.v""")
      val got = ManifestTable.read(s, path)
        .select("id", "v").as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(got === Seq((1L, 777L), (2L, 20L)),
        "target.v resolves against the SOURCE that declared the alias")
    }
  }

  test("a by-source clause CLAIMING a NULL-key row fails loudly under both strategies; unclaimed NULL keys carry (r14 review)") {
    val root = java.nio.file.Files.createTempDirectory("graft_bys_nk").toString
    def write(path: String): Unit = ManifestTable.write(
      Seq((Some(1L), 10L), (None, 20L), (Some(3L), 30L))
        .toDF("id", "v"), path)
    Seq("0" -> s"$root/f", "1000000" -> s"$root/b").foreach {
      case (gate, path) =>
        write(path)
        spark.conf.set("spark.graft.bySourceBroadcastRows", gate)
        try {
          // the unconditional delete claims the NULL-key row: the keyed
          // carry cannot address it, so the merge must REFUSE, not
          // silently duplicate-or-survive
          val e = intercept[Exception] {
            ManifestTable.mergeMulti(Seq(1L).toDF("id"), path, "id",
              matched = Nil, notMatched = Nil,
              notMatchedBySource = Seq(MergeDelete()))
          }
          assert(e.getMessage != null &&
            (e.getMessage.contains("NULL merge key") ||
              Option(e.getCause).exists(
                _.getMessage.contains("NULL merge key"))),
            s"gate=$gate: ${e.getMessage}")
          // an UNCLAIMED null-key row carries untouched: the clause
          // condition excludes it, so the same table merges fine
          val v = ManifestTable.mergeMulti(Seq(1L).toDF("id"), path, "id",
            matched = Nil, notMatched = Nil,
            notMatchedBySource =
              Seq(MergeDelete(Some(col("_b_v") === 30L))))
          assert(v > 0)
          val got = ManifestTable.read(spark, path)
            .select("id", "v").as[(Option[Long], Long)]
            .collect().sortBy(_._2).toSeq
          assert(got === Seq((Some(1L), 10L), (None, 20L)),
            s"gate=$gate: claimed row deleted, null-key row carried")
        } finally spark.conf.unset("spark.graft.bySourceBroadcastRows")
    }
  }

  test("by-source merge on a PARTITIONED layout: partition values survive both strategies") {
    val root = java.nio.file.Files.createTempDirectory("graft_bys10").toString
    def runWith(path: String, gate: String): Unit = {
      ManifestTable.write(
        (1L to 60L).map(i => (i, i * 2, s"p${i % 3}")).toDF("id", "v", "part"),
        path, partitionCols = Seq("part"))
      spark.conf.set("spark.graft.bySourceBroadcastRows", gate)
      try ManifestTable.mergeMulti(
        (1L to 60L by 4).map(Tuple1(_)).toDF("id"), path, "id",
        matched = Nil, notMatched = Nil,
        notMatchedBySource = Seq(
          MergeUpdate(Some(col("_b_part") === "p1"), Seq("v" -> lit(-7L))),
          MergeDelete())): Unit
      finally spark.conf.unset("spark.graft.bySourceBroadcastRows")
    }
    runWith(s"$root/f", "0"); runWith(s"$root/b", "1000000")
    val expect = (1L to 60L).flatMap { i =>
      val matched = (i - 1) % 4 == 0
      val p = s"p${i % 3}"
      if (matched) Some((i, i * 2, p))               // untouched (no matched clause)
      else if (p == "p1") Some((i, -7L, p))          // by-source update
      else None                                      // by-source delete
    }.sortBy(_._1)
    Seq(s"$root/f", s"$root/b").foreach { p =>
      val got = ManifestTable.read(spark, p)
        .select("id", "v", "part").as[(Long, Long, String)]
        .collect().sortBy(_._1).toSeq
      assert(got === expect, s"at $p")
    }
  }

  test("strategy parity: fused full-outer (gate 0) ≡ broadcast anti (default gate) on twin tables") {
    val root = java.nio.file.Files.createTempDirectory("graft_bys9").toString
    val rows = (1L to 400L).map(i => (i, i * 10, s"s${i % 7}"))
    val src = Seq((2L, 0L), (5L, 0L), (399L, 0L)).toDF("id", "v")
      .select(col("id"), col("v"))
    def runWith(path: String, gate: String): Unit = {
      ManifestTable.write(rows.toDF("id", "v", "w"), path)
      spark.conf.set("spark.graft.bySourceBroadcastRows", gate)
      try ManifestTable.mergeMulti(src.select("id"), path, "id",
        matched = Nil, notMatched = Nil,
        notMatchedBySource = Seq(
          MergeUpdate(Some(col("_b_v") < 500), Seq("w" -> lit("LOW"))),
          MergeDelete(Some(col("_b_v") > 3000)))): Unit
      finally spark.conf.unset("spark.graft.bySourceBroadcastRows")
    }
    runWith(s"$root/fused", "0")        // everything over the gate -> fused
    runWith(s"$root/bcast", "1000000")  // under the gate -> broadcast anti
    val a = ManifestTable.read(spark, s"$root/fused")
      .select("id", "v", "w").as[(Long, Long, String)]
      .collect().sortBy(_._1).toSeq
    val c = ManifestTable.read(spark, s"$root/bcast")
      .select("id", "v", "w").as[(Long, Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(a === c, "both strategies are the same operator")
    val srcKeys = Set(2L, 5L, 399L)
    assert(a.exists(_._3 == "LOW") &&
        !a.exists(t => t._2 > 3000 && !srcKeys(t._1)),
      "updates applied; deletes applied to UNMATCHED rows only " +
        "(matched rows are exempt from by-source clauses)")
    assert(a.count(_._3 == "LOW") === a.count(t =>
      t._2 < 500 && !Set(2L, 5L, 399L).contains(t._1)))
  }

  test("SQL: with no declared aliases, target. still reads as the merge target") {
    val path = tmp("graft_bys8")
    ManifestTable.write(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), path)
    withSql { s =>
      s.createDataFrame(Seq((1L, 5L), (2L, 50L))).toDF("id", "v")
        .createOrReplaceTempView("conv_src")
      s.sql(
        s"""MERGE INTO '$path' USING conv_src ON id
            WHEN MATCHED AND v > target.v THEN UPDATE SET *""")
      val got = ManifestTable.read(s, path)
        .select("id", "v").as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(got === Seq((1L, 10L), (2L, 50L)),
        "convenience spelling keeps working while nothing claims it")
    }
  }

  test("by-source clauses referencing SOURCE columns refuse loudly under BOTH strategies (r15 advice)") {
    val root = java.nio.file.Files.createTempDirectory("graft_bys9").toString
    val path = s"$root/t"
    ManifestTable.write(
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), path)
    val src = Seq((1L, 99L)).toDF("id", "srcv")
    // pre-r15 the SAME merge threw AnalysisException under the
    // broadcast gate but silently NULL-evaluated past it; now both
    // regimes refuse identically, before anything commits
    Seq("0", "1000000").foreach { gate =>
      spark.conf.set("spark.graft.bySourceBroadcastRows", gate)
      try {
        val e1 = intercept[IllegalArgumentException] {
          ManifestTable.mergeMulti(src, path, "id",
            matched = Nil, notMatched = Nil,
            notMatchedBySource = Seq(
              MergeDelete(Some(col("srcv") > 0)))) // bare SOURCE column
        }
        assert(e1.getMessage.contains("TARGET columns"), e1.getMessage)
        val e2 = intercept[IllegalArgumentException] {
          ManifestTable.mergeMulti(src, path, "id",
            matched = Nil, notMatched = Nil,
            notMatchedBySource = Seq(
              MergeUpdate(Some(col("_b_v") > 0),
                Seq("v" -> (col("srcv") + 1))))) // SET reads source
        }
        assert(e2.getMessage.contains("TARGET columns"), e2.getMessage)
      } finally spark.conf.unset("spark.graft.bySourceBroadcastRows")
    }
    // nothing committed by the refused merges
    val got = ManifestTable.read(spark, path)
      .select("id", "v").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 10L), (2L, 20L)))
  }

  test("a non-empty merge whose SET targets an unknown column is refused before any Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val path = tmp("graft_bys_nojob")
    ManifestTable.write(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), path)
    val src = Seq((1L, 99L), (3L, 30L)).toDF("id", "v")
    val sc = spark.sparkContext
    val group = "graft-merge-refusal"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`)  => jobs.incrementAndGet(): Unit
          case Some("marker") => markerSeen.countDown()
          case _              => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "refused merge")
      val e = try intercept[IllegalArgumentException] {
        ManifestTable.mergeMulti(src, path, "id",
          matched = Seq(MergeUpdate(None, Seq("nope" -> col("v")))),
          notMatched = Seq(MergeInsert()))
      } finally sc.clearJobGroup()
      assert(e.getMessage.contains("unknown column 'nope'"), e.getMessage)
      // the listener bus delivers in order: once a later marker job is
      // seen, every job the merge started has been counted
      sc.setJobGroup("marker", "listener drain")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get === 0, "the refusal must not run source jobs")
    } finally sc.removeSparkListener(listener)
    assert(ManifestTable.versions(spark, path) === Seq(1L))
  }
}
