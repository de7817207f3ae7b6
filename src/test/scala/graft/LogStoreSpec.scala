package graft

import graft.pipeline.{LogStore, ManifestTable}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

/** Round-11 commit-publish abstraction: every store implementation must
  * deliver the same two guarantees (mutual exclusion, no partial
  * visibility) through its own primitive — POSIX link, HDFS-style
  * rename, object-store staged PUT.
  */
class LogStoreSpec extends SparkSpec {
  import spark.implicits._

  private def hadoopFs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Reports the first `k` publishes as lost races (as if a rival had
    * won each), then publishes through the hard-link store — a
    * deterministic stand-in for thread races. */
  private final class LosingStore(k: Int) extends LogStore {
    val publishes = new java.util.concurrent.atomic.AtomicInteger
    override val name = s"losing-$k"
    override def putIfAbsent(f: FileSystem, tmp: Path, dst: Path): Boolean =
      publishes.incrementAndGet() > k &&
        LogStore.HardLink.putIfAbsent(f, tmp, dst)
  }

  /** Before the first publish it sees, commits `rival` through the
    * hard-link store (another writer winning the race for that
    * version), then publishes through the hard-link store — a
    * deterministic lost race whose winner adds data. */
  private final class RivalStore(rival: () => Unit) extends LogStore {
    private var fired = false
    override val name = "rival"
    override def putIfAbsent(f: FileSystem, tmp: Path, dst: Path): Boolean = {
      if (!fired) {
        fired = true
        ManifestTable.withLogStore(LogStore.HardLink)(rival())
      }
      LogStore.HardLink.putIfAbsent(f, tmp, dst)
    }
  }

  test("each store: first putIfAbsent wins, second loses, destination bytes complete, staging cleaned") {
    for (store <- Seq(LogStore.HardLink, LogStore.Rename,
        LogStore.ObjectStore)) {
      val dir = java.nio.file.Files.createTempDirectory(
        s"graft_ls_${store.name}").toString
      val f = hadoopFs(dir)
      def stage(name: String, content: String): Path = {
        val p = new Path(dir, name)
        val out = f.create(p, true)
        try out.write(content.getBytes("UTF-8")) finally out.close()
        p
      }
      val dst = new Path(dir, "manifest-v1.json")
      val t1 = stage("t1.tmp", "winner")
      val t2 = stage("t2.tmp", "loser")
      assert(store.putIfAbsent(f, t1, dst), s"${store.name}: first must win")
      assert(!store.putIfAbsent(f, t2, dst), s"${store.name}: second must lose")
      val got = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dst.toUri.getPath)), "UTF-8")
      assert(got === "winner", s"${store.name}: dst bytes")
      // the winner's staged tmp is consumed; the loser's survives for
      // the caller's OCC cleanup
      assert(!f.exists(t1), s"${store.name}: winner tmp must be consumed")
      assert(f.exists(t2), s"${store.name}: loser tmp is caller-owned")
      // no staging debris (ObjectStore's upload objects must not leak)
      val leftovers = new java.io.File(dir).listFiles()
        .map(_.getName).filter(_.contains("staging"))
      assert(leftovers.isEmpty, s"${store.name}: staging leak $leftovers")
    }
  }

  // Rename is deliberately absent from the RACE suite: its atomicity
  // contract is the HDFS namenode's (rename-onto-existing returns
  // false); POSIX rename overwrites, so racing it on a local fs tests
  // the wrong store. That asymmetry is the entire reason forScheme
  // binds file:// to HardLink — and this comment is the regression
  // proof (swapping Rename in here fails within a handful of runs).
  test("OCC race suite passes against the object-store and hard-link protocols: contiguous versions, serial-equivalent state") {
    for (store <- Seq(LogStore.ObjectStore, LogStore.HardLink)) {
      ManifestTable.withLogStore(store) {
        val path = java.nio.file.Files.createTempDirectory(
          s"graft_ls_occ_${store.name}").toString + "/t"
        ManifestTable.write(Seq((0L, 0L)).toDF("id", "v"), path)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
        val failures =
          new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val tasks: Seq[Runnable] = (0 until 6).map { t =>
          new Runnable {
            def run(): Unit = try {
              (0 until 3).foreach { i =>
                ManifestTable.append(
                  Seq((100L + t * 10 + i, 1L)).toDF("id", "v"), path,
                  maxAttempts = 64)
              }
            } catch { case e: Throwable => failures.add(e); () }
          }
        }
        tasks.foreach(pool.submit)
        pool.shutdown()
        assert(pool.awaitTermination(300,
          java.util.concurrent.TimeUnit.SECONDS))
        assert(failures.isEmpty,
          s"${store.name}: writer failed: ${Option(failures.peek())}")
        val vs = ManifestTable.versions(spark, path)
        assert(vs === (1L to 19L).toSeq,
          s"${store.name}: expected 19 contiguous versions, got $vs")
        assert(ManifestTable.read(spark, path).count() === 19)
        // no half-published manifest anywhere: every version resolves
        vs.foreach(v =>
          assert(ManifestTable.readVersion(spark, path, v).count() === v))
      }
    }
  }

  test("commit seam, deterministic retries: k lost publishes below maxAttempts land once at prev+1; at maxAttempts the verb gives up and leaves no staging") {
    val verbs = Seq[(String, String => Long)](
      "addCheckConstraint" -> (p =>
        ManifestTable.addCheckConstraint(spark, p, "id_ok", "id >= 0")),
      "append" -> (p =>
        ManifestTable.append(Seq((10L, "x")).toDF("id", "v"), p)),
      "merge" -> (p => ManifestTable.merge(
        Seq((1L, "y"), (11L, "z")).toDF("id", "v"), p, "id")),
      "deleteWhereDV" -> (p =>
        ManifestTable.deleteWhereDV(spark, p, col("id") === 2L, "id")),
      "compact" -> (p => ManifestTable.compact(spark, p)),
      // the table's one numeric column on both axes
      "optimizeZOrder" -> (p =>
        ManifestTable.optimizeZOrder(spark, p, "id", "id", targetFiles = 1)))
    val maxAttempts = 3 // every verb's default
    for ((verb, run) <- verbs; k <- Seq(maxAttempts - 1, maxAttempts)) {
      val path = java.nio.file.Files.createTempDirectory(
        s"graft_seam_$verb").toString + "/t"
      ManifestTable.write((1L to 4L).map(i => (i, s"r$i")).toDF("id", "v"), path)
      // both index sidecars declared, so data verbs stage bloom + ndv
      // dirs too — all of which a lost attempt must remove
      ManifestTable.setBloomIndex(spark, path, Seq("id"), items = 1000L)
      ManifestTable.setNdvStats(spark, path, Seq("id"))
      val prev = ManifestTable.currentVersion(spark, path).get
      val store = new LosingStore(k)
      ManifestTable.withLogStore(store) {
        if (k < maxAttempts)
          assert(run(path) === prev + 1, s"$verb, $k losses")
        else {
          val e = intercept[IllegalStateException](run(path))
          assert(e.getMessage.contains(s"lost $maxAttempts races"),
            s"$verb: ${e.getMessage}")
        }
      }
      val landed = if (k < maxAttempts) 1 else 0
      assert(ManifestTable.versions(spark, path) ===
        (1L to prev + landed).toSeq, s"$verb, $k losses")
      assert(store.publishes.get === k + landed,
        s"$verb: one publish per attempt")
      // losers leave nothing: no tmp manifest (or its checksum) and no
      // staging dir of another attempt — at most the winner's token
      val names = new java.io.File(path).list().toSeq
      assert(!names.exists(_.contains(".tmp")), s"$verb: tmp left: $names")
      val tokens = names.collect {
        case n if n.matches(s"(snap|dv|bloom|ndv)-${prev + 1}-.*") =>
          n.split("-")(2)
      }.distinct
      assert(tokens.size <= landed,
        s"$verb, $k losses: staging of lost attempts left behind: $names")
    }
  }

  test("maintenance rewrites under a rival append: the rival's rows survive, the rewrite lands once and removes only files of its base") {
    def rows(ids: Range) = ids.map(i => (i.toLong, i % 4L, i * 7L % 23L,
      s"r$i")).toDF("id", "k", "m", "v")
    val rivalRows = rows(1001 to 1010)
    val append = (p: String) => { ManifestTable.append(rivalRows, p); () }
    // a partitioned table takes no append: an insert-only merge adds
    // files the same way
    val insert = (p: String) => {
      ManifestTable.merge(rivalRows, p, "id"); ()
    }
    val flat = (p: String) => {
      ManifestTable.write(rows(1 to 200).repartition(4), p); ()
    }
    val cases = Seq[(String, String => Unit, String => Unit, String => Long, String)](
      ("compact", flat, append, p => ManifestTable.compact(spark, p),
        "COMPACT"),
      ("compactIfFragmented", flat, append,
        p => ManifestTable.compactIfFragmented(spark, p, maxFiles = 2).get,
        "COMPACT"),
      ("compactToFileSize", flat, append,
        p => ManifestTable.compactToFileSize(spark, p, 1L << 20), "COMPACT"),
      ("optimizeZOrder", flat, append,
        p => ManifestTable.optimizeZOrder(spark, p, "id", "m", 2), "COMPACT"),
      ("optimizeZOrderRanked", flat, append,
        p => ManifestTable.optimizeZOrderRanked(spark, p, "id", "m", 2),
        "COMPACT"),
      ("optimizeZOrderN", flat, append,
        p => ManifestTable.optimizeZOrderN(spark, p, Seq("id", "k", "m"), 2),
        "COMPACT"),
      ("optimizeClustered",
        p => {
          flat(p)
          ManifestTable.setClusterColumns(spark, p, Seq("id", "m")); ()
        },
        append, p => ManifestTable.optimizeClustered(spark, p), "CLUSTER"),
      ("compactWhere",
        p => {
          ManifestTable.write(rows(1 to 200).coalesce(1), p,
            partitionCols = Seq("k")); ()
        },
        insert, p => ManifestTable.compactWhere(spark, p, col("k") === 1),
        "COMPACT"))
    for ((verb, create, rival, run, op) <- cases) {
      val path = java.nio.file.Files.createTempDirectory(
        s"graft_rival_$verb").toString + "/t"
      create(path)
      val prev = ManifestTable.currentVersion(spark, path).get
      assert(ManifestTable.manifestFiles(spark, path, prev).size === 4,
        s"$verb: a 4-file table")
      val v = ManifestTable.withLogStore(new RivalStore(() => rival(path)))(
        run(path))
      // the rival won prev+1; the rewrite retried once onto it
      assert(v === prev + 2, verb)
      assert(ManifestTable.versions(spark, path) === (1L to prev + 2).toSeq,
        verb)
      val ops = ManifestTable.history(spark, path)
        .select("version", "operation").as[(Long, String)].collect().toMap
      assert(ops(prev + 2) === op, s"$verb: $ops")
      val ids = ManifestTable.read(spark, path).select("id").as[Long]
        .collect().sorted.toSeq
      assert(ids === ((1L to 200L) ++ (1001L to 1010L)),
        s"$verb: rows lost or duplicated")
      val entry = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        new java.io.File(path, s"_graft_manifest-v${prev + 2}.json"))
      val removes = (0 until entry.get("removes").size)
        .map(entry.get("removes").get(_).asText()).toSet
      val base = ManifestTable.manifestFiles(spark, path, prev + 1).toSet
      assert(removes.nonEmpty && removes.subsetOf(base),
        s"$verb removed files outside its base: ${removes -- base}")
    }
  }

  test("a tagged verb racing a replay of itself lands once: it returns the replay's version and applies its rows once") {
    import ManifestTable.{MergeInsert, MergeUpdate}
    val tag = "self-race"
    def rows(ids: Seq[Long], m: Long => Long) =
      ids.map(i => (i, m(i), s"r$i")).toDF("id", "m", "v")
    val base = (1L to 200L).map(i => i -> i).toMap
    val low = (1L to 10L).toSet
    // verb, the rows (id -> m) it leaves behind when applied once
    val cases = Seq[(String, String => Long, Map[Long, Long])](
      ("appendIdempotent",
        p => ManifestTable.appendIdempotent(
          rows(1001L to 1010L, identity), p, tag),
        base ++ (1001L to 1010L).map(i => i -> i)),
      ("merge",
        p => ManifestTable.merge(rows(Seq(1L, 1001L), i => -i), p, "id",
          tag = Some(tag)),
        base ++ Map(1L -> -1L, 1001L -> -1001L)),
      ("mergeMulti",
        p => ManifestTable.mergeMulti(rows(low.toSeq :+ 1001L, identity), p,
          "id", matched = Seq(MergeUpdate(None, Seq("m" -> (col("_b_m") + 1L)))),
          notMatched = Seq(MergeInsert()), tag = Some(tag)),
        base ++ low.map(i => i -> (i + 1)) + (1001L -> 1001L)),
      ("updateWhere",
        p => ManifestTable.updateWhere(spark, p, Seq("m" -> (col("m") + 1000L)),
          col("id") <= 10L, tag = Some(tag)),
        base ++ low.map(i => i -> (i + 1000))),
      ("deleteWhere",
        p => ManifestTable.deleteWhere(spark, p, col("id") <= 10L,
          tag = Some(tag)),
        base -- low),
      ("overwriteWhere",
        p => ManifestTable.overwriteWhere(rows(low.toSeq.sorted, i => -i), p,
          col("id") <= 10L, tag = Some(tag)),
        base ++ low.map(i => i -> -i)),
      ("deleteWhereDV",
        p => ManifestTable.deleteWhereDV(spark, p, col("id") <= 10L, "id",
          tag = Some(tag)),
        base -- low),
      ("updateWhereDV",
        p => ManifestTable.updateWhereDV(spark, p,
          Seq("m" -> (col("m") + 1000L)), col("id") <= 10L, "id",
          tag = Some(tag)),
        base ++ low.map(i => i -> (i + 1000))))
    for ((verb, run, expected) <- cases) {
      val path = java.nio.file.Files.createTempDirectory(
        s"graft_self_race_$verb").toString + "/t"
      ManifestTable.write(rows(1L to 200L, identity).repartition(4), path)
      val prev = ManifestTable.currentVersion(spark, path).get
      // the rival is the same verb, same tag: a replay that wins the race
      val v = ManifestTable.withLogStore(new RivalStore(() => { run(path); () }))(
        run(path))
      assert(v === prev + 1, s"$verb must return the replay's version")
      assert(ManifestTable.versions(spark, path) === (1L to prev + 1).toSeq,
        s"$verb committed after losing to its own replay")
      assert(ManifestTable.history(spark, path)
        .filter(col("tag") === tag).count() === 1, s"$verb: tag entries")
      val got = ManifestTable.read(spark, path).select("id", "m")
        .as[(Long, Long)].collect()
      assert(got.length === expected.size && got.toMap === expected,
        s"$verb applied its rows more than once")
    }

    // the replay check precedes the writer-protocol gate, as a replay
    // exits before any work: a table later upgraded to a future writer
    // still answers a replayed tagged merge with its version
    val path = java.nio.file.Files.createTempDirectory(
      "graft_replay_future_writer").toString + "/t"
    ManifestTable.write(rows(1L to 4L, identity), path)
    val merged = ManifestTable.merge(rows(Seq(1L), i => -i), path, "id",
      tag = Some("m1"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/_graft_manifest-v${merged + 1}.json"),
      (s"""{"version":${merged + 1},"ts":0,"minReader":1,"minWriter":99,""" +
        """"adds":[],"removes":[]}""").getBytes("UTF-8"))
    assert(ManifestTable.merge(rows(Seq(1L), i => -i), path, "id",
      tag = Some("m1")) === merged)
    val e = intercept[IllegalStateException](ManifestTable.merge(
      rows(Seq(1L), i => -i), path, "id", tag = Some("m2")))
    assert(e.getMessage.contains("writer version 99"))
    assert(ManifestTable.versions(spark, path) === (1L to merged + 1).toSeq)
  }

  test("the named-format sink racing a replay of the same batch lands it once") {
    val path = java.nio.file.Files.createTempDirectory(
      "graft_sink_self_race").toString + "/t"
    ManifestTable.write((1L to 4L).toDF("id"), path)
    val prev = ManifestTable.currentVersion(spark, path).get
    val sink = new graft.streaming.GraftSinkProvider().createSink(
      spark.sqlContext, Map("path" -> path), Nil,
      org.apache.spark.sql.streaming.OutputMode.Append())
    val batch = (101L to 110L).toDF("id")
    // the rival replays batch 7 through the same sink and wins the race
    ManifestTable.withLogStore(new RivalStore(() => sink.addBatch(7L, batch)))(
      sink.addBatch(7L, batch))
    assert(ManifestTable.versions(spark, path) === (1L to prev + 1).toSeq,
      "the sink committed after losing to its own replay")
    assert(ManifestTable.history(spark, path)
      .filter(col("tag") === "graft-sink-7").count() === 1)
    assert(ManifestTable.read(spark, path).select("id").as[Long].collect()
      .sorted.toSeq === (1L to 4L) ++ (101L to 110L))
  }

  test("overwriteWhere enforces a CHECK constraint a rival commits before its publish") {
    val path = java.nio.file.Files.createTempDirectory(
      "graft_rival_constraint").toString + "/t"
    ManifestTable.write((1L to 200L).map(i => (i, i, s"r$i"))
      .toDF("id", "m", "v").repartition(4), path)
    val prev = ManifestTable.currentVersion(spark, path).get
    // the replacement slice violates `m > 0`, which the rival declares
    // (every existing row satisfies it) between the read and the publish
    val batch = (1L to 10L).map(i => (i, -i, s"n$i")).toDF("id", "m", "v")
    val rival = () => {
      ManifestTable.addCheckConstraint(spark, path, "m_pos", "m > 0"); ()
    }
    val e = intercept[Exception](
      ManifestTable.withLogStore(new RivalStore(rival))(
        ManifestTable.overwriteWhere(batch, path, col("id") <= 10L)))
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("CHECK constraint 'm_pos'")),
      s"expected the rival's constraint to refuse the batch: $messages")
    assert(ManifestTable.versions(spark, path) === (1L to prev + 1).toSeq,
      "the refused replaceWhere must not commit")
    assert(ManifestTable.read(spark, path).select("m").as[Long].collect()
      .sorted.toSeq === (1L to 200L))
  }
}
