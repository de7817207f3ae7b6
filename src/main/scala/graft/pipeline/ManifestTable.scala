package graft.pipeline

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import scala.util.control.NonFatal

/** Minimal commit-log table protocol — the observable core of the
  * reference's Delta ACID layer (`/root/reference/src/etl_pipeline.py:36-69`)
  * without Delta jars (none ship in this environment, SURVEY §1):
  *
  *  1. every write lands in a fresh `snap-<version>-<token>/` directory —
  *     data files of previous versions are never touched;
  *  2. the commit point is ONE atomic publish of
  *     `_graft_manifest-v<N>.json` through the pluggable [[LogStore]]
  *     (POSIX hard link / HDFS rename / object-store conditional PUT —
  *     put-if-absent semantics per store), so a writer dying ANYWHERE
  *     before it leaves only an orphaned snapshot directory no reader
  *     sees, and two racing writers cannot both win a version. Every
  *     verb publishes its version through the single transaction
  *     function [[transact]] — base resolution, the replay-tag check,
  *     the writer-protocol gate, the publish, the checkpoint and the
  *     OCC retry live there once; a verb supplies only its attempt
  *     body. A tagged verb's replay is answered from each attempt's
  *     base, so a verb that loses its race to a replay of itself lands
  *     once. Every attempt body that writes data (write/append, merge,
  *     UPDATE/DELETE/replaceWhere, the merge-on-read verbs, the
  *     maintenance rewrites) stages through one step, [[Txn.stage]] —
  *     physical rename, parquet write, the zero-row schema file,
  *     footer stats, bloom/NDV sidecars, lazy row-id and identity high
  *     waters — and deletion vectors through [[Txn.stageDv]];
  *  3. since round 10 the committed manifest is an INCREMENTAL LOG
  *     ENTRY (the `_delta_log` shape, Delta paper VLDB 2020 §3): it
  *     records only the commit's `adds`/`removes` (+ per-add stats +
  *     its own tag + schema), so commit cost is O(changed files), not
  *     O(table files). Readers resolve a version by loading the newest
  *     `_graft_checkpoint-v<K>.json` ≤ it (a folded full state, written
  *     every [[CheckpointInterval]] commits and by [[vacuum]] at the
  *     retention floor) and replaying the ≤interval delta entries above
  *     it. A driver-side LRU keyed by (path, version, manifest
  *     mtime/len) makes repeated resolution O(1). Round-9 full
  *     manifests (`files` field) still read: they act as inline
  *     snapshots during replay, so pre-upgrade tables and foreign
  *     writers keep working.
  *
  * Old versions stay readable ([[readVersion]], and by wall-clock via
  * [[readAsOfTimestamp]] — every commit stamps `ts`) until [[vacuum]]
  * drops them. Per-file column min/max/null statistics (`statsCols`,
  * footer-read) give Delta-style data skipping ([[readNumericRange]]),
  * partition-aware since round 10. Row-level writes: copy-on-write
  * keyed [[merge]] (now on partitioned tables too), multi-clause
  * [[mergeConditional]] (clause resolution inside the OCC loop), and
  * merge-on-read DELETION VECTORS (`deleteVectors = true`): sparse
  * deletes commit a per-file deleted-key sidecar instead of rewriting
  * data files; [[compact]] folds DVs away. Reads resolve the sidecars
  * on the driver ([[dvEntries]]: explicit schema, an LRU keyed like
  * the state cache) and anti-join them as a local relation on each
  * row's `_metadata.file_name`, so Catalyst folds a query's key
  * predicates into the vector side; a sidecar past the cache's row
  * budget stays a distributed broadcast read.
  *
  * Maintenance rewrites — [[compact]], the OPTIMIZE ZORDER verbs,
  * [[optimizeClustered]], [[compactWhere]] and auto-compaction — are
  * one attempt body ([[subsetRewrite]]) inside [[transact]]: each picks
  * its files from the attempt's base and its entry removes exactly
  * those, so an append that wins the race is re-read, never dropped.
  * Explicit OPTIMIZE and Z-order commits show `COMPACT` in [[history]]
  * (`WRITE` before), clustering shows `CLUSTER`.
  */
object ManifestTable {

  private val ManifestPrefix = "_graft_manifest-v"
  private val CheckpointPrefix = "_graft_checkpoint-v"

  /** Fold the delta log into a full checkpoint every N commits: readers
    * replay at most N delta entries above the newest checkpoint, and a
    * commit writes O(Δ) bytes always (the checkpoint is a separate,
    * advisory file published AFTER the commit — losing it costs replay
    * length, never correctness).
    */
  val CheckpointInterval: Int = 16

  /** Default replay-protection horizon: the carried tag→version map is
    * bounded at this many newest tags; a batch replayed after more than
    * this many subsequent tagged commits re-appends — retention must
    * exceed the maximum replay horizon, exactly the contract Delta's
    * txn-retention duration draws. Per-call, not mutable static state.
    */
  val DefaultTagHorizon: Int = 100000

  /** Matched-row ceiling for the merge-on-read verbs' SPARSE contract:
    * above this many matching rows, [[updateWhereDV]]/[[deleteWhereDV]]
    * fall back to the copy-on-write rewrite instead of committing a
    * sidecar. The MoR shape is only cheaper when the match set is small
    * — its single-task sidecar/images write and the readers' perpetual
    * anti-join both scale with matched rows, while CoW scales with
    * touched FILES — so the threshold makes the contract
    * self-enforcing rather than doc-enforced. ~4M (file, key) pairs is
    * a few hundred MB staged through one task: the upper edge of
    * acceptable. Overridable per call.
    */
  val DefaultSparseRowLimit: Long = 4L * 1000 * 1000

  /** Protocol versions this library implements (Delta's
    * minReaderVersion/minWriterVersion forward-compat gate): a table
    * whose committed `minReader` exceeds ours refuses to RESOLVE
    * (silently misreading a table with unknown semantics is the
    * failure mode the gate exists to prevent); `minWriter` above ours
    * refuses only WRITES — reading stays fine.
    */
  val SupportedReaderVersion: Int = 1
  val SupportedWriterVersion: Int = 1

  /** Source-size gate for the by-source merge strategy (rows): at or
    * under it the base-only side resolves via a broadcast ANTI join
    * (zero base exchange); above it via ONE fused full-outer join.
    * Override per session with `spark.graft.bySourceBroadcastRows`. */
  val BySourceBroadcastMaxRows: Long = 1L << 22

  /** Merge-source broadcast gate (rows): under it the merge's
    * source-derived key frames (confirm scan, row-id inheritance,
    * copy-on-write carry anti-join) BROADCAST; past it they join by
    * shuffle, so an arbitrarily large CDC batch merges without driver
    * or single-executor bounds. Override per session with
    * `spark.graft.mergeBroadcastRows`. */
  val MergeBroadcastMaxRows: Long = 1L << 22

  /** Base-slice broadcast gate (on-disk bytes): a PRUNED base slice at
    * or under it broadcasts into the match-state resolution (one plain
    * left-outer join, no auxiliary builds — the cheapest plan for
    * small tables/slices); past it the base STREAMS through the
    * inner-pairs shape instead. Sized to ON-DISK parquet bytes, which
    * commonly expand 3–10× decoded — 32 MB on disk keeps the broadcast
    * build in the low hundreds of MB on default executors. Override
    * per session with `spark.graft.mergeBroadcastBaseBytes`. */
  val MergeBroadcastBaseMaxBytes: Long = 32L << 20

  /** Table property: write-time small-file control. When `true`, every
    * write/append/sink commit COALESCES its staged batch toward
    * [[AutoOptimizeTargetBytes]] (override with
    * `graft.autoOptimize.targetFileSize`) instead of committing one
    * sliver per shuffle partition — delta's
    * `delta.autoOptimize.optimizeWrite` shape. */
  val OptimizeWriteProp: String = "graft.autoOptimize.optimizeWrite"

  /** Table property: post-commit small-file compaction. When `true`, a
    * commit that leaves at least [[AutoCompactMinNumFiles]] files
    * (override `graft.autoCompact.minNumFiles`) under HALF the target
    * size triggers a bin-pack of ONLY those small files — big files
    * never rewrite, so the cost is O(small bytes), not O(table). */
  val AutoCompactProp: String = "graft.autoOptimize.autoCompact"

  /** Target file size (bytes) for both auto-optimize properties;
    * property `graft.autoOptimize.targetFileSize` overrides. */
  val AutoOptimizeTargetBytes: Long = 128L << 20

  /** Small-file count that trips auto-compaction (delta's default). */
  val AutoCompactMinNumFiles: Int = 50

  /** The `graft.`-prefixed keys settable via TBLPROPERTIES: value-only
    * tuning knobs with no protocol invariants (delta exposes its
    * `delta.autoOptimize.*` twins the same way). Every other `graft.`
    * key stays verb-managed (UPGRADE PROTOCOL, ENABLE ROW TRACKING,
    * ...). */
  val TunableProps: Set[String] = Set(
    OptimizeWriteProp, AutoCompactProp,
    "graft.autoOptimize.targetFileSize", "graft.autoCompact.minNumFiles")
  // NOTE: the variant shred keys (graft.variant.shredPaths /
  // .shredColumn) were TunableProps in r17 but are VERB-MANAGED since
  // r18: a bare SET TBLPROPERTIES could record a spec whose generated
  // shred columns were never declared — a spec plain writes would not
  // honor, the exact seam the generated-column gate closed. They land
  // only through VariantShred.write's single data+decls+props commit.

  /** Physical column carrying the stable row id on row-tracked tables
    * (hidden from the logical schema; see [[enableRowTracking]]).
    */
  val RowIdCol: String = "_graft_row_id"

  /** Reserved NDV-sidecar entry name carrying the per-file ROW COUNT —
    * written for every staged file regardless of which declared NDV
    * columns its batch carries, so [[rowCountFromStats]] coverage is
    * table coverage. Underscore-reserved like [[RowIdCol]]. */
  val RowCountStatCol: String = "_graft_ndv_rowcount"

  /** Per-file column statistics carried by the log (the Delta-style
    * data-skipping index). `complete` is false when any row group of the
    * file lacked statistics for the column — such files are never pruned.
    * Numeric stats are widened for comparison; `typ` is one of
    * "long", "double", "string".
    */
  final case class ColStats(typ: String, min: Any, max: Any,
                            nulls: Long, complete: Boolean)

  /** A version's fully-resolved metadata: the file list, the
    * data-skipping stats, the committed schema, the replay-protection
    * tag map, and the live deletion-vector sidecars. Immutable once the
    * version is committed — which is what makes the LRU cache sound.
    */
  /** File-level bloom index configuration: indexed columns, expected
    * items per data file, and the false-positive rate.
    */
  final case class BloomSpec(cols: Seq[String], items: Long, fpp: Double)

  final case class TableState(version: Long, ts: Long,
                              files: Seq[String],
                              stats: Map[String, Map[String, ColStats]],
                              schema: Option[StructType],
                              tags: Map[String, Long],
                              dvFiles: Seq[String],
                              dvKey: Option[String],
                              constraints: Map[String, String] = Map.empty,
                              bloom: Option[BloomSpec] = None,
                              bloomFiles: Seq[String] = Nil,
                              mapping: Map[String, String] = Map.empty,
                              maxColId: Long = 0L,
                              generated: Map[String, String] = Map.empty,
                              ndvCols: Seq[String] = Nil,
                              ndvFiles: Seq[String] = Nil,
                              minReader: Int = 1,
                              minWriter: Int = 1,
                              rowTracking: Boolean = false,
                              rowHighWater: Long = 0L,
                              statsSchemaCols: Seq[String] = Nil,
                              clusterCols: Seq[String] = Nil,
                              clusteredFiles: Seq[String] = Nil,
                              identityCol: Option[String] = None,
                              identityStep: Long = 1L,
                              identityHighWater: Long = 0L,
                              partitionColsDecl: Seq[String] = Nil,
                              copyFiles: Seq[String] = Nil,
                              txns: Map[String, Long] = Map.empty,
                              properties: Map[String, String] = Map.empty,
                              defaults: Map[String, String] = Map.empty,
                              expectations: Map[String, String] = Map.empty) {
    /** Column mapping is ON once [[renameColumn]]/[[dropColumn]] ever
      * ran — from then on `schema` holds LOGICAL names, data files /
      * stats / bloom / DV keys hold PHYSICAL names, and NEW columns get
      * fresh physical names so a dropped-then-re-added logical name can
      * never resurrect old file data. Unmapped tables have physical ≡
      * logical and serialize byte-identically to before.
      */
    def mapped: Boolean = maxColId > 0 || mapping.nonEmpty
    /** Physical column name of a logical name (identity when unmapped
      * or for columns that existed when mapping was enabled). */
    def phys(logical: String): String = mapping.getOrElse(logical, logical)
    /** Logical name a physical column currently reads as. */
    def logical(physical: String): String =
      mapping.collectFirst { case (l, p) if p == physical => l }
        .getOrElse(physical)
    /** The schema a rewrite reads its rows under: the logical schema,
      * plus [[RowIdCol]] on a row-tracked table so ids carry verbatim. */
    def rowIdSchema: Option[StructType] =
      if (!rowTracking) schema
      else schema.map(sc =>
        StructType(sc.fields :+ StructField(RowIdCol, LongType)))
    /** Stats columns of a keyless rewrite (physical): `explicit`, else
      * the declared stats schema, else the columns the files already
      * carry stats for — so skipping survives without re-declaring. */
    def rewriteStatsCols(explicit: Seq[String]): Seq[String] =
      if (explicit.nonEmpty) explicit
      else if (statsSchemaCols.nonEmpty) statsSchemaCols
      else stats.values.headOption.map(_.keys.toSeq.sorted).getOrElse(Nil)
  }

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(path: String, v: Long) =
    new Path(path, s"$ManifestPrefix$v.json")
  private def checkpointPath(path: String, v: Long) =
    new Path(path, s"$CheckpointPrefix$v.json")

  /** A file ref recorded by [[cloneShallow]] pointing OUTSIDE the table
    * root (absolute path or full URI), vs the usual table-relative ref.
    * URI detection accepts both `scheme://authority/...` and Hadoop's
    * authority-less `scheme:/...` rendering (LocalFileSystem qualifies
    * to `file:/path`, not `file:///path`).
    */
  private def isExternalRef(rel: String): Boolean =
    rel.startsWith("/") || rel.matches("[a-zA-Z][a-zA-Z0-9+.-]*:/.*")

  /** Table-relative refs resolve under the table root; external refs
    * (shallow clones) pass through untouched.
    */
  private def resolveRef(path: String, rel: String): String =
    if (isExternalRef(rel)) rel else s"$path/$rel"

  /** Committed versions present at `path`, ascending (manifests only —
    * checkpoints are derived artifacts, never the commit point).
    */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val dir = new Path(path)
    val f = fs(spark, path)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith(ManifestPrefix) && n.endsWith(".json"))
      .map(n => n.stripPrefix(ManifestPrefix).stripSuffix(".json").toLong)
      .sorted.toSeq
  }

  private def checkpointVersions(spark: SparkSession, path: String): Seq[Long] = {
    val dir = new Path(path)
    val f = fs(spark, path)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith(CheckpointPrefix) && n.endsWith(".json"))
      .map(n => n.stripPrefix(CheckpointPrefix).stripSuffix(".json").toLong)
      .sorted.toSeq
  }

  def currentVersion(spark: SparkSession, path: String): Option[Long] =
    versions(spark, path).lastOption

  // ------------------------------------------------------------------
  // State resolution (checkpoint + delta replay, LRU-cached)
  // ------------------------------------------------------------------

  private final case class CacheKey(path: String, version: Long, sig: Long)
  private val stateCache =
    new java.util.LinkedHashMap[CacheKey, TableState](128, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[CacheKey, TableState]): Boolean = size() > 128
    }
  private def cacheGet(k: CacheKey): Option[TableState] =
    stateCache.synchronized(Option(stateCache.get(k)))
  private def cachePut(k: CacheKey, st: TableState): Unit =
    stateCache.synchronized { stateCache.put(k, st); () }

  /** Identity of a committed version on disk: mtime/len of its manifest
    * (or checkpoint, when the manifest was vacuumed). Guards the cache
    * against a table being deleted and re-created at the same path.
    */
  private def sigOf(f: FileSystem, path: String, v: Long): Option[Long] = {
    def s(p: Path): Option[Long] =
      try { val st = f.getFileStatus(p)
            Some(st.getModificationTime * 31L + st.getLen) }
      catch { case _: java.io.FileNotFoundException => None }
    s(manifestPath(path, v)).orElse(s(checkpointPath(path, v)))
  }

  private def readNode(f: FileSystem, p: Path): JsonNode = {
    val in = f.open(p)
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
  }

  private def readNodeIfExists(f: FileSystem, p: Path): Option[JsonNode] =
    try Some(readNode(f, p))
    catch { case _: java.io.FileNotFoundException => None }

  private def strArr(n: JsonNode, field: String): Seq[String] = {
    val a = n.get(field)
    if (a == null) Nil else (0 until a.size()).map(a.get(_).asText())
  }

  private def parseStatsNode(stats: JsonNode): Map[String, Map[String, ColStats]] =
    if (stats == null) Map.empty
    else {
      val out = scala.collection.mutable.Map.empty[String, Map[String, ColStats]]
      val fileIt = stats.fieldNames()
      while (fileIt.hasNext) {
        val file = fileIt.next()
        val cols = stats.get(file)
        val perCol = scala.collection.mutable.Map.empty[String, ColStats]
        val colIt = cols.fieldNames()
        while (colIt.hasNext) {
          val c = colIt.next()
          val n = cols.get(c)
          val typ = n.get("type").asText()
          def v(field: String): Any = typ match {
            case "long"   => n.get(field).asLong()
            case "double" => n.get(field).asDouble()
            case _        => n.get(field).asText()
          }
          perCol += c -> ColStats(typ, v("min"), v("max"),
            n.get("nulls").asLong(), n.get("complete").asBoolean())
        }
        out += file -> perCol.toMap
      }
      out.toMap
    }

  private def parseSchema(n: JsonNode): Option[StructType] =
    Option(n.get("schema")).map(s =>
      DataType.fromJson(s.asText()).asInstanceOf[StructType])

  /** A full-state node: a checkpoint, or a round-9/legacy manifest
    * (whose `files` field lists the complete snapshot). Acts as a
    * replay RESET. A legacy manifest without a carried `tags` map
    * contributes only its own tag (the pre-upgrade fallback scanned
    * per-manifest tags; post-upgrade tables always carry the map
    * through checkpoints).
    */
  private def stateFromFull(n: JsonNode, version: Long): TableState = {
    val tags: Map[String, Long] =
      if (n.has("tags")) {
        val t = n.get("tags")
        val out = scala.collection.mutable.Map.empty[String, Long]
        val it = t.fieldNames()
        while (it.hasNext) { val k = it.next(); out += k -> t.get(k).asLong() }
        out.toMap
      } else Option(n.get("tag")).map(t => t.asText() -> version).toMap
    TableState(version,
      Option(n.get("ts")).map(_.asLong()).getOrElse(0L),
      strArr(n, "files"), parseStatsNode(n.get("stats")), parseSchema(n),
      tags, strArr(n, "dvFiles"),
      Option(n.get("dvKey")).map(_.asText()),
      strMap(n, "constraints"),
      parseBloomSpec(n), strArr(n, "bloomFiles"),
      strMap(n, "mapping"),
      Option(n.get("maxColId")).map(_.asLong()).getOrElse(0L),
      strMap(n, "generated"),
      strArr(n, "ndvCols"), strArr(n, "ndvFiles"),
      Option(n.get("minReader")).map(_.asInt()).getOrElse(1),
      Option(n.get("minWriter")).map(_.asInt()).getOrElse(1),
      Option(n.get("rowTracking")).exists(_.asBoolean()),
      Option(n.get("rowHighWater")).map(_.asLong()).getOrElse(0L),
      strArr(n, "statsSchema"),
      strArr(n, "clusterCols"), strArr(n, "clusteredFiles"),
      Option(n.get("identityCol")).map(_.asText()),
      Option(n.get("identityStep")).map(_.asLong()).getOrElse(1L),
      Option(n.get("identityHighWater")).map(_.asLong()).getOrElse(0L),
      strArr(n, "partitionColsDecl"),
      strArr(n, "copyFiles"),
      longMap(n, "txns"),
      strMap(n, "properties"),
      strMap(n, "defaults"),
      strMap(n, "expectations"))
  }

  /** Parse a {name: long} object field into a Map (empty if absent). */
  private def longMap(n: JsonNode, field: String): Map[String, Long] =
    if (!n.has(field)) Map.empty
    else {
      val o = n.get(field)
      val out = scala.collection.mutable.Map.empty[String, Long]
      val it = o.fieldNames()
      while (it.hasNext) { val k = it.next(); out += k -> o.get(k).asLong() }
      out.toMap
    }

  private def checkReadable(n: JsonNode, where: String): Unit = {
    val mr = Option(n.get("minReader")).map(_.asInt()).getOrElse(1)
    if (mr > SupportedReaderVersion) throw new IllegalStateException(
      s"table at $where requires protocol reader version $mr; this " +
        s"library implements $SupportedReaderVersion — upgrade the " +
        "library before reading")
  }

  private def parseBloomSpec(n: JsonNode): Option[BloomSpec] =
    if (!n.has("bloomCols")) None
    else Some(BloomSpec(strArr(n, "bloomCols"),
      n.get("bloomItems").asLong(), n.get("bloomFpp").asDouble()))

  /** Parse a {name: string} object field into a Map (empty if absent). */
  private def strMap(n: JsonNode, field: String): Map[String, String] =
    if (!n.has(field)) Map.empty
    else {
      val o = n.get(field)
      val out = scala.collection.mutable.Map.empty[String, String]
      val it = o.fieldNames()
      while (it.hasNext) { val k = it.next(); out += k -> o.get(k).asText() }
      out.toMap
    }

  private def truncateTags(tags: Map[String, Long], horizon: Int): Map[String, Long] =
    if (tags.size <= horizon) tags
    else tags.toSeq.sortBy { case (t, v) => (-v, t) }.take(horizon).toMap

  /** Apply one delta log entry on top of the previous state. */
  private def applyDelta(prev: TableState, n: JsonNode, version: Long): TableState = {
    val removes = strArr(n, "removes").toSet
    val dvRemoves = strArr(n, "dvRemoves").toSet
    val tag = Option(n.get("tag")).map(_.asText())
    val horizon = Option(n.get("tagHorizon")).map(_.asInt())
      .getOrElse(DefaultTagHorizon)
    TableState(
      version,
      Option(n.get("ts")).map(_.asLong()).getOrElse(0L),
      prev.files.filterNot(removes) ++ strArr(n, "adds"),
      (prev.stats -- removes) ++ parseStatsNode(n.get("stats")),
      parseSchema(n).orElse(prev.schema),
      truncateTags(prev.tags ++ tag.map(_ -> version), horizon),
      prev.dvFiles.filterNot(dvRemoves) ++ strArr(n, "dvAdds"),
      Option(n.get("dvKey")).map(_.asText()).orElse(prev.dvKey),
      prev.constraints -- strArr(n, "constraintRemoves")
        ++ strMap(n, "constraintAdds"),
      parseBloomSpec(n).orElse(prev.bloom),
      prev.bloomFiles.filterNot(strArr(n, "bloomRemoves").toSet)
        ++ strArr(n, "bloomAdds"),
      // a delta carries the FULL mapping when it changes it (O(columns),
      // tiny); absent = inherit
      if (n.has("mapping")) strMap(n, "mapping") else prev.mapping,
      Option(n.get("maxColId")).map(_.asLong()).getOrElse(prev.maxColId),
      prev.generated -- strArr(n, "generatedRemoves")
        ++ strMap(n, "generatedAdds"),
      if (n.has("ndvCols")) strArr(n, "ndvCols") else prev.ndvCols,
      prev.ndvFiles.filterNot(strArr(n, "ndvRemoves").toSet)
        ++ strArr(n, "ndvAdds"),
      Option(n.get("minReader")).map(_.asInt()).getOrElse(prev.minReader),
      Option(n.get("minWriter")).map(_.asInt()).getOrElse(prev.minWriter),
      Option(n.get("rowTracking")).map(_.asBoolean())
        .getOrElse(prev.rowTracking),
      Option(n.get("rowHighWater")).map(_.asLong())
        .getOrElse(prev.rowHighWater),
      if (n.has("statsSchema")) strArr(n, "statsSchema")
      else prev.statsSchemaCols,
      if (n.has("clusterCols")) strArr(n, "clusterCols")
      else prev.clusterCols,
      // CLUSTERED ⊆ FILES invariant: any rewrite that removes a file
      // also retires its clustered mark; only cluster commits add marks
      // (clusteredRemoves exists for restore's exact rollback)
      prev.clusteredFiles.filterNot(removes)
        .filterNot(strArr(n, "clusteredRemoves").toSet)
        ++ strArr(n, "clusteredAdds"),
      Option(n.get("identityCol")).map(_.asText()).orElse(prev.identityCol),
      Option(n.get("identityStep")).map(_.asLong())
        .getOrElse(prev.identityStep),
      Option(n.get("identityHighWater")).map(_.asLong())
        .getOrElse(prev.identityHighWater),
      if (n.has("partitionColsDecl")) strArr(n, "partitionColsDecl")
      else prev.partitionColsDecl,
      // COPY INTO ledger: per-entry adds fold into the state (and into
      // every checkpoint), so idempotency survives vacuumed manifests;
      // copyRemoves exists for restore's exact rollback
      prev.copyFiles.filterNot(strArr(n, "copyRemoves").toSet)
        ++ strArr(n, "copyAdds"),
      // writer-transaction versions (Delta's txnAppId/txnVersion): fold
      // MONOTONE per app — like the row-id high water, a txn version
      // never goes backward, so a resurrected replay can't double-land
      if (!n.has("txnApp")) prev.txns
      else {
        val app = n.get("txnApp").asText()
        val ver = n.get("txnVer").asLong()
        prev.txns + (app -> math.max(ver, prev.txns.getOrElse(app, Long.MinValue)))
      },
      // user table properties: a delta carries the FULL map when a
      // SET/UNSET TBLPROPERTIES commit changes it (O(properties),
      // tiny); absent = inherit — the mapping rule
      if (n.has("properties")) strMap(n, "properties")
      else prev.properties,
      // column DEFAULT declarations fold like generated columns:
      // per-key adds/removes (each declaration is its own commit)
      prev.defaults -- strArr(n, "defaultRemoves")
        ++ strMap(n, "defaultAdds"),
      // EXPECTATIONS (DLT's quality rules) fold like constraints:
      // per-key adds/removes, riding checkpoints
      prev.expectations -- strArr(n, "expectationRemoves")
        ++ strMap(n, "expectationAdds"))
  }

  /** Resolve the full metadata of a committed version: walk back from
    * `version` until a cached state, a checkpoint, a full (legacy)
    * manifest, or version 0 (empty table) — then replay the collected
    * delta entries forward, caching every intermediate. Amortized O(1)
    * per new commit; worst case O([[CheckpointInterval]]) JSON reads.
    */
  private[graft] def resolveState(spark: SparkSession, path: String,
                                  version: Long): TableState = {
    val f = fs(spark, path)
    var v = version
    var deltas = List.empty[(Long, JsonNode, Long)] // ascending after prepends
    var base: TableState = null
    while (base == null) {
      if (v == 0L)
        base = TableState(0L, 0L, Nil, Map.empty, None, Map.empty, Nil, None)
      else {
        val sig = sigOf(f, path, v).getOrElse(throw new IllegalStateException(
          s"version $v of $path is not resolvable — its manifest and " +
            "checkpoint are both absent (vacuumed or never committed)"))
        cacheGet(CacheKey(path, v, sig)) match {
          case Some(st) => base = st
          case None =>
            readNodeIfExists(f, checkpointPath(path, v)) match {
              case Some(ck) =>
                checkReadable(ck, path)
                base = stateFromFull(ck, v)
                cachePut(CacheKey(path, v, sig), base)
              case None =>
                val n = readNode(f, manifestPath(path, v))
                checkReadable(n, path)
                require(n.get("version").asLong() == v,
                  s"manifest for version $v at $path names version " +
                    s"${n.get("version")} — corrupt table")
                if (n.has("files")) {
                  base = stateFromFull(n, v)
                  cachePut(CacheKey(path, v, sig), base)
                } else {
                  deltas ::= ((v, n, sig))
                  v -= 1
                }
            }
        }
      }
    }
    var st = base
    deltas.foreach { case (dv, n, sig) =>
      st = applyDelta(st, n, dv)
      cachePut(CacheKey(path, dv, sig), st)
    }
    st
  }

  // ------------------------------------------------------------------
  // Reads
  // ------------------------------------------------------------------

  /** Read the table's current committed version. */
  def read(spark: SparkSession, path: String): DataFrame =
    stateFrame(spark, path, currentState(spark, path))

  /** Time travel: read an explicit committed version. */
  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame =
    stateFrame(spark, path, resolveState(spark, path, version))

  /** The current version's resolved state — one root listing. A caller
    * that needs several answers about the same version (its tags,
    * generated columns, file count and rows) reads them all from it. */
  private[graft] def currentState(spark: SparkSession,
                                  path: String): TableState =
    resolveState(spark, path, currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path")))

  /** The rows of a resolved state, as [[readVersion]] reads them. */
  private[graft] def stateFrame(spark: SparkSession, path: String,
                                st: TableState): DataFrame = {
    require(st.files.nonEmpty, s"version ${st.version} at $path has no data files")
    readStateDf(spark, path, st)
  }

  /** Timestamp time travel: the newest version whose commit wall-clock
    * `ts` is ≤ `tsMillis` (timestamps are read off the log newest-first
    * and used as recorded — the same best-effort clock contract
    * delta-spark's `timestampAsOf` draws). Errors when every surviving
    * commit is newer than the asked instant.
    */
  def readAsOfTimestamp(spark: SparkSession, path: String,
                        tsMillis: Long): DataFrame = {
    val v = versionAsOfTimestamp(spark, path, tsMillis).getOrElse(
      throw new IllegalStateException(
        s"no committed version at $path as of ts=$tsMillis — oldest " +
          s"surviving commit is ${versions(spark, path).headOption.map(v0 =>
            s"v$v0 (ts=${commitTimestamp(spark, path, v0)})").getOrElse("none")}"))
    readVersion(spark, path, v)
  }

  /** The version [[readAsOfTimestamp]] would resolve, if any. */
  def versionAsOfTimestamp(spark: SparkSession, path: String,
                           tsMillis: Long): Option[Long] =
    versions(spark, path).reverseIterator
      .find(v => commitTimestamp(spark, path, v) <= tsMillis)

  /** Wall-clock commit time recorded by a version (0 on pre-round-10
    * manifests, which carried no timestamp).
    */
  def commitTimestamp(spark: SparkSession, path: String, version: Long): Long = {
    val f = fs(spark, path)
    readNodeIfExists(f, manifestPath(path, version))
      .orElse(readNodeIfExists(f, checkpointPath(path, version)))
      .flatMap(n => Option(n.get("ts")).map(_.asLong())).getOrElse(0L)
  }

  /** Shared file-list reader: basePath spans every named snapshot dir,
    * so `k=v` partition directories inside a snapshot are discovered;
    * the recorded schema governs the read (files predating an additive
    * evolution surface missing columns as nulls). Files from SEVERAL
    * partitioned snapshots (post-merge partitioned tables) are read
    * per-snapshot-root and unioned by name — partition inference is
    * only defined under a single base. EVERY read path must come
    * through here or [[readStateDf]] or drift on appended tables.
    * `fileName` adds [[FileNameCol]], each row's data-file name, taken
    * per scan before any union (the metadata column belongs to a file
    * relation).
    */
  private def readFilesOf(spark: SparkSession, path: String,
                          schema: Option[StructType],
                          rel: Seq[String],
                          fileName: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val roots = rel.map(_.split("/").head).distinct
    val partitioned = rel.exists(_.split("/").dropRight(1).exists(_.contains("=")))
    def scan(base: Option[String], paths: Seq[String]): DataFrame = {
      val reader = base.fold(spark.read)(spark.read.option("basePath", _))
      val df = schema.fold(reader)(reader.schema).parquet(paths: _*)
      if (fileName) df.withColumn(FileNameCol, col("_metadata.file_name"))
      else df
    }
    // per-base scans unioned by name, back in the recorded column order
    def union(scans: Seq[DataFrame]): DataFrame = {
      val unioned = scans.reduce(_ unionByName _)
      schema.fold(unioned)(s => unioned.select(
        (s.fieldNames.toSeq ++ Seq(FileNameCol).filter(_ => fileName))
          .map(col): _*))
    }
    val paths = rel.map(resolveRef(path, _))
    if (rel.exists(isExternalRef)) {
      // shallow-clone refs point OUTSIDE the table root, so no single
      // basePath covers them. Flat refs scan directly (partition
      // discovery — basePath's only job — is moot). Refs with k=v
      // segments (a clone of a PARTITIONED source) group by their scan
      // base — the absolute prefix above the first k=v segment, i.e.
      // the source's snapshot dir — so discovery re-derives the
      // partition columns per group, exactly as the local multi-root
      // branch does for native partitioned appends.
      def baseOf(abs: String): String = {
        val segs = abs.split("/")
        val i = segs.indexWhere(_.contains("="))
        if (i < 0) "" else segs.take(i).mkString("/")
      }
      if (!paths.exists(p => baseOf(p).nonEmpty)) scan(None, paths)
      else union(paths.groupBy(baseOf).toSeq.sortBy(_._1).map {
        case (base, fl) => scan(Some(base).filter(_.nonEmpty), fl) })
    }
    else if (roots.length == 1) scan(Some(s"$path/${roots.head}"), paths)
    else if (!partitioned) scan(Some(path), paths)
    else union(rel.groupBy(_.split("/").head).toSeq.sortBy(_._1).map {
      case (root, fl) => scan(Some(s"$path/$root"), fl.map(resolveRef(path, _))) })
  }

  /** Mapping-aware file scan: on a column-mapped table the files hold
    * PHYSICAL names, so the scan applies the physical schema and then
    * projects every field back to its logical name — one `select` on
    * top of the plan, constant-folded into the scan by Catalyst (column
    * pruning and filter pushdown still reach parquet under the physical
    * names). Unmapped tables pass straight through.
    */
  private def readFilesMapped(spark: SparkSession, path: String,
                              st: TableState,
                              files: Seq[String],
                              fileName: Boolean = false): DataFrame =
    if (!st.mapped) readFilesOf(spark, path, st.schema, files, fileName)
    else {
      import org.apache.spark.sql.functions.col
      val logical = st.schema.getOrElse(throw new IllegalStateException(
        s"column-mapped table $path has no committed schema"))
      val physSchema = StructType(
        logical.fields.map(f => f.copy(name = st.phys(f.name))))
      readFilesOf(spark, path, Some(physSchema), files, fileName)
        .select(logical.fields.map(f =>
          col(st.phys(f.name)).as(f.name)).toSeq ++
          Seq(col(FileNameCol)).filter(_ => fileName): _*)
    }

  /** State-aware read: the resolved file list, with the live deletion
    * vectors anti-joined away (see [[liveRows]]).
    */
  private def readStateDf(spark: SparkSession, path: String,
                          st: TableState): DataFrame =
    if (st.dvFiles.isEmpty) readFilesMapped(spark, path, st, st.files)
    else liveRows(spark, path, st).drop(FileNameCol)

  // ------------------------------------------------------------------
  // Deletion vectors, resolved on the driver
  // ------------------------------------------------------------------

  /** Each scanned row's data-file name, from Spark's `_metadata.file_name`
    * — the URL-encoded basename, the same string `input_file_name`'s
    * last segment gives and the form every sidecar records. */
  private val FileNameCol = "_graft_dv_f"

  /** Row budget of the driver-side deletion-vector cache, and the size
    * past which a read's vectors stay distributed. Sparse-delete
    * sidecars hold a handful of rows each, so the live vectors of many
    * tables fit in a few MB of driver heap; a bulk sidecar past the
    * budget is read by Spark as a broadcast, as it always was. */
  private val DvCacheRows: Long = 1L << 17

  /** A cached sidecar. Identity is its path plus mtime/len, as
    * [[CacheKey]] does for states, so a table deleted and re-created at
    * the same path misses; the key schema is part of it because the
    * rows are decoded under the table's key types. */
  private final case class DvCacheKey(file: String, sig: Long,
                                      schema: StructType)
  /** A sidecar's row count, and its rows when it fits the budget. */
  private final case class DvRows(count: Long, rows: Option[Array[Row]])
  /** Loaded vector entries: the sidecar schema and the rows held on the
    * driver (Left), or a distributed read of the sidecars (Right). */
  private type DvSide = Either[(StructType, Seq[Row]), DataFrame]
  private val dvCache =
    new java.util.LinkedHashMap[DvCacheKey, DvRows](16, 0.75f, true)
  private var dvCacheHeld = 0L // rows held by dvCache, guarded by it
  private def dvCacheGet(k: DvCacheKey): Option[DvRows] =
    dvCache.synchronized(Option(dvCache.get(k)))
  private def dvCachePut(k: DvCacheKey, e: DvRows): Unit =
    dvCache.synchronized {
      def held(d: DvRows): Long = d.rows.fold(0L)(_.length.toLong)
      Option(dvCache.put(k, e)).foreach(old => dvCacheHeld -= held(old))
      dvCacheHeld += held(e)
      // access order: the eldest entries evict first
      val it = dvCache.values().iterator()
      while ((dvCacheHeld > DvCacheRows || dvCache.size > 4096) && it.hasNext) {
        dvCacheHeld -= held(it.next())
        it.remove()
      }
    }

  /** Explicit sidecar schema of a vector keyed on the physical `keys`:
    * the file name, then one column per key typed from the recorded
    * table schema. None on a table without one. */
  private def dvSchema(st: TableState, keys: Seq[String]): Option[StructType] =
    st.schema.flatMap { s =>
      val types = keys.map(k => s.fields.find(_.name == st.logical(k)))
      if (types.exists(_.isEmpty)) None
      else Some(StructType(
        StructField("_graft_dv_file", StringType) +:
          dvKeyColNames(keys.size).zip(types.flatten).map { case (n, fd) =>
            StructField(n, fd.dataType) }))
    }

  /** The deletion-vector loader, the one way any path reads sidecars:
    * the entries of `sidecars` (a vector keyed on the comma-joined
    * physical `dvKey`). Left — every sidecar fits the row budget: the
    * rows come from the LRU, and the misses are read in ONE
    * explicit-schema job. Right — some sidecar (or the sum) is past the
    * budget, or the table records no schema: the distributed read. The
    * choice depends only on the sidecars' own row counts (parquet
    * footers, read once per sidecar).
    */
  private def dvEntries(spark: SparkSession, path: String, st: TableState,
                        sidecars: Seq[String], dvKey: String): DvSide = {
    val paths = sidecars.map(resolveRef(path, _))
    dvSchema(st, dvKey.split(",").toSeq) match {
      case None => Right(spark.read.parquet(paths: _*))
      case Some(schema) =>
        val f = fs(spark, path)
        val stats = paths.map(p => f.getFileStatus(new Path(p)))
        val keys = stats.map(s => DvCacheKey(s.getPath.toString,
          s.getModificationTime * 31L + s.getLen, schema))
        val hits = keys.map(dvCacheGet)
        val counts = stats.zip(hits).map { case (s, hit) =>
          hit.fold(parquetRowCount(spark, s))(_.count) }
        if (counts.sum > DvCacheRows) {
          keys.zip(counts).zip(hits).foreach { case ((k, n), hit) =>
            if (hit.isEmpty && n > DvCacheRows) dvCachePut(k, DvRows(n, None))
          }
          Right(spark.read.schema(schema).parquet(paths: _*))
        } else {
          val missing = hits.indices.filter(hits(_).isEmpty)
          val loaded = missing.zip(loadSidecars(spark, schema, missing.map(paths))).toMap
          loaded.foreach { case (i, rows) =>
            dvCachePut(keys(i), DvRows(counts(i), Some(rows))) }
          Left((schema, hits.indices.flatMap(i =>
            hits(i).flatMap(_.rows).getOrElse(loaded(i)).toSeq)))
        }
    }
  }

  /** Rows of each of `sidecars` (none → no job), read in ONE job under
    * the explicit `schema`; equal file names share one string (a
    * sidecar repeats its data file's name once per killed row). */
  private def loadSidecars(spark: SparkSession, schema: StructType,
                           sidecars: Seq[String]): Seq[Array[Row]] =
    if (sidecars.isEmpty) Nil
    else {
      import org.apache.spark.sql.functions.lit
      val byIdx = sidecars.zipWithIndex.map { case (p, i) =>
        spark.read.schema(schema).parquet(p).withColumn("_graft_dv_i", lit(i))
      }.reduce(_ unionByName _).collect().groupBy(_.getInt(schema.size))
      val names = scala.collection.mutable.HashMap.empty[String, String]
      sidecars.indices.map(i => byIdx.getOrElse(i, Array.empty[Row]).map { r =>
        val n = r.getString(0)
        Row.fromSeq(names.getOrElseUpdate(n, n) +:
          (1 until schema.size).map(r.get))
      })
    }

  private def parquetRowCount(spark: SparkSession,
                              s: org.apache.hadoop.fs.FileStatus): Long = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(s,
        spark.sparkContext.hadoopConfiguration))
    try reader.getRecordCount finally reader.close()
  }

  /** A data-file ref's name as a scan reports it in [[FileNameCol]]. */
  private def dataFileName(path: String, ref: String): String =
    new Path(resolveRef(path, ref)).toUri.getRawPath.split('/').last

  /** `base`, carrying each row's data-file name in [[FileNameCol]],
    * joined `how` (`left_anti` drops the killed rows, `left_semi` keeps
    * only them) against `entries` of a vector keyed on the comma-joined
    * physical `dvKey`. Driver-resolved entries are first cut to the
    * files of `st` and join as a LOCAL relation: Catalyst folds the
    * query's key predicates into it, so a point lookup whose key no
    * vector names plans no join at all, and none is planned when no
    * entry names a scanned file. A distributed read joins as a
    * broadcast. Match is (file name, key) — part-file names carry a
    * writer UUID, so they identify a physical file for the table's
    * lifetime. Null-keyed base rows never match an entry (SQL join
    * semantics), so they are never deleted.
    */
  private def dvJoin(spark: SparkSession, path: String, st: TableState,
                     base: DataFrame, entries: DvSide,
                     dvKey: String, how: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    import scala.jdk.CollectionConverters._
    val dv = entries match {
      case Right(df) => Some(df)
      case Left((schema, rows)) =>
        val names = st.files.map(dataFileName(path, _)).toSet
        val mine = rows.filter(r => names(r.getString(0)))
        if (mine.isEmpty) None
        else Some(spark.createDataFrame(mine.asJava, schema))
    }
    dv match {
      case None => if (how == "left_anti") base else base.limit(0)
      case Some(d) =>
        // dvKey is recorded PHYSICAL (rename-safe; composite keys
        // comma-joined); the base frame is logical, so join under the
        // keys' current logical names — one conjunct per key column
        val keys = dvKey.split(",").toSeq
        val keyConds = keys.zip(dvKeyColNames(keys.size))
          .map { case (k, n) => base(st.logical(k)) === d(n) }
        base.join(broadcast(d),
          keyConds.foldLeft(base(FileNameCol) === d("_graft_dv_file"))(_ && _),
          how)
    }
  }

  /** `st`'s files with its live vectors anti-joined away, each row
    * keeping its data-file name in [[FileNameCol]]. */
  private def liveRows(spark: SparkSession, path: String,
                       st: TableState): DataFrame = {
    val base = readFilesMapped(spark, path, st, st.files, fileName = true)
    if (st.dvFiles.isEmpty) base
    else dvJoin(spark, path, st, base,
      dvEntries(spark, path, st, st.dvFiles, st.dvKey.get), st.dvKey.get,
      "left_anti")
  }

  /** The data files a committed version resolves to (table-relative). */
  def manifestFiles(spark: SparkSession, path: String, version: Long): Seq[String] =
    resolveState(spark, path, version).files

  /** Per-file column statistics a committed version resolves to. */
  def manifestStats(spark: SparkSession, path: String,
                    version: Long): Map[String, Map[String, ColStats]] =
    resolveState(spark, path, version).stats

  /** The schema a committed version records (absent on pre-schema
    * manifests → readers fall back to footer inference). */
  def manifestSchema(spark: SparkSession, path: String,
                     version: Long): Option[StructType] =
    resolveState(spark, path, version).schema

  /** The committed version carrying `tag`, if any — one cached state
    * resolution against the current version's carried tag map.
    */
  def committedVersionOfTag(spark: SparkSession, path: String,
                            tag: String): Option[Long] =
    currentVersion(spark, path)
      .flatMap(resolveState(spark, path, _).tags.get(tag))

  // ------------------------------------------------------------------
  // Data skipping
  // ------------------------------------------------------------------

  /** Only these key types prune on footer stats: parquet footers for
    * DECIMAL columns record UNSCALED integers while query-side bounds
    * are scaled BigDecimals — comparing them can wrongly prune a file
    * that contains matches (silent lost updates). Dates/strings have
    * collation/encoding hazards of their own. Everything else falls
    * through to the full candidate set — slower, never wrong.
    */
  private def statsPrunable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case FloatType | DoubleType                        => true
    case _                                             => false
  }

  private def partitionValuesOf(rel: String): Map[String, String] =
    rel.split("/").dropRight(1).filter(_.contains("=")).map { seg =>
      val i = seg.indexOf('=')
      seg.substring(0, i) -> seg.substring(i + 1)
    }.toMap

  private def partitionColsOf(files: Seq[String]): Seq[String] =
    files.headOption.map(_.split("/").dropRight(1).filter(_.contains("="))
      .map(_.takeWhile(_ != '=')).toSeq).getOrElse(Nil)

  /** Files of `st` whose recorded evidence (partition value, then
    * footer stats) can intersect [lo, hi] on `column`. Files without
    * complete evidence are kept — pruning must be sound, not complete.
    * `prunableType` gates the numeric comparisons (see
    * [[statsPrunable]]); partition values prune only when they parse
    * numerically.
    */
  private def pruneFilesByRange(st: TableState, column: String,
                                prunableType: Boolean,
                                lo: Double, hi: Double): Seq[String] =
    pruneFiles(st, column, prunableType)((min, max) => max >= lo && min <= hi)

  /** Files of `st` whose evidence on `column` can hold at least one of
    * `points` (an IN list): one binary search per file. */
  private def pruneFilesByPoints(st: TableState, column: String,
                                 points: Seq[Double]): Seq[String] = {
    val ps = points.sorted.toArray
    pruneFiles(st, column, prunableType = true) { (min, max) =>
      val i = java.util.Arrays.binarySearch(ps, min)
      val first = if (i >= 0) i else -i - 1
      first < ps.length && ps(first) <= max
    }
  }

  /** Files of `st` whose [min, max] evidence on `column` (a partition
    * value reads as [v, v]) `mayHold` accepts; files without complete
    * evidence are kept. */
  private def pruneFiles(st: TableState, column: String,
                         prunableType: Boolean)
                        (mayHold: (Double, Double) => Boolean): Seq[String] =
    if (!prunableType) st.files
    else {
      // stats (and partition dirs) carry PHYSICAL names; `column` is
      // logical — identity on unmapped tables
      val physCol = st.phys(column)
      val isPart = partitionColsOf(st.files).contains(physCol)
      st.files.filter { file =>
        val pOk = if (!isPart) true
        else partitionValuesOf(file).get(physCol) match {
          case Some(v) => v.toDoubleOption.forall(d => mayHold(d, d))
          case None    => true
        }
        val sOk = st.stats.get(file).flatMap(_.get(physCol)) match {
          case Some(s) if s.complete && s.typ != "string" =>
            mayHold(s.min.toString.toDouble, s.max.toString.toDouble)
          case _ => true
        }
        pOk && sOk
      }
    }

  private def prunableColumn(st: TableState, column: String): Boolean =
    st.schema match {
      case Some(s) => s.fields.find(_.name == column)
        .map(f => statsPrunable(f.dataType)).getOrElse(true)
      case None => true // legacy table without recorded schema
    }

  /** Data-skipping read: the current version restricted to files whose
    * recorded partition value / [min, max] stats for `column` intersect
    * [lower, upper] — the observable half of Delta's stats-based file
    * pruning. The caller still applies its own row-level filter; this
    * only shrinks the file list the scan touches — on a clustered or
    * partitioned table that is the 100 TB "read 4 files, not 4000" win.
    * Decimal/string/date columns never prune (see [[statsPrunable]]).
    */
  def readNumericRange(spark: SparkSession, path: String, column: String,
                       lower: Double, upper: Double): DataFrame = {
    val version = currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val st = resolveState(spark, path, version)
    require(st.files.nonEmpty, s"version $version at $path has no data files")
    val keep = pruneFilesByRange(st, column, prunableColumn(st, column),
      lower, upper)
    if (keep.isEmpty) readStateDf(spark, path, st).limit(0)
    else readStateDf(spark, path, st.copy(files = keep))
  }

  /** How many files [[readNumericRange]] would touch vs the total —
    * the pruning diagnostic the spec asserts on.
    */
  def pruneCount(spark: SparkSession, path: String, column: String,
                 lower: Double, upper: Double): (Int, Int) = {
    val version = currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val st = resolveState(spark, path, version)
    (pruneFilesByRange(st, column, prunableColumn(st, column),
      lower, upper).size, st.files.size)
  }

  // ------------------------------------------------------------------
  // Footer statistics (write-side index build)
  // ------------------------------------------------------------------

  /** Per-file min/max/null-count for `statsCols`, read from the parquet
    * FOOTER row-group metadata — metadata-only, no data pages touched
    * (what Delta collects during the write itself; reading footers of
    * just-written files is the library-level equivalent, O(row groups)
    * regardless of data size). Columns with unsupported physical types
    * (int96, fixed binary) or with any stats-less row group are marked
    * incomplete and never prune. DECIMAL footers surface as unscaled
    * integers — recorded as-is, and excluded from pruning by
    * [[statsPrunable]] on the read/merge side.
    */
  private def footerStats(spark: SparkSession, file: Path,
                          statsCols: Seq[String]): Map[String, ColStats] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import scala.jdk.CollectionConverters._
    val want = statsCols.toSet
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    try {
      val acc = scala.collection.mutable.Map.empty[String, ColStats]
      for (block <- reader.getFooter.getBlocks.asScala;
           col <- block.getColumns.asScala) {
        val name = col.getPath.toDotString
        if (want.contains(name)) {
          val st = col.getStatistics
          val prev = acc.get(name)
          def widen(v: Any): Option[(String, Any)] = v match {
            case l: java.lang.Long    => Some(("long", l.longValue()))
            case i: java.lang.Integer => Some(("long", i.longValue()))
            case d: java.lang.Double  => Some(("double", d.doubleValue()))
            case fl: java.lang.Float  => Some(("double", fl.doubleValue()))
            case b: Binary            => Some(("string", b.toStringUsingUTF8))
            case _                    => None
          }
          val rg: Option[ColStats] =
            if (st == null || !st.hasNonNullValue) None
            else for {
              (t1, mn) <- widen(st.genericGetMin)
              (_, mx)  <- widen(st.genericGetMax)
            } yield ColStats(t1, mn, mx, st.getNumNulls, complete = true)
          val merged = (prev, rg) match {
            case (None, Some(s)) => s
            case (Some(p), Some(s)) if p.complete && p.typ == s.typ =>
              ColStats(p.typ, minOf(p.typ, p.min, s.min),
                maxOf(p.typ, p.max, s.max), p.nulls + s.nulls, complete = true)
            case (Some(p), _) => p.copy(complete = false)
            case (None, None) =>
              ColStats("long", 0L, 0L, 0L, complete = false)
          }
          acc += name -> merged
        }
      }
      acc.toMap
    } finally reader.close()
  }

  /** Per-file footer stats for a whole STAGED file set, keyed by
    * table-relative ref. The footer reads are independent driver-side
    * I/O (one open + footer parse per file), so they fan out across the
    * shared bounded [[footerPool]] instead of running serially (optimization
    * round 20) — a few ms per local commit, and on a remote object
    * store a many-file rewrite's O(files) round-trip CHAIN becomes
    * O(files / pool). Values identical to the serial loop. */
  private def stagedFooterStats(spark: SparkSession, path: String,
                                staged: Seq[Path], cols: Seq[String])
      : Map[String, Map[String, ColStats]] =
    if (cols.isEmpty || staged.isEmpty) Map.empty
    else if (staged.size == 1)
      Map(relativize(new Path(path), staged.head) ->
        footerStats(spark, staged.head, cols))
    else {
      import scala.jdk.CollectionConverters._
      val tasks: Seq[java.util.concurrent.Callable[(String, Map[String, ColStats])]] =
        staged.map { p =>
          () => relativize(new Path(path), p) -> footerStats(spark, p, cols)
        }
      footerPool.invokeAll(tasks.asJava).asScala.map { f =>
        // surface the footer reader's own exception, not the pool's
        // ExecutionException wrapper — same failure type as the
        // single-file path
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      }.toMap
    }

  /** The footer-read pool every commit shares: created on first use, at
    * most 8 daemon threads, each retired after 30 s idle — no per-commit
    * pool churn, and nothing left to keep the JVM alive. */
  private lazy val footerPool: java.util.concurrent.ExecutorService = {
    val pool = new java.util.concurrent.ThreadPoolExecutor(8, 8, 30L,
      java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, "graft-footer-stats")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  private def minOf(typ: String, a: Any, b: Any): Any = typ match {
    case "long"   => math.min(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case "double" => math.min(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case _        => if (a.asInstanceOf[String] <= b.asInstanceOf[String]) a else b
  }

  private def maxOf(typ: String, a: Any, b: Any): Any = typ match {
    case "long"   => math.max(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case "double" => math.max(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case _        => if (a.asInstanceOf[String] >= b.asInstanceOf[String]) a else b
  }

  /** Additive schema evolution: previous columns keep their position
    * and type; columns new in `incoming` append at the end. A shared
    * name with a DIFFERENT type is rejected — silent coercion is how
    * tables corrupt.
    */
  /** Lossless WIDENING promotions an append may introduce (Delta 3.x
    * type widening): the committed schema takes the wider type and OLD
    * files read up through Spark 4's parquet type-widening reads
    * (int32→int64, float→double etc. inside the vectorized reader), so
    * no historical byte rewrites. The reverse direction (a NARROWER
    * batch into a widened column) also lands: the staged file keeps its
    * narrow physical type and reads up under the committed schema.
    */
  private[pipeline] def widens(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)            => true
      case (IntegerType, LongType)                        => true
      case (FloatType, DoubleType)                        => true
      case _                                              => false
    }

  private[pipeline] def evolve(prev: StructType,
                               incoming: StructType): StructType = {
    val byName = incoming.fields.map(f => f.name -> f).toMap
    val prevNames = prev.fieldNames.toSet
    val merged = prev.fields.map { p =>
      byName.get(p.name) match {
        case Some(f) if p.dataType == f.dataType        => p
        case Some(f) if widens(p.dataType, f.dataType)  =>
          p.copy(dataType = f.dataType) // widen the committed schema
        case Some(f) if widens(f.dataType, p.dataType)  => p // batch reads up
        case Some(f) => throw new IllegalArgumentException(
          s"append changes type of '${p.name}': ${p.dataType} -> " +
            s"${f.dataType} (only lossless widenings evolve)")
        case None => p
      }
    }
    StructType(
      merged ++ incoming.fields.filterNot(f => prevNames.contains(f.name)))
  }

  // ------------------------------------------------------------------
  // Log entry / checkpoint serialization
  // ------------------------------------------------------------------

  private def putStats(root: com.fasterxml.jackson.databind.node.ObjectNode,
                       stats: Map[String, Map[String, ColStats]]): Unit =
    if (stats.nonEmpty) {
      val statsNode = root.putObject("stats")
      for ((file, cols) <- stats.toSeq.sortBy(_._1)) {
        val fileNode = statsNode.putObject(file)
        for ((c, s) <- cols.toSeq.sortBy(_._1)) {
          val n = fileNode.putObject(c)
          n.put("type", s.typ)
          s.typ match {
            case "long" =>
              n.put("min", s.min.asInstanceOf[Long])
              n.put("max", s.max.asInstanceOf[Long])
            case "double" =>
              n.put("min", s.min.asInstanceOf[Double])
              n.put("max", s.max.asInstanceOf[Double])
            case _ =>
              n.put("min", s.min.toString)
              n.put("max", s.max.toString)
          }
          n.put("nulls", s.nulls)
          n.put("complete", s.complete)
        }
      }
    }

  /** One O(Δ) commit-log entry: only this commit's adds/removes (+
    * their stats, the commit's own tag and horizon, the schema — small,
    * O(columns)). Never the table's file list.
    */
  private def deltaJson(version: Long, ts: Long,
                        adds: Seq[String] = Nil, removes: Seq[String] = Nil,
                        addStats: Map[String, Map[String, ColStats]] = Map.empty,
                        tag: Option[String] = None,
                        tagHorizon: Int = DefaultTagHorizon,
                        schema: Option[StructType] = None,
                        dvAdds: Seq[String] = Nil,
                        dvRemoves: Seq[String] = Nil,
                        dvKey: Option[String] = None,
                        mergeKey: Option[String] = None,
                        constraintAdds: Map[String, String] = Map.empty,
                        constraintRemoves: Seq[String] = Nil,
                        bloomAdds: Seq[String] = Nil,
                        bloomRemoves: Seq[String] = Nil,
                        bloomSpec: Option[BloomSpec] = None,
                        mapping: Option[Map[String, String]] = None,
                        maxColId: Option[Long] = None,
                        generatedAdds: Map[String, String] = Map.empty,
                        generatedRemoves: Seq[String] = Nil,
                        ndvCols: Option[Seq[String]] = None,
                        ndvAdds: Seq[String] = Nil,
                        ndvRemoves: Seq[String] = Nil,
                        op: Option[String] = None,
                        protocol: Option[(Int, Int)] = None,
                        rowTracking: Option[Boolean] = None,
                        rowHighWater: Option[Long] = None,
                        statsSchema: Option[Seq[String]] = None,
                        clusterCols: Option[Seq[String]] = None,
                        clusteredAdds: Seq[String] = Nil,
                        clusteredRemoves: Seq[String] = Nil,
                        identity: Option[(String, Long)] = None,
                        identityHighWater: Option[Long] = None,
                        partitionColsDecl: Option[Seq[String]] = None,
                        copyAdds: Seq[String] = Nil,
                        copyRemoves: Seq[String] = Nil,
                        txn: Option[(String, Long)] = None,
                        properties: Option[Map[String, String]] = None,
                        defaultAdds: Map[String, String] = Map.empty,
                        defaultRemoves: Seq[String] = Nil,
                        expectationAdds: Map[String, String] = Map.empty,
                        expectationRemoves: Seq[String] = Nil,
                        expectMetrics: Map[String, (Long, Long)] = Map.empty)
      : String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("version", version)
    root.put("ts", ts)
    op.foreach(root.put("op", _))
    protocol.foreach { case (r, w) =>
      root.put("minReader", r); root.put("minWriter", w): Unit }
    rowTracking.foreach(root.put("rowTracking", _))
    rowHighWater.foreach(root.put("rowHighWater", _))
    identity.foreach { case (c, step) =>
      root.put("identityCol", c); root.put("identityStep", step): Unit }
    identityHighWater.foreach(root.put("identityHighWater", _))
    partitionColsDecl.foreach { cols =>
      val a = root.putArray("partitionColsDecl"); cols.foreach(a.add)
    }
    properties.foreach { props =>
      val p = root.putObject("properties")
      props.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v): Unit }
    }
    statsSchema.foreach { cols =>
      val a = root.putArray("statsSchema"); cols.foreach(a.add)
    }
    clusterCols.foreach { cols =>
      val a = root.putArray("clusterCols"); cols.foreach(a.add)
    }
    if (clusteredAdds.nonEmpty) {
      val a = root.putArray("clusteredAdds"); clusteredAdds.foreach(a.add)
    }
    if (clusteredRemoves.nonEmpty) {
      val a = root.putArray("clusteredRemoves")
      clusteredRemoves.foreach(a.add)
    }
    tag.foreach(root.put("tag", _))
    if (tag.isDefined || tagHorizon != DefaultTagHorizon)
      root.put("tagHorizon", tagHorizon)
    schema.foreach(s => root.put("schema", s.json))
    dvKey.foreach(root.put("dvKey", _))
    // not part of resolved state — read only by the change feed to
    // classify this version's rewrites as row-level UPDATEs
    mergeKey.foreach(root.put("mergeKey", _))
    val addArr = root.putArray("adds"); adds.foreach(addArr.add)
    val remArr = root.putArray("removes"); removes.foreach(remArr.add)
    if (dvAdds.nonEmpty) { val a = root.putArray("dvAdds"); dvAdds.foreach(a.add) }
    if (dvRemoves.nonEmpty) { val a = root.putArray("dvRemoves"); dvRemoves.foreach(a.add) }
    if (constraintAdds.nonEmpty) {
      val c = root.putObject("constraintAdds")
      constraintAdds.toSeq.sortBy(_._1).foreach { case (k, v) => c.put(k, v) }
    }
    if (constraintRemoves.nonEmpty) {
      val c = root.putArray("constraintRemoves"); constraintRemoves.foreach(c.add)
    }
    if (defaultAdds.nonEmpty) {
      val d = root.putObject("defaultAdds")
      defaultAdds.toSeq.sortBy(_._1).foreach { case (k, v) => d.put(k, v) }
    }
    if (defaultRemoves.nonEmpty) {
      val d = root.putArray("defaultRemoves"); defaultRemoves.foreach(d.add)
    }
    if (expectationAdds.nonEmpty) {
      val e = root.putObject("expectationAdds")
      expectationAdds.toSeq.sortBy(_._1).foreach { case (k, v) => e.put(k, v) }
    }
    if (expectationRemoves.nonEmpty) {
      val e = root.putArray("expectationRemoves")
      expectationRemoves.foreach(e.add)
    }
    // per-rule violation/pass counts of THIS commit's gated batch —
    // DLT's event-log expectation metrics, readable via DESCRIBE
    // HISTORY. Not part of resolved state (pure audit record).
    if (expectMetrics.nonEmpty) {
      val e = root.putObject("expectMetrics")
      expectMetrics.toSeq.sortBy(_._1).foreach { case (k, (v, p)) =>
        val o = e.putObject(k); o.put("violated", v); o.put("passed", p)
      }
    }
    if (bloomAdds.nonEmpty) {
      val a = root.putArray("bloomAdds"); bloomAdds.foreach(a.add)
    }
    if (bloomRemoves.nonEmpty) {
      val a = root.putArray("bloomRemoves"); bloomRemoves.foreach(a.add)
    }
    bloomSpec.foreach { bs =>
      val a = root.putArray("bloomCols"); bs.cols.foreach(a.add)
      root.put("bloomItems", bs.items)
      root.put("bloomFpp", bs.fpp)
    }
    mapping.foreach { m =>
      val o = root.putObject("mapping")
      m.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
    }
    maxColId.foreach(root.put("maxColId", _))
    if (generatedAdds.nonEmpty) {
      val g = root.putObject("generatedAdds")
      generatedAdds.toSeq.sortBy(_._1).foreach { case (k, v) => g.put(k, v) }
    }
    if (generatedRemoves.nonEmpty) {
      val g = root.putArray("generatedRemoves"); generatedRemoves.foreach(g.add)
    }
    ndvCols.foreach { cs =>
      val a = root.putArray("ndvCols"); cs.foreach(a.add)
    }
    if (ndvAdds.nonEmpty) {
      val a = root.putArray("ndvAdds"); ndvAdds.foreach(a.add)
    }
    if (ndvRemoves.nonEmpty) {
      val a = root.putArray("ndvRemoves"); ndvRemoves.foreach(a.add)
    }
    if (copyAdds.nonEmpty) {
      val a = root.putArray("copyAdds"); copyAdds.foreach(a.add)
    }
    if (copyRemoves.nonEmpty) {
      val a = root.putArray("copyRemoves"); copyRemoves.foreach(a.add)
    }
    txn.foreach { case (app, ver) =>
      root.put("txnApp", app); root.put("txnVer", ver): Unit }
    putStats(root, addStats)
    mapper.writeValueAsString(root)
  }

  private def checkpointJson(st: TableState): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("version", st.version)
    root.put("ts", st.ts)
    st.schema.foreach(s => root.put("schema", s.json))
    st.dvKey.foreach(root.put("dvKey", _))
    val tagsNode = root.putObject("tags")
    st.tags.toSeq.sortBy(_._1).foreach { case (k, v) => tagsNode.put(k, v) }
    val arr = root.putArray("files"); st.files.foreach(arr.add)
    if (st.dvFiles.nonEmpty) {
      val a = root.putArray("dvFiles"); st.dvFiles.foreach(a.add)
    }
    if (st.constraints.nonEmpty) {
      val c = root.putObject("constraints")
      st.constraints.toSeq.sortBy(_._1).foreach { case (k, v) => c.put(k, v) }
    }
    st.bloom.foreach { bs =>
      val a = root.putArray("bloomCols"); bs.cols.foreach(a.add)
      root.put("bloomItems", bs.items)
      root.put("bloomFpp", bs.fpp)
    }
    if (st.bloomFiles.nonEmpty) {
      val a = root.putArray("bloomFiles"); st.bloomFiles.foreach(a.add)
    }
    if (st.mapped) {
      val o = root.putObject("mapping")
      st.mapping.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
      root.put("maxColId", st.maxColId)
    }
    if (st.generated.nonEmpty) {
      val g = root.putObject("generated")
      st.generated.toSeq.sortBy(_._1).foreach { case (k, v) => g.put(k, v) }
    }
    if (st.ndvCols.nonEmpty) {
      val a = root.putArray("ndvCols"); st.ndvCols.foreach(a.add)
    }
    if (st.ndvFiles.nonEmpty) {
      val a = root.putArray("ndvFiles"); st.ndvFiles.foreach(a.add)
    }
    if (st.minReader > 1 || st.minWriter > 1) {
      root.put("minReader", st.minReader)
      root.put("minWriter", st.minWriter): Unit
    }
    if (st.rowTracking) {
      root.put("rowTracking", true)
      root.put("rowHighWater", st.rowHighWater): Unit
    }
    if (st.statsSchemaCols.nonEmpty) {
      val a = root.putArray("statsSchema"); st.statsSchemaCols.foreach(a.add)
    }
    if (st.clusterCols.nonEmpty) {
      val a = root.putArray("clusterCols"); st.clusterCols.foreach(a.add)
    }
    if (st.clusteredFiles.nonEmpty) {
      val a = root.putArray("clusteredFiles"); st.clusteredFiles.foreach(a.add)
    }
    st.identityCol.foreach { c =>
      root.put("identityCol", c)
      root.put("identityStep", st.identityStep)
      root.put("identityHighWater", st.identityHighWater): Unit
    }
    if (st.partitionColsDecl.nonEmpty) {
      val a = root.putArray("partitionColsDecl")
      st.partitionColsDecl.foreach(a.add)
    }
    if (st.copyFiles.nonEmpty) {
      val a = root.putArray("copyFiles"); st.copyFiles.foreach(a.add)
    }
    if (st.txns.nonEmpty) {
      val t = root.putObject("txns")
      st.txns.toSeq.sortBy(_._1).foreach { case (k, v) => t.put(k, v) }
    }
    if (st.properties.nonEmpty) {
      val p = root.putObject("properties")
      st.properties.toSeq.sortBy(_._1)
        .foreach { case (k, v) => p.put(k, v): Unit }
    }
    if (st.defaults.nonEmpty) {
      val d = root.putObject("defaults")
      st.defaults.toSeq.sortBy(_._1)
        .foreach { case (k, v) => d.put(k, v): Unit }
    }
    if (st.expectations.nonEmpty) {
      val e = root.putObject("expectations")
      st.expectations.toSeq.sortBy(_._1)
        .foreach { case (k, v) => e.put(k, v): Unit }
    }
    putStats(root, st.stats)
    mapper.writeValueAsString(root)
  }

  /** Publish a checkpoint for `st` (advisory — a reader losing it just
    * replays more deltas). Only the committer of a version writes its
    * checkpoint, so there is no publish race; an already-present file
    * wins.
    */
  private def writeCheckpoint(spark: SparkSession, path: String,
                              st: TableState): Unit = {
    val f = fs(spark, path)
    val dst = checkpointPath(path, st.version)
    if (!f.exists(dst)) publish(f, dst, newToken(), checkpointJson(st))
  }

  private def maybeCheckpoint(spark: SparkSession, path: String,
                              version: Long): Unit =
    if (version % CheckpointInterval == 0)
      writeCheckpoint(spark, path, resolveState(spark, path, version))

  // ------------------------------------------------------------------
  // Write / append
  // ------------------------------------------------------------------

  /** Write `df` as the table's next version and commit it. Returns the
    * committed version number. The snapshot directory is written first
    * (under a writer-unique token so racing writers never cross-clobber);
    * the manifest publish is the last — and only observable — step, and
    * it is CONDITIONAL: losing a commit race is detected, the orphaned
    * attempt dropped, and the write re-staged under the next version
    * (optimistic concurrency, bounded by `maxAttempts`). The committed
    * log entry removes every previous file (overwrite) but is still
    * O(previous files) only in NAMES — stats are never re-serialized.
    */
  def write(df: DataFrame, path: String,
            partitionCols: Seq[String] = Nil, maxAttempts: Int = 3,
            statsCols: Seq[String] = Nil, tag: Option[String] = None,
            tagHorizon: Int = DefaultTagHorizon,
            partitionColsDecl: Seq[String] = Nil,
            txn: Option[(String, Long)] = None,
            generatedAdds: Map[String, String] = Map.empty,
            propertiesFull: Option[Map[String, String]] = None,
            statsSchemaDecl: Option[Seq[String]] = None): Long =
    transact(df.sparkSession, path, "manifest", maxAttempts, None)(
      writeAttempt(_, df, partitionCols, statsCols, carryForward = false,
        tag = tag, tagHorizon = tagHorizon,
        partitionColsDecl = partitionColsDecl, txn = txn,
        generatedAdds = generatedAdds, propertiesFull = propertiesFull,
        statsSchemaDecl = statsSchemaDecl))

  /** Transactional APPEND: commit a log entry adding this batch's files
    * — O(new files) bytes, regardless of table size. Data files of
    * previous versions are never touched; an appender dying mid-stage
    * is invisible. An optional `tag` (e.g. a streaming batch id) is
    * recorded for [[appendIdempotent]].
    */
  def append(df: DataFrame, path: String,
             partitionCols: Seq[String] = Nil, maxAttempts: Int = 3,
             statsCols: Seq[String] = Nil, tag: Option[String] = None,
             tagHorizon: Int = DefaultTagHorizon,
             txn: Option[(String, Long)] = None): Long = {
    requireFlatAppend(partitionCols)
    transact(df.sparkSession, path, "manifest", maxAttempts, None)(
      writeAttempt(_, df, partitionCols, statsCols, carryForward = true,
        tag = tag, tagHorizon = tagHorizon, txn = txn))
  }

  private def requireFlatAppend(partitionCols: Seq[String]): Unit =
    require(partitionCols.isEmpty,
      "append is unpartitioned by contract: a partitioned append would mix " +
        "k=v and flat snapshot layouts under one basePath, which Spark's " +
        "partition discovery rejects at read time")

  /** The last committed writer-transaction version for `appId`
    * (Delta's `txnVersion(appId)` — the resume point an idempotent
    * writer reads before producing its next batch). */
  def txnVersion(spark: SparkSession, path: String,
                 appId: String): Option[Long] =
    currentVersion(spark, path)
      .flatMap(resolveState(spark, path, _).txns.get(appId))

  /** Bytes of data files a committed version ADDED (its own log
    * entry's adds — driver metadata + one FileStatus per added file,
    * never a data read). The byte-budget admission control of the
    * table-feed source sizes micro-batches with this. A swept or
    * missing file counts 0. */
  def versionAddedBytes(spark: SparkSession, path: String,
                        version: Long): Long = {
    val f = fs(spark, path)
    readNodeIfExists(f, manifestPath(path, version)) match {
      case None => 0L
      case Some(n) => strArr(n, "adds").map { r =>
        try f.getFileStatus(new Path(resolveRef(path, r))).getLen
        catch { case NonFatal(_) => 0L }
      }.sum
    }
  }

  /** Count of data files a committed version ADDED (its own log
    * entry's adds — pure driver metadata, not even a FileStatus). The
    * file-count admission control of the table-feed source sizes
    * micro-batches with this. A vacuumed manifest counts 0. */
  def versionAddedFileCount(spark: SparkSession, path: String,
                            version: Long): Int =
    readNodeIfExists(fs(spark, path), manifestPath(path, version))
      .map(strArr(_, "adds").size).getOrElse(0)

  /** True when a committed version only ADDED data (no file removes,
    * no deletion-vector adds) — the commits `skipChangeCommits`
    * delivers; rewrite/delete/merge commits are the ones it skips
    * (Delta's streaming-source contract for append-only consumers).
    * Driver metadata only. A vacuumed manifest reports append-only:
    * it is older than any live subscription can replay anyway. */
  def versionIsAppendOnly(spark: SparkSession, path: String,
                          version: Long): Boolean =
    readNodeIfExists(fs(spark, path), manifestPath(path, version))
      .forall(n => strArr(n, "removes").isEmpty &&
        strArr(n, "dvAdds").isEmpty)

  /** Idempotent tagged append for exactly-once sinks: if the table has
    * ever committed `tag` (within the tag horizon), the call is a no-op
    * returning that version. Replay protection SURVIVES [[vacuum]]: the
    * tag map rides the resolved state (carried into every checkpoint),
    * so dropping old manifests never forgets a live tag. The tag is
    * checked inside [[transact]] on every attempt, so replays are safe
    * under races too: an append that loses its race to a replay of the
    * same tag returns that replay's version instead of appending again.
    */
  def appendIdempotent(df: DataFrame, path: String, tag: String,
                       partitionCols: Seq[String] = Nil,
                       statsCols: Seq[String] = Nil,
                       maxAttempts: Int = 3,
                       tagHorizon: Int = DefaultTagHorizon): Long = {
    requireFlatAppend(partitionCols)
    transact(df.sparkSession, path, "manifest", maxAttempts, None,
        replayTag = Some(tag))(
      writeAttempt(_, df, partitionCols, statsCols, carryForward = true,
        tag = Some(tag), tagHorizon = tagHorizon))
  }

  /** COPY INTO (Databricks/Delta's idempotent FILE-level ingest): load
    * every file under `sourceDir` matching `pattern` that the table
    * has NOT ingested before, as ONE append commit; re-runs skip
    * already-loaded files — landing the same dump twice, or a dump
    * that grew between runs, can never double-ingest a file. Returns
    * (committed version, files ingested this run); zero new files =
    * no commit.
    *
    * The ingested-file ledger ([[TableState.copyFiles]]) rides the
    * commit itself — ATOMIC with the data (a crash between "load" and
    * "remember" cannot exist) — and folds into every checkpoint, so
    * idempotency survives [[vacuum]]ed manifests. [[restore]] rolls
    * the ledger back WITH the state: restoring to before an ingest
    * forgets it, so re-running the COPY re-ingests rather than
    * silently losing the files. At 100 TB the per-run cost is
    * O(new files) staging + one driver ledger diff — nothing scales
    * with the table or with the history of past ingests beyond the
    * ledger's own names.
    *
    * Source columns align to the table schema BY NAME with casts
    * (Delta's rule); columns the table lacks are refused, table
    * columns the source lacks read as NULL through schema-on-read
    * (generated/identity columns are computed as on any append).
    * Formats: parquet, csv (header), jsonl.
    */
  def copyInto(spark: SparkSession, path: String, sourceDir: String,
               format: String = "parquet", pattern: String = "*",
               maxAttempts: Int = 3): (Long, Int) = {
    val fmt = format.toLowerCase
    require(Set("parquet", "csv", "json").contains(fmt),
      s"COPY INTO supports parquet/csv/json, got '$format'")
    val srcFs = fs(spark, sourceDir)
    val listed = Option(srcFs.globStatus(new Path(sourceDir, pattern)))
      .getOrElse(Array.empty[org.apache.hadoop.fs.FileStatus])
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(s => externalRef(srcFs, s.getPath)).sorted.toSeq
    // the ledger diff runs inside the attempt: a race lost to another
    // COPY of overlapping files re-diffs against the winner's ledger
    var ingested = 0
    val v = transact(spark, path, "COPY INTO", maxAttempts, Some(
        s"COPY INTO needs a committed table at $path — declare it " +
          "first (CREATE TABLE schema DDL or an initial write)")) { t =>
      val newFiles = listed.filterNot(t.st.copyFiles.toSet)
      ingested = newFiles.length
      if (newFiles.isEmpty) Done(t.base)
      else {
        val reader = fmt match {
          case "parquet" => spark.read.parquet(newFiles: _*)
          case "csv" => spark.read.option("header", "true")
            .option("inferSchema", "true").csv(newFiles: _*)
          case "json" => spark.read.json(newFiles: _*)
        }
        val schema = t.st.schema.getOrElse(readStateDf(spark, path, t.st).schema)
        val extra = reader.columns.filterNot(schema.fieldNames.contains)
        require(extra.isEmpty,
          s"source carries columns the table lacks: ${extra.mkString(", ")}" +
            " — evolve the table first (ADD COLUMNS) or drop them")
        val aligned = reader.select(schema.fields
          .filter(f => reader.columns.contains(f.name))
          .map(f => org.apache.spark.sql.functions.col(f.name)
            .cast(f.dataType).as(f.name)).toSeq: _*)
        writeAttempt(t, aligned, Nil, Nil, carryForward = true, tag = None,
          copyAdds = newFiles)
      }
    }
    (v, ingested)
  }

  /** The COPY INTO ledger at the current version — fully-qualified
    * source file names already ingested ([[copyInto]] skips them). */
  def copiedFiles(spark: SparkSession, path: String): Seq[String] =
    currentVersion(spark, path)
      .map(v => resolveState(spark, path, v).copyFiles).getOrElse(Nil)

  /** CONVERT an existing plain-parquet directory into a managed table
    * IN PLACE (Delta's `CONVERT TO DELTA parquet.`…``): version 1
    * commits REFERENCES to the existing files — zero bytes move, the
    * only write is one manifest. The refs are recorded fs-qualified
    * absolute (the shallow-clone ref shape), so `k=v` partitioned
    * dumps convert too: the external-ref read branch re-derives the
    * partition columns per scan base. On a 100 TB dump this is the
    * difference between adopting the data and rewriting it.
    *
    * After conversion the table is fully live — merge/update/OPTIMIZE
    * rewrite touched data into managed snapshot dirs as usual. The
    * ORIGINAL files are never deleted by [[vacuum]] (it sweeps only
    * version-prefixed dirs — by design, it cannot distinguish an
    * adopted file from a foreign one): after heavy churn, run
    * [[compact]] to migrate everything managed, then remove the
    * leftovers out of band, exactly Delta's post-CONVERT guidance.
    */
  def convertInPlace(spark: SparkSession, path: String): Long = {
    val f = fs(spark, path)
    require(currentVersion(spark, path).isEmpty,
      s"$path is already a graft table — CONVERT only adopts plain dirs")
    val files = listDataFiles(f, new Path(path))
    require(files.nonEmpty, s"no parquet files under $path to convert")
    val adds = files.map(externalRef(f, _)).sorted
    val schema = spark.read.parquet(path).schema
    val json = deltaJson(1L, System.currentTimeMillis(), adds,
      schema = Some(schema), op = Some("CONVERT"))
    if (!publish(f, manifestPath(path, 1L), newToken(), json))
      throw new IllegalStateException(
        s"CONVERT lost the commit race at $path — another writer " +
          "created the table concurrently")
    1L
  }

  /** The fs-qualified string by which a file outside the table's own
    * snapshot dirs is recorded (CONVERT refs, the COPY INTO ledger) and
    * handed to Spark: a path string as Spark and Hadoop parse one. A
    * name that URL-encodes (space, %) takes its decoded `Path` form,
    * since the encoded URI string would name another file; all others
    * keep the URI form. */
  private def externalRef(f: FileSystem, p: Path): String = {
    val q = f.makeQualified(p)
    val uri = q.toUri.toString
    if (uri.contains('%')) q.toString else uri
  }

  // ------------------------------------------------------------------
  // CHECK constraints (enforced at commit time)
  // ------------------------------------------------------------------

  /** Wrap `df` so any row violating a CHECK constraint FAILS the write
    * job before a byte is committed — the Delta invariant-enforcement
    * shape, fused into the single staging pass (no extra scan): each
    * constraint compiles to a codegen'd `assert_true` filter that
    * passes TRUE and NULL rows (SQL CHECK semantics) and raises with
    * the constraint name, its expression, and the offending row
    * otherwise. A failed write leaves no manifest — the table is
    * untouched (the orphaned staging dir is invisible to readers).
    */
  private def constraintGuard(df: DataFrame,
                              constraints: Map[String, String]): DataFrame =
    if (constraints.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{assert_true, coalesce, col, concat, expr, lit, struct, to_json}
      constraints.toSeq.sortBy(_._1).foldLeft(df) { case (d, (name, sql)) =>
        d.filter(assert_true(
          coalesce(expr(sql), lit(true)),
          concat(lit(s"CHECK constraint '$name' ($sql) violated by row: "),
            to_json(struct(df.columns.map(col).toSeq: _*)))).isNull)
      }
    }

  /** Apply the table's GENERATED columns to an incoming batch: an
    * ABSENT generated column is COMPUTED from its expression; a PRESENT
    * one is ENFORCED equal to it (null-safe), failing the write job on
    * the first divergent row — Delta's generated-column write
    * semantics. Runs before [[constraintGuard]] so constraints may
    * reference generated columns.
    */
  private def generatedGuard(df: DataFrame,
                             generated: Map[String, String]): DataFrame =
    if (generated.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{assert_true, col, concat, expr, lit, struct, to_json}
      generated.toSeq.sortBy(_._1).foldLeft(df) { case (d, (name, sql)) =>
        if (!d.columns.contains(name)) d.withColumn(name, expr(sql))
        else d.filter(assert_true(col(name) <=> expr(sql),
          concat(lit(s"generated column '$name' = ($sql) violated by row: "),
            to_json(struct(d.columns.map(col).toSeq: _*)))).isNull)
      }
    }

  /** The table's live GENERATED columns (name → SQL expression). */
  def generatedColumns(spark: SparkSession, path: String): Map[String, String] =
    currentState(spark, path).generated

  /** Declare a GENERATED column (Delta `GENERATED ALWAYS AS (expr)`):
    * every subsequent write/append/merge COMPUTES the column when the
    * batch omits it and ENFORCES equality when the batch carries it.
    * Metadata-only commit; works on an EMPTY table (declare, then
    * load — the generated column may then serve as the PARTITION
    * column, Delta's headline use: writers never materialize it, yet
    * partition pruning works on it). On a non-empty table the column
    * must already exist and every existing row is validated ONCE
    * against the expression.
    */
  def addGeneratedColumn(spark: SparkSession, path: String, name: String,
                         exprSql: String, maxAttempts: Int = 3): Long = {
    import org.apache.spark.sql.functions.{col, expr, not}
    require(name.nonEmpty, "generated column name must be non-empty")
    fs(spark, path).mkdirs(new Path(path))
    transact(spark, path, "generated-column", maxAttempts, None) { t =>
      val schema = t.st.schema
      if (schema.exists(_.fieldNames.nonEmpty) && t.st.files.nonEmpty) {
        require(schema.exists(_.fieldNames.contains(name)),
          s"cannot declare generated column '$name' on non-empty $path: " +
            "existing rows lack it (backfill with a rewrite first)")
        val divergent = readStateDf(spark, path, t.st)
          .filter(not(col(name) <=> expr(exprSql))).count()
        require(divergent == 0L,
          s"cannot declare generated column '$name' = ($exprSql) at " +
            s"$path: $divergent existing rows diverge")
      }
      Publish(deltaJson(t.version, t.ts,
        generatedAdds = Map(name -> exprSql)))
    }
  }

  /** Un-declare a generated column (metadata-only; the column itself
    * stays an ordinary column).
    */
  def dropGeneratedColumn(spark: SparkSession, path: String, name: String,
                          maxAttempts: Int = 3): Long =
    transact(spark, path, "generated-column", maxAttempts,
        Some(s"no committed version at $path")) { t =>
      require(t.st.generated.contains(name),
        s"no generated column '$name' at $path (live: " +
          s"${t.st.generated.keys.toSeq.sorted.mkString(", ")})")
      Publish(deltaJson(t.version, t.ts, generatedRemoves = Seq(name)))
    }

  /** The table's live CHECK constraints (name → SQL expression). */
  def checkConstraints(spark: SparkSession, path: String): Map[String, String] =
    currentVersion(spark, path)
      .map(resolveState(spark, path, _).constraints).getOrElse(Map.empty)

  /** Add a named CHECK constraint (`ALTER TABLE ... ADD CONSTRAINT ...
    * CHECK (expr)`): existing rows are validated in ONE scan of the
    * current version (violations abort with a count — the Delta
    * contract), then the constraint commits as a METADATA-ONLY log
    * entry. Every subsequent [[write]]/[[append]]/[[merge]] enforces
    * it in its staging pass; constraints ride checkpoints, so they
    * survive [[vacuum]]. NULL evaluations PASS (SQL CHECK semantics).
    */
  def addCheckConstraint(spark: SparkSession, path: String, name: String,
                         exprSql: String, maxAttempts: Int = 3): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    require(name.nonEmpty, "constraint name must be non-empty")
    transact(spark, path, "constraint", maxAttempts,
        Some(s"no committed version at $path to constrain")) { t =>
      val violations = readStateDf(spark, path, t.st)
        .filter(not(coalesce(expr(exprSql), lit(true)))).count()
      require(violations == 0L,
        s"cannot add CHECK constraint '$name' ($exprSql) at $path: " +
          s"$violations existing rows violate it")
      Publish(deltaJson(t.version, t.ts, constraintAdds = Map(name -> exprSql)))
    }
  }

  /** `ALTER TABLE ... ADD COLUMNS` — METADATA-ONLY additive schema
    * evolution (Delta's shape, r13): the committed schema gains the
    * columns in one log entry, ZERO data files are touched; every
    * existing file reads the new columns as NULL through
    * schema-on-read (the same contract an evolving append relies on).
    * Column-mapped tables assign FRESH physical names from the
    * monotone counter, so a dropped-then-re-added name can never
    * resurrect old file data. The append/merge evolution paths stay
    * available — this is the declare-without-data spelling.
    */
  def addColumns(spark: SparkSession, path: String,
                 cols: StructType, maxAttempts: Int = 3): Long = {
    require(cols.fields.nonEmpty, "ADD COLUMNS needs at least one column")
    transact(spark, path, "ADD COLUMNS", maxAttempts,
        Some(s"no committed version at $path to evolve")) { t =>
      val st = t.st
      val schema = st.schema.getOrElse(readStateDf(spark, path, st).schema)
      cols.fieldNames.foreach(n =>
        require(!schema.fieldNames.contains(n),
          s"column '$n' already exists at $path"))
      val newSchema = StructType(schema.fields ++ cols.fields)
      val (mapOpt, maxIdOpt) =
        if (!st.mapped) (None, None)
        else {
          var id = st.maxColId
          val fresh = cols.fieldNames.map { n => id += 1; n -> s"col-$id" }
          (Some(st.mapping ++ fresh), Some(id))
        }
      Publish(deltaJson(t.version, t.ts, schema = Some(newSchema),
        mapping = mapOpt, maxColId = maxIdOpt, op = Some("SCHEMA")))
    }
  }

  /** Declare a table-bound EXPECTATION (DLT's `CONSTRAINT name EXPECT
    * (cond) ON VIOLATION ...`): a METADATA-ONLY commit after which
    * EVERY write/append/COPY INTO gates its batch through the rule —
    * `fail` aborts the write on the first violating row (nothing
    * lands), `drop` filters violating rows out, `warn` keeps them —
    * and the per-rule violation/pass counts of each gated batch land
    * in that commit's own log entry (DLT's event log; readable via
    * [[history]] / `DESCRIBE HISTORY`). Unlike a CHECK constraint,
    * declaring an expectation does NOT validate existing rows — DLT's
    * reading: expectations gate INCOMING data, history is out of
    * scope (use [[addCheckConstraint]] for a table-wide invariant).
    * The condition is analyzed against the current schema up front so
    * a typo refuses here, not at the next write. Rules ride
    * checkpoints and survive restore/clone like constraints.
    */
  def addExpectation(spark: SparkSession, path: String, name: String,
                     condSql: String, onViolation: String = "warn",
                     maxAttempts: Int = 3): Long = {
    require(name.nonEmpty, "expectation name must be non-empty")
    transact(spark, path, "expectation", maxAttempts, Some(
        s"no committed version at $path to declare an expectation on")) { t =>
      val st = t.st
      // fail-fast analysis probe: the condition must resolve against
      // the table's logical schema (zero data read — one empty frame)
      val schema = st.schema.getOrElse(readStateDf(spark, path, st).schema)
      val probe = spark.range(1).select(schema.fields.map(fd =>
        org.apache.spark.sql.functions.lit(null).cast(fd.dataType)
          .as(st.logical(fd.name))).toSeq: _*)
      try { probe.select(org.apache.spark.sql.functions.expr(condSql))
        .queryExecution.analyzed; () }
      catch {
        case ex: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"expectation '$name' condition ($condSql) does not " +
              s"resolve against the table schema: ${ex.getMessage}")
      }
      Publish(deltaJson(t.version, t.ts, expectationAdds =
        Map(name -> Expectations.encode(onViolation, condSql))))
    }
  }

  /** Un-declare an expectation (metadata-only commit). */
  def dropExpectation(spark: SparkSession, path: String, name: String,
                      maxAttempts: Int = 3): Long =
    transact(spark, path, "expectation", maxAttempts,
        Some(s"no committed version at $path")) { t =>
      require(t.st.expectations.contains(name),
        s"no expectation '$name' at $path (live: " +
          s"${t.st.expectations.keys.toSeq.sorted.mkString(", ")})")
      Publish(deltaJson(t.version, t.ts, expectationRemoves = Seq(name)))
    }

  /** The table's live expectations (name → `<action>:<condSql>`). */
  def tableExpectations(spark: SparkSession,
                        path: String): Map[String, String] =
    currentVersion(spark, path)
      .map(resolveState(spark, path, _).expectations).getOrElse(Map.empty)

  /** Reserved CHECK-constraint name prefix carrying the NOT NULL
    * column invariants (see [[setNotNull]]). */
  val NotNullPrefix = "graft_nn_"

  /** NOT NULL column invariant (Delta's per-column invariant class):
    * a metadata-only commit after which every write/append/merge
    * REJECTS batches carrying a NULL in `column`, atomically, in the
    * same staging-pass guard as CHECK constraints. Declaring on a
    * table with existing NULLs is refused (same one-time validation
    * scan CHECK runs). Implemented AS a reserved CHECK constraint
    * (`graft_nn_<col>` → `<col> IS NOT NULL`), so it rides the same
    * log entries and survives restore/clone/checkpoint exactly like
    * CHECK — one enforcement path, nothing new to keep correct.
    */
  def setNotNull(spark: SparkSession, path: String, column: String,
                 maxAttempts: Int = 3): Long = {
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val st = resolveState(spark, path, v)
    val schema = st.schema.getOrElse(readStateDf(spark, path, st).schema)
    require(schema.fieldNames.contains(column),
      s"no column '$column' at $path to declare NOT NULL")
    addCheckConstraint(spark, path, s"$NotNullPrefix$column",
      s"$column IS NOT NULL", maxAttempts)
  }

  /** Drop a [[setNotNull]] invariant (metadata-only commit). */
  def dropNotNull(spark: SparkSession, path: String, column: String,
                  maxAttempts: Int = 3): Long =
    dropCheckConstraint(spark, path, s"$NotNullPrefix$column", maxAttempts)

  /** Columns currently under a NOT NULL invariant. */
  def notNullColumns(spark: SparkSession, path: String): Seq[String] = {
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    resolveState(spark, path, v).constraints.keys
      .filter(_.startsWith(NotNullPrefix))
      .map(_.stripPrefix(NotNullPrefix)).toSeq.sorted
  }

  /** IDENTITY column (Delta's `GENERATED BY DEFAULT AS IDENTITY`): a
    * BIGINT column the engine assigns automatically when a write
    * batch OMITS it — monotone above a high-water mark the log
    * carries, unique across commits, step-spaced, gaps allowed
    * (Delta's identity contract: uniqueness and direction, never
    * gaplessness). A batch that CARRIES the column keeps its values
    * (the BY DEFAULT reading — the writer asserts value authority and
    * the high water advances past them), which is also what lets
    * compaction, Z-order, CoW merges and restores carry existing
    * identities verbatim with zero special-casing.
    *
    * Declare on an EMPTY (or not-yet-written) table, or on a table
    * whose column already holds values — existing non-null values set
    * the initial high water; NULLs are refused (they could never be
    * distinguished from "assign me"). One identity column per table.
    * The declaration and high water ride the log like row tracking's;
    * clone carries them, restore never rolls the high water back.
    */
  def setIdentityColumn(spark: SparkSession, path: String, column: String,
                        startWith: Long = 1L, step: Long = 1L,
                        maxAttempts: Int = 3): Long = {
    import org.apache.spark.sql.functions.{col, max => smax}
    require(step > 0, "identity step must be positive")
    fs(spark, path).mkdirs(new Path(path))
    transact(spark, path, "identity", maxAttempts, None) { t =>
      val st = t.st
      var water = startWith - step
      require(st.identityCol.isEmpty,
        s"table $path already has identity column " +
          s"'${st.identityCol.map(st.logical).getOrElse("")}'")
      if (st.files.nonEmpty) {
        val sc = st.schema.getOrElse(readStateDf(spark, path, st).schema)
        require(sc.fieldNames.contains(column),
          s"no column '$column' at $path to declare IDENTITY " +
            "(declare before the first write to have it assigned)")
        val df = readStateDf(spark, path, st)
        val nulls = df.filter(col(column).isNull).count()
        require(nulls == 0L,
          s"cannot declare IDENTITY on '$column': $nulls existing " +
            "NULLs (a NULL is indistinguishable from 'assign me')")
        water = Option(df.agg(smax(col(column).cast("long"))).head().get(0))
          .map(_.asInstanceOf[Long]).map(math.max(_, water))
          .getOrElse(water)
      }
      Publish(deltaJson(t.version, t.ts, op = Some("METADATA"),
        identity = Some((st.phys(column), step)),
        identityHighWater = Some(water)))
    }
  }

  /** The declared identity column (logical name), step, and current
    * high water — None when no identity is declared. */
  def identityInfo(spark: SparkSession, path: String): Option[(String, Long, Long)] = {
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val st = resolveState(spark, path, v)
    st.identityCol.map(c => (st.logical(c), st.identityStep,
      st.identityHighWater))
  }

  /** Drop a named CHECK constraint (metadata-only commit). */
  def dropCheckConstraint(spark: SparkSession, path: String, name: String,
                          maxAttempts: Int = 3): Long =
    transact(spark, path, "constraint", maxAttempts,
        Some(s"no committed version at $path")) { t =>
      require(t.st.constraints.contains(name),
        s"no CHECK constraint '$name' at $path (live: " +
          s"${t.st.constraints.keys.toSeq.sorted.mkString(", ")})")
      Publish(deltaJson(t.version, t.ts, constraintRemoves = Seq(name)))
    }

  // ------------------------------------------------------------------
  // Column mapping (metadata-only RENAME / DROP COLUMN)
  // ------------------------------------------------------------------

  /** The live logical→physical column map (empty = identity). Columns
    * that existed before mapping was enabled keep identity physicals
    * and are omitted.
    */
  def columnMapping(spark: SparkSession, path: String): Map[String, String] = {
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    resolveState(spark, path, v).mapping
  }

  /** First live CHECK constraint whose expression references `column`
    * as a word — conservative (a quoted string literal containing the
    * name also blocks), which errs on refusing a rename, never on
    * corrupting a constraint.
    */
  private def constraintReferencing(st: TableState,
                                    column: String): Option[String] = {
    val re = ("(?<![A-Za-z0-9_])" +
      java.util.regex.Pattern.quote(column) + "(?![A-Za-z0-9_])").r
    st.constraints.collectFirst {
      case (n, sql) if re.findFirstIn(sql).isDefined => n }
  }

  /** First generated column whose EXPRESSION references `column` (the
    * generated column itself is handled separately by rename/drop).
    */
  private def generatedReferencing(st: TableState,
                                   column: String): Option[String] = {
    val re = ("(?<![A-Za-z0-9_])" +
      java.util.regex.Pattern.quote(column) + "(?![A-Za-z0-9_])").r
    st.generated.collectFirst {
      case (n, sql) if n != column && re.findFirstIn(sql).isDefined => n }
  }

  /** RENAME COLUMN as a METADATA-ONLY commit (Delta's column-mapping
    * rename, Delta paper §4.2's schema-evolution surface): no data file
    * is touched — the column keeps its PHYSICAL name in every existing
    * and future file, and the log's logical schema plus the
    * logical→physical map change in one O(columns) commit. Reads,
    * stats/bloom pruning, merges, DV anti-joins and the change feed all
    * resolve through the map; time travel before the rename shows the
    * old name. On a 100 TB table this is the difference between a
    * catalog edit and a full rewrite.
    *
    * Refused when a CHECK constraint references the column (drop the
    * constraint first — Delta's rule) and on partitioned layouts
    * (mapped tables are flat-only; partition directories encode
    * physical names in paths).
    */
  def renameColumn(spark: SparkSession, path: String, from: String,
                   to: String, maxAttempts: Int = 3): Long = {
    require(from != to, s"rename '$from' -> '$to' is a no-op")
    transact(spark, path, "rename", maxAttempts,
        Some(s"no committed version at $path")) { t =>
      val st = t.st
      val schema = st.schema.getOrElse(throw new IllegalStateException(
        s"table $path has no committed schema — cannot rename"))
      require(schema.fieldNames.contains(from),
        s"no column '$from' at $path (live: ${schema.fieldNames.mkString(", ")})")
      require(!schema.fieldNames.contains(to),
        s"column '$to' already exists at $path")
      // partitioned layouts rename fine: k=v dirs keep the PHYSICAL
      // name (like footers); readFilesMapped's physical-schema read
      // discovers them and projects back to the new logical name
      constraintReferencing(st, from).foreach(c => throw new
        IllegalArgumentException(
          s"cannot rename '$from' at $path: CHECK constraint '$c' " +
            s"references it (${st.constraints(c)}) — drop it first"))
      val newSchema = StructType(schema.fields.map(fd =>
        if (fd.name == from) fd.copy(name = to) else fd))
      val newMapping = ((st.mapping - from) + (to -> st.phys(from)))
        .filterNot { case (l, p) => l == p }
      // a generated column renames WITH its declaration, and any
      // generated column whose EXPRESSION references the renamed source
      // has the identifier rewritten in place (same word-boundary
      // discipline as the reference detector) — declarations follow the
      // logical schema instead of blocking it
      val identRe = "(?<![A-Za-z0-9_])" +
        java.util.regex.Pattern.quote(from) + "(?![A-Za-z0-9_])"
      val genMove = st.generated.get(from)
      val genRewrites = st.generated.collect {
        case (g, exprText)
            if g != from && identRe.r.findFirstIn(exprText).isDefined =>
          g -> exprText.replaceAll(identRe,
            java.util.regex.Matcher.quoteReplacement(to))
      }
      // a column DEFAULT renames WITH its column (it is keyed by the
      // logical name, like the generated declaration)
      val defMove = st.defaults.get(from)
      Publish(deltaJson(t.version, t.ts, schema = Some(newSchema),
        mapping = Some(newMapping),
        maxColId = Some(math.max(st.maxColId, 1L)),
        generatedAdds = genMove.map(e => to -> e).toMap ++ genRewrites,
        generatedRemoves = genMove.map(_ => from).toSeq,
        defaultAdds = defMove.map(e => to -> e).toMap,
        defaultRemoves = defMove.map(_ => from).toSeq))
    }
  }

  /** DROP COLUMN as a METADATA-ONLY commit: existing files keep the
    * physical column (dead bytes until a [[compact]] rewrite folds it
    * away); reads stop projecting it immediately. A later append
    * re-introducing the same logical name gets a FRESH physical name,
    * so the old data never resurrects — old rows read NULL for the
    * re-added column, exactly Delta's column-mapping drop semantics.
    *
    * Refused when a CHECK constraint references the column, when the
    * column is the live deletion-vector key (compact the DVs away
    * first), and on partitioned layouts.
    */
  def dropColumn(spark: SparkSession, path: String, name: String,
                 maxAttempts: Int = 3): Long =
    transact(spark, path, "drop-column", maxAttempts,
        Some(s"no committed version at $path")) { t =>
      val st = t.st
      val schema = st.schema.getOrElse(throw new IllegalStateException(
        s"table $path has no committed schema — cannot drop"))
      require(schema.fieldNames.contains(name),
        s"no column '$name' at $path (live: ${schema.fieldNames.mkString(", ")})")
      require(schema.fields.length >= 2,
        s"cannot drop the only column of $path")
      // data columns drop fine on partitioned layouts; the PARTITION
      // column itself cannot (its k=v dirs define the file layout —
      // rewrite unpartitioned first)
      require(!partitionColsOf(st.files).contains(st.phys(name)),
        s"cannot drop partition column '$name' of $path — its k=v " +
          "directories define the layout; compact unpartitioned first")
      require(!(st.dvFiles.nonEmpty &&
          st.dvKey.exists(_.split(",").contains(st.phys(name)))),
        s"cannot drop '$name' at $path: live deletion vectors key on it " +
          "— compact the DVs away first")
      constraintReferencing(st, name).foreach(c => throw new
        IllegalArgumentException(
          s"cannot drop '$name' at $path: CHECK constraint '$c' " +
            s"references it (${st.constraints(c)}) — drop it first"))
      generatedReferencing(st, name).foreach(g => throw new
        IllegalArgumentException(
          s"cannot drop '$name' at $path: generated column '$g' " +
            s"references it (${st.generated(g)}) — drop it first"))
      val newSchema = StructType(schema.fields.filterNot(_.name == name))
      Publish(deltaJson(t.version, t.ts, schema = Some(newSchema),
        mapping = Some(st.mapping - name),
        maxColId = Some(math.max(st.maxColId, 1L)),
        generatedRemoves = if (st.generated.contains(name)) Seq(name) else Nil,
        // the DEFAULT dies with its column — a re-added same-name
        // column must NOT resurrect the stale declaration (the same
        // never-resurrect contract the physical mapping enforces)
        defaultRemoves = if (st.defaults.contains(name)) Seq(name) else Nil))
    }

  // ------------------------------------------------------------------
  // File-level bloom index (point-lookup pruning on unclustered keys)
  // ------------------------------------------------------------------

  /** Declare a FILE-LEVEL BLOOM INDEX on `cols` (the Delta bloom-filter
    * index design): every subsequent commit condenses each staged data
    * file's values into a per-file Bloom filter
    * ([[graft.functions.BloomFileAgg]], one sidecar parquet per
    * commit), and [[readWhereEquals]] consults the filters to skip
    * files a point lookup cannot match. This prunes where min/max
    * stats never can: a uniformly-scattered high-cardinality key (a
    * customer id on an order-clustered table) is inside EVERY file's
    * [min,max], but is absent from ~all files' bloom filters.
    *
    * Metadata-only commit; works on an EMPTY table (declare the index,
    * then load). Files committed BEFORE the declaration carry no
    * filter and are never bloom-pruned ([[compact]] rebuilds them with
    * filters). `items` is the expected row count per data file — size
    * it like `maxPartitionBytes`/row-width; the filter is ~1.2 bytes ×
    * items at fpp 1%. Integral and string columns only.
    */
  def setBloomIndex(spark: SparkSession, path: String, cols: Seq[String],
                    items: Long = 1L << 20, fpp: Double = 0.01,
                    maxAttempts: Int = 3): Long = {
    require(cols.nonEmpty, "need at least one bloom column")
    fs(spark, path).mkdirs(new Path(path))
    // the spec stores PHYSICAL names (rename-safe); identity on unmapped
    // or empty tables
    transact(spark, path, "bloom-index", maxAttempts, None) { t =>
      Publish(deltaJson(t.version, t.ts,
        bloomSpec = Some(BloomSpec(cols.map(t.st.phys), items, fpp))))
    }
  }

  /** Build the per-file bloom sidecar for this commit's staged files:
    * ONE distributed pass over the new data (group by file, one filter
    * per (file, column)), written as a single small parquet under
    * `bloom-<version>-<token>/`. Returns the sidecar's table-relative
    * file refs. O(new data) — the cost of building any index; carried
    * files keep their existing filters.
    */
  private def buildBloomSidecar(spark: SparkSession, path: String,
                                staged: Seq[Path], spec: BloomSpec,
                                version: Long, token: String): Seq[String] = {
    import org.apache.spark.sql.functions.{col, lit}
    if (staged.isEmpty) return Nil
    val df = spark.read.parquet(staged.map(_.toString): _*)
    val present = spec.cols.filter(df.columns.contains)
    if (present.isEmpty) return Nil
    val perCol = present.map { c =>
      df.select(
          col("_metadata.file_name").as("_graft_bloom_file"),
          col(c))
        .groupBy("_graft_bloom_file")
        .agg(graft.functions.BloomFileAgg.bloom(spark, col(c), spec.items,
          spec.fpp).as("_graft_bloom_bits"))
        .withColumn("_graft_bloom_col", lit(c))
        .select("_graft_bloom_file", "_graft_bloom_col", "_graft_bloom_bits")
    }
    val bloomDir = s"$path/bloom-$version-$token"
    perCol.reduce(_ unionByName _).coalesce(1)
      .write.mode("overwrite").parquet(bloomDir)
    listDataFiles(fs(spark, path), new Path(bloomDir))
      .map(p => relativize(new Path(path), p))
  }

  /** Point lookup `column = value` with EVERY metadata prune applied
    * before data is read: per-file min/max stats (equality is the
    * degenerate range) and then the bloom index — a file is scanned
    * only if its filter says "maybe". Files with no filter (committed
    * before [[setBloomIndex]]) are conservatively kept. Returns the
    * filtered rows; [[pointLookupCount]] exposes the prune arithmetic
    * for specs and capacity math.
    *
    * Probe cost: the sidecar parquet is scanned EXECUTOR-SIDE — each
    * task deserializes and tests its own files' filters via the native
    * [[graft.functions.BloomProbe]] expression — and only the NAMES of
    * files the index definitely excludes come back to the driver. At
    * the 100 TB design point (~10⁶ files × ~MB filters) driver traffic
    * is KBs of names, flat in filter size; the filter bytes never leave
    * the executors.
    */
  def readWhereEquals(spark: SparkSession, path: String, column: String,
                      value: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (candidates, st) = pointLookupCandidates(spark, path, column, value)
    readStateDf(spark, path, st.copy(files = candidates))
      .filter(col(column) === lit(value))
  }

  /** (candidate files after stats+bloom pruning, total files). */
  def pointLookupCount(spark: SparkSession, path: String, column: String,
                       value: Any): (Int, Int) = {
    val (candidates, st) = pointLookupCandidates(spark, path, column, value)
    (candidates.size, st.files.size)
  }

  private def pointLookupCandidates(spark: SparkSession, path: String,
                                    column: String,
                                    value: Any): (Seq[String], TableState) = {
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val st = resolveState(spark, path, v)
    // 1) stats prune — equality as the degenerate range [v, v];
    // prunableColumn gates decimal/string/date soundness hazards
    val afterStats = value match {
      case n: Number => pruneFilesByRange(st, column,
        prunableColumn(st, column), n.doubleValue(), n.doubleValue())
      case _ => st.files
    }
    // 2) bloom prune — only files that HAVE a filter can be excluded;
    // the spec and sidecars carry PHYSICAL column names. The probe runs
    // executor-side (bloomExcludedFiles): only the names of
    // definitely-absent files return to the driver, so a file with no
    // sidecar entry (pre-index commit) is conservatively kept for free.
    val afterBloom = st.bloom.filter(_.cols.contains(st.phys(column))) match {
      case Some(_) if st.bloomFiles.nonEmpty =>
        val excluded = bloomExcludedFiles(spark, path, st, column, value)
        afterStats.filter(f => !excluded.contains(f.split("/").last))
      case _ => afterStats
    }
    (afterBloom, st)
  }

  /** Basenames of live files whose bloom filter says the value is
    * DEFINITELY absent. The probe is distributed: the sidecar parquet
    * (file, col, bits) is a table; each executor task deserializes and
    * tests the filters of the rows it reads (native [[graft.functions.BloomProbe]]
    * inside whole-stage codegen), and only excluded file names — never
    * filter bytes — are collected. Exposed for the driver-bytes spec.
    */
  private[graft] def bloomExcludedFiles(spark: SparkSession, path: String,
                                        st: TableState, column: String,
                                        value: Any): Set[String] = {
    import org.apache.spark.sql.functions.{col, lit}
    bloomProbeFrame(spark, path, st, column, value)
      .filter(!col("_graft_bloom_maybe"))
      .select("_graft_bloom_file")
      .collect().map(_.getString(0)).toSet
  }

  /** The distributed probe plan (file, maybe) — names + booleans only;
    * the bits column dies inside the executor-side projection. Split
    * out so specs can audit the plan shape and output schema. */
  private[graft] def bloomProbeFrame(spark: SparkSession, path: String,
                                     st: TableState, column: String,
                                     value: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    graft.functions.BloomFileAgg.register(spark)
    spark.read
      .parquet(st.bloomFiles.map(resolveRef(path, _)): _*)
      .filter(col("_graft_bloom_col") === st.phys(column))
      .select(col("_graft_bloom_file"),
        graft.functions.BloomFileAgg.probe(spark,
          col("_graft_bloom_bits"), lit(value)).as("_graft_bloom_maybe"))
  }

  // ------------------------------------------------------------------
  // NDV statistics index (mergeable per-file HLL sketches + row counts)
  // ------------------------------------------------------------------

  /** Declare an NDV STATISTICS INDEX on `cols` (ANALYZE TABLE as
    * incremental metadata, the Delta/CBO column-statistics design):
    * every subsequent commit condenses each staged data file's values
    * into a per-file HyperLogLog sketch (Spark's public DataSketches
    * `hll_sketch_agg`) plus an exact per-file row count, written as one
    * sidecar parquet per commit. [[ndvEstimate]] then answers
    * distinct-count questions by UNIONING the live files' sketches —
    * O(files) metadata, ZERO data scan — and [[rowCountFromStats]]
    * sums the counts. Sketch union is exactly how per-file NDV composes
    * (HLL registers max-merge), so the estimate equals a single-pass
    * sketch of the whole table within the sketch's error (~2% at the
    * default lgK). Metadata-only commit; works on an empty table.
    *
    * Scale shape: ANALYZE on a 100 TB table becomes a per-commit
    * O(new data) side effect plus an O(files) driver merge at query
    * time — the statistics that size broadcast joins and drive CBO
    * never require a table rescan.
    */
  /** Declare the table's PERSISTENT STATS SCHEMA (Delta's
    * `dataSkippingStatsColumns`): every subsequent commit — write,
    * append, merge, UPDATE/DELETE, compact, Z-order — records per-file
    * min/max/null footer stats for these columns WITHOUT the caller
    * passing `statsCols` each time. An explicit `statsCols` argument
    * still overrides per-commit. Stored under PHYSICAL names, so the
    * declaration survives renames. Metadata-only commit; empty-table
    * OK; `cols = Nil` clears the declaration.
    *
    * Scale shape: data skipping stops depending on every writer
    * remembering the right columns — the one-writer-forgot failure
    * mode that silently turns a pruned 100 TB scan into a full one.
    */
  def setStatsColumns(spark: SparkSession, path: String,
                      cols: Seq[String], maxAttempts: Int = 3): Long = {
    fs(spark, path).mkdirs(new Path(path))
    transact(spark, path, "stats-schema", maxAttempts, None) { t =>
      Publish(deltaJson(t.version, t.ts, op = Some("SET_STATS"),
        statsSchema = Some(cols.map(t.st.phys))))
    }
  }

  /** Declare CLUSTER COLUMNS (the Delta 3.x liquid-clustering shape,
    * simplified to range-overlap maintenance): from this commit on,
    *
    *  1. every staged batch SORTS LOCALLY by the cluster key (zero
    *     shuffle — each new file gets tight per-file stats on the key
    *     from its first commit);
    *  2. the cluster columns join the persistent stats schema, so the
    *     skipping index those stats feed never lapses;
    *  3. [[optimizeClustered]] INCREMENTALLY reclusters: only files
    *     not yet clustered, plus the clustered files whose key ranges
    *     overlap them, are rewritten — an append-mostly 100 TB table
    *     pays O(new data) per maintenance run, never a full rewrite.
    *
    * Unlike a one-shot OPTIMIZE ZORDER, clustering declared this way
    * SURVIVES ingestion: the manifest tracks which live files are
    * products of a cluster rewrite (`clusteredFiles`, retired
    * automatically when any rewrite removes them), so maintenance
    * always knows exactly what is left to do. Stored physical —
    * rename-safe. Metadata-only commit; empty-table OK; 1–8 columns.
    */
  def setClusterColumns(spark: SparkSession, path: String,
                        cols: Seq[String], maxAttempts: Int = 3): Long = {
    require(cols.nonEmpty && cols.length <= 8,
      s"cluster columns: 1..8 supported, got ${cols.length}")
    fs(spark, path).mkdirs(new Path(path))
    transact(spark, path, "cluster-by", maxAttempts, None) { t =>
      val st = t.st
      // Delta's rule: clustering REPLACES partitioning — a k=v layout
      // already fixes file boundaries by partition value
      require(partitionColsOf(st.files).isEmpty,
        s"cannot cluster partitioned table $path — clustering " +
          "replaces partitioning (rewrite unpartitioned first)")
      val physCols = cols.map(st.phys)
      Publish(deltaJson(t.version, t.ts, op = Some("CLUSTER_BY"),
        clusterCols = Some(physCols),
        statsSchema = Some((st.statsSchemaCols ++ physCols).distinct)))
    }
  }

  /** Incremental cluster maintenance (liquid clustering's OPTIMIZE):
    * rewrite ONLY (a) live files that are not products of a previous
    * cluster rewrite, plus (b) clustered files whose per-file stats
    * box on the cluster columns OVERLAPS the unclustered data's
    * bounding box (their key ranges interleave, so merging them is
    * what keeps file ranges disjoint); everything else carries
    * byte-identical. The rewrite Z-orders the selected rows (Morton
    * key over min/max-normalized dimensions for ≥2 columns; plain
    * range sort for 1) into ~input-file-count outputs and commits them
    * as the new clustered set. A fully-clustered table is a NO-OP
    * (returns the current version, no commit).
    *
    * Scale shape: an append-mostly table pays O(appended bytes +
    * overlapping tail) per run — the full-table OPTIMIZE ZORDER cost
    * only ever recurs if ingestion scatters keys across the whole
    * domain (in which case the overlap IS the table, and a global
    * recluster is genuinely what maintenance means).
    */
  def optimizeClustered(spark: SparkSession, path: String,
                        targetFiles: Int = 0,
                        maxAttempts: Int = 3): Long = {
    import org.apache.spark.sql.functions.{col, max => smax, min => smin}
    transact(spark, path, "cluster", maxAttempts,
        Some(s"no committed version at $path")) { t =>
      val st = t.st
      require(st.clusterCols.nonEmpty,
        s"no cluster columns declared at $path — setClusterColumns first")
      val clusteredSet = st.clusteredFiles.toSet
      val unclustered = st.files.filterNot(clusteredSet)
      if (unclustered.isEmpty) Done(t.base) // fully clustered: no-op
      else {
        val logicalCols = st.clusterCols.map(st.logical)
        // bounding box of the UNCLUSTERED data per cluster column — from
        // manifest stats when every unclustered file has complete stats,
        // else one min/max scan of just those files
        // the overlap arithmetic only exists for NUMERIC-prunable
        // dimensions (the same soundness gate as every other prune —
        // decimal/string/date comparisons are hazards, see statsPrunable);
        // a non-numeric dimension contributes "overlaps everything",
        // which degrades gracefully toward a fuller recluster, never a
        // wrong one. The Z-key itself is fine with any type (cast-to-
        // double nulls collapse to one grid cell; 1-column string
        // clustering range-sorts natively).
        val numericDims: Seq[Boolean] = logicalCols.map(prunableColumn(st, _))
        def statsBox: Option[Seq[Option[(Double, Double)]]] = {
          val per = st.clusterCols.zip(numericDims).map {
            case (_, false) => Some(None)
            case (c, true) =>
              val rs = unclustered.map(fl => st.stats.get(fl).flatMap(_.get(c)))
              if (rs.exists(r => !r.exists(s => s.complete && s.typ != "string")))
                None
              else Some(Some((rs.flatten.map(_.min.toString.toDouble).min,
                rs.flatten.map(_.max.toString.toDouble).max)))
          }
          if (per.forall(_.isDefined)) Some(per.flatten) else None
        }
        val box: Seq[Option[(Double, Double)]] = statsBox.getOrElse {
          val b = readStateDf(spark, path, st.copy(files = unclustered))
            .agg(logicalCols.flatMap(c => Seq(smin(col(c)), smax(col(c)))).head,
              logicalCols.flatMap(c => Seq(smin(col(c)), smax(col(c)))).tail: _*)
            .head()
          logicalCols.indices.map { i =>
            if (!numericDims(i)) None
            else {
              val lo = if (b.isNullAt(2 * i)) Double.NegativeInfinity
                else b.get(2 * i).toString.toDouble
              val hi = if (b.isNullAt(2 * i + 1)) Double.PositiveInfinity
                else b.get(2 * i + 1).toString.toDouble
              Some((lo, hi))
            }
          }
        }
        // clustered files whose stats box INTERSECTS the unclustered box
        // on every dimension must merge in (missing/incomplete stats and
        // non-numeric dimensions → conservative overlap: clustering
        // quality beats skipping a file)
        val overlapping = st.clusteredFiles.filter { fl =>
          st.clusterCols.zip(box).forall {
            case (_, None) => true
            case (c, Some((lo, hi))) =>
              st.stats.get(fl).flatMap(_.get(c)) match {
                case Some(s) if s.complete && s.typ != "string" =>
                  s.max.toString.toDouble >= lo && s.min.toString.toDouble <= hi
                case _ => true
              }
          }
        }
        val rewrite = unclustered ++ overlapping
        // Z-order the selected rows over THIS subset's observed domain
        val nOut = if (targetFiles > 0) targetFiles
          else math.max(1, rewrite.size)
        val layout: DataFrame => DataFrame =
          if (logicalCols.length == 1)
            _.repartitionByRange(nOut, col(logicalCols.head))
              .sortWithinPartitions(col(logicalCols.head))
          else rows => zOrder(rows, gridKeys(rows, logicalCols), nOut)
        subsetRewrite(t, rewrite, layout, Nil,
          (st.statsSchemaCols ++ st.clusterCols).distinct, "CLUSTER")
      }
    }
  }

  def setNdvStats(spark: SparkSession, path: String, cols: Seq[String],
                  maxAttempts: Int = 3): Long = {
    require(cols.nonEmpty, "need at least one NDV column")
    fs(spark, path).mkdirs(new Path(path))
    transact(spark, path, "ndv-stats", maxAttempts, None) { t =>
      Publish(deltaJson(t.version, t.ts, ndvCols = Some(cols.map(t.st.phys))))
    }
  }

  /** Build the per-file NDV sidecar for this commit's staged files: one
    * distributed pass over the new data (per (file, column): HLL sketch
    * + row count). O(new data); carried files keep their entries.
    */
  private def buildNdvSidecar(spark: SparkSession, path: String,
                              staged: Seq[Path], cols: Seq[String],
                              version: Long, token: String): Seq[String] = {
    import org.apache.spark.sql.functions.{col, count, hll_sketch_agg, lit}
    if (staged.isEmpty) return Nil
    val df = spark.read.parquet(staged.map(_.toString): _*)
    val present = cols.filter(df.columns.contains)
    // the reserved ROW-COUNT entry is written for EVERY staged file,
    // independent of which declared NDV columns the batch carries — so
    // rowCountFromStats coverage means table coverage, not
    // head-column coverage (an evolved append omitting one column
    // would otherwise silently shrink the count)
    val rowsEntry = df
      .select(col("_metadata.file_name").as("_graft_ndv_file"))
      .groupBy("_graft_ndv_file")
      .agg(hll_sketch_agg(lit(1L)).as("_graft_ndv_sketch"),
        count(lit(1)).as("_graft_ndv_rows"))
      .withColumn("_graft_ndv_col", lit(RowCountStatCol))
      .select("_graft_ndv_file", "_graft_ndv_col", "_graft_ndv_sketch",
        "_graft_ndv_rows")
    val perCol = present.map { c =>
      df.select(
          col("_metadata.file_name").as("_graft_ndv_file"),
          col(c))
        .groupBy("_graft_ndv_file")
        .agg(hll_sketch_agg(col(c)).as("_graft_ndv_sketch"),
          count(lit(1)).as("_graft_ndv_rows"))
        .withColumn("_graft_ndv_col", lit(c))
        .select("_graft_ndv_file", "_graft_ndv_col", "_graft_ndv_sketch",
          "_graft_ndv_rows")
    }
    val ndvDir = s"$path/ndv-$version-$token"
    (rowsEntry +: perCol).reduce(_ unionByName _).coalesce(1)
      .write.mode("overwrite").parquet(ndvDir)
    listDataFiles(fs(spark, path), new Path(ndvDir))
      .map(p => relativize(new Path(path), p))
  }

  /** Distinct-count estimate for `column` from the live files' merged
    * HLL sketches — no data scan. Returns (estimate, coveredFiles,
    * totalFiles): files committed before [[setNdvStats]] carry no
    * sketch and are NOT counted — callers treat covered < total as a
    * partial estimate (a [[compact]] rebuilds full coverage). Rows
    * deleted by live deletion vectors are still counted (sketches
    * describe the base files) — the same honesty contract as any
    * file-level statistic.
    */
  def ndvEstimate(spark: SparkSession, path: String,
                  column: String): (Long, Int, Int) = {
    import org.apache.spark.sql.functions.{broadcast, col, hll_sketch_estimate, hll_union_agg}
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val st = resolveState(spark, path, v)
    val physCol = st.phys(column)
    require(st.ndvCols.contains(physCol),
      s"no NDV index on '$column' at $path (declared: " +
        s"${st.ndvCols.mkString(", ")})")
    if (st.ndvFiles.isEmpty) return (0L, 0, st.files.size)
    // live-file restriction as a broadcast semi-join, NOT an
    // isInCollection literal list — at 10^6 files the latter is a
    // million-literal filter expression (planner bloat), the former a
    // small hashed relation
    import spark.implicits._
    val live = st.files.map(_.split("/").last).toDF("_graft_ndv_file")
    val entries = spark.read
      .parquet(st.ndvFiles.map(resolveRef(path, _)): _*)
      .filter(col("_graft_ndv_col") === physCol)
      .join(broadcast(live), Seq("_graft_ndv_file"), "left_semi")
      // rewrites re-sketch their files; keep one entry per file
      .dropDuplicates("_graft_ndv_file")
    val covered = entries.count().toInt
    if (covered == 0) return (0L, 0, st.files.size)
    val est = entries
      .agg(hll_sketch_estimate(hll_union_agg(col("_graft_ndv_sketch")))
        .as("est"))
      .head().getLong(0)
    (est, covered, st.files.size)
  }

  /** Exact row count of the covered live files from the NDV sidecar —
    * no data scan. Same (count, covered, total) coverage contract as
    * [[ndvEstimate]]; DV-deleted rows are included (base-file counts).
    */
  def rowCountFromStats(spark: SparkSession,
                        path: String): (Long, Int, Int) = {
    import org.apache.spark.sql.functions.{broadcast, col, sum}
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val st = resolveState(spark, path, v)
    require(st.ndvCols.nonEmpty, s"no NDV index declared at $path")
    if (st.ndvFiles.isEmpty) return (0L, 0, st.files.size)
    import spark.implicits._
    val live = st.files.map(_.split("/").last).toDF("_graft_ndv_file")
    val all = spark.read
      .parquet(st.ndvFiles.map(resolveRef(path, _)): _*)
      .join(broadcast(live), Seq("_graft_ndv_file"), "left_semi")
    // key on the reserved per-file ROW-COUNT entry (present for every
    // file regardless of which NDV columns its batch carried); sidecars
    // from before the reserved entry fall back to the head column
    def entriesFor(c: String) = all
      .filter(col("_graft_ndv_col") === c)
      .dropDuplicates("_graft_ndv_file")
    var entries = entriesFor(RowCountStatCol)
    var covered = entries.count().toInt
    if (covered == 0) {
      entries = entriesFor(st.ndvCols.head)
      covered = entries.count().toInt
    }
    if (covered == 0) return (0L, 0, st.files.size)
    val n = entries.agg(sum(col("_graft_ndv_rows"))).head().getLong(0)
    (n, covered, st.files.size)
  }

  /** Read with the BROADCAST decision injected from committed
    * statistics — the generalization of the `joinWithStats` facade to
    * ANY join the caller writes: when the NDV index's row count fully
    * covers the table and proves it broadcast-small, the returned frame
    * carries an explicit broadcast hint, so even under
    * `autoBroadcastJoinThreshold = -1` (or a fact-side mis-estimate)
    * every join against it plans map-side. No index / partial coverage
    * / too big → plain read, Spark plans as usual.
    *
    * Scale shape: the decision costs one O(live files) sidecar read at
    * PLAN time and closes the CBO loop the NDV index exists for — a
    * dimension proven 10⁵ rows by metadata never shuffles a 100 TB
    * fact table.
    */
  def readAuto(spark: SparkSession, path: String,
               broadcastMaxRows: Long = 1L << 22): DataFrame = {
    val df = read(spark, path)
    val smallByStats =
      try {
        val (rows, covered, total) = rowCountFromStats(spark, path)
        covered == total && rows > 0 && rows <= broadcastMaxRows
      } catch {
        case _: IllegalStateException    => false // no committed version
        case _: IllegalArgumentException => false // no NDV index
      }
    if (smallByStats) df.hint("broadcast") else df
  }

  /** UPGRADE PROTOCOL (Delta `ALTER TABLE ... SET TBLPROPERTIES
    * (delta.minReaderVersion...)`): a one-way metadata commit raising
    * the versions a client must implement. Downgrades are refused.
    */
  def upgradeProtocol(spark: SparkSession, path: String,
                      minReader: Int, minWriter: Int,
                      maxAttempts: Int = 3): Long =
    transact(spark, path, "protocol", maxAttempts,
        Some(s"no committed version at $path")) { t =>
      val st = t.st
      require(minReader >= st.minReader && minWriter >= st.minWriter,
        s"protocol downgrade refused at $path: current " +
          s"(${st.minReader}, ${st.minWriter}), requested " +
          s"($minReader, $minWriter)")
      require(minReader <= SupportedReaderVersion
          && minWriter <= SupportedWriterVersion,
        s"cannot upgrade $path past this library's own protocol " +
          s"($SupportedReaderVersion, $SupportedWriterVersion); " +
          s"requested ($minReader, $minWriter) — a client must " +
          "implement the protocol it declares (Delta's rule)")
      Publish(deltaJson(t.version, t.ts,
        protocol = Some((minReader, minWriter)), op = Some("PROTOCOL")))
    }

  /** GENERATE symlink_format_manifest (Delta's `GENERATE` /
    * `deltaTable.generate(...)`) — publish the CURRENT snapshot's live
    * file list as plain text manifests under
    * `<table>/_symlink_format_manifest/`, the layout Presto / Trino /
    * Athena / Hive readers consume to query the table without
    * implementing the log protocol: one `manifest` text file per
    * partition directory (at the root for unpartitioned layouts), each
    * line a fully-qualified file URI. Driver metadata only — O(files)
    * names, zero data read, at any table size.
    *
    * Stale content from earlier generations is removed first, so the
    * manifest NEVER references dropped partitions. Like Delta, the
    * manifest is a point-in-time EXPORT: re-run after commits that
    * change the file set (readers see the generated snapshot until
    * then). Refused while deletion vectors are live — a symlink
    * consumer cannot apply DV masks; [[compact]] the DVs away first —
    * and on column-mapped tables, whose files carry physical col-N
    * names external readers cannot resolve (delta-spark refuses both).
    * Returns the number of manifest files written.
    */
  def generateSymlinkManifest(spark: SparkSession, path: String): Int = {
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val st = resolveState(spark, path, v)
    require(st.dvFiles.isEmpty,
      s"cannot generate a symlink manifest for $path while deletion " +
        "vectors are live — external readers cannot apply DV masks; " +
        "compact first")
    // Same export hazard as DVs: a column-mapped table's parquet files
    // carry physical col-N names that a manifest consumer cannot map
    // back to logical columns — delta-spark refuses GENERATE under
    // column mapping for exactly this reason.
    require(!st.mapped,
      s"cannot generate a symlink manifest for $path under column " +
        "mapping — the data files carry physical column names that " +
        "external readers cannot resolve to the logical schema")
    val f = fs(spark, path)
    val root = new Path(path, "_symlink_format_manifest")
    if (f.exists(root)) f.delete(root, true)
    // group live files by their k=v partition dir chain (empty chain =
    // unpartitioned snapshot layout)
    val qualified = f.makeQualified(new Path(path)).toString.stripSuffix("/")
    val byPartition = st.files.groupBy { rel =>
      rel.split("/").dropRight(1).filter(_.contains("=")).mkString("/")
    }
    byPartition.toSeq.sortBy(_._1).foreach { case (part, refs) =>
      val dir = if (part.isEmpty) root else new Path(root, part)
      f.mkdirs(dir)
      val body = refs.sorted.map { r =>
        val abs = resolveRef(qualified, r)
        if (isExternalRef(abs) && abs.matches("[a-zA-Z][a-zA-Z0-9+.-]*:/.*"))
          abs
        else f.makeQualified(new Path(abs)).toString
      }.mkString("", "\n", "\n")
      val out = f.create(new Path(dir, "manifest"), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    byPartition.size
  }

  /** The file URIs a generated symlink manifest exports — what an
    * external engine (Presto/Trino/Athena) would read. Driver-side
    * O(manifest files). */
  def symlinkManifestFiles(spark: SparkSession,
                           path: String): Seq[String] = {
    val f = fs(spark, path)
    val root = new Path(path, "_symlink_format_manifest")
    require(f.exists(root),
      s"no symlink manifest at $path — run generateSymlinkManifest first")
    def walk(dir: Path): Seq[String] = {
      f.listStatus(dir).toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else if (s.getPath.getName == "manifest") {
          val in = f.open(s.getPath)
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().toList.filter(_.nonEmpty)
          finally in.close()
        } else Nil
      }
    }
    walk(root).sorted
  }

  /** SET TBLPROPERTIES (Delta's `ALTER TABLE ... SET TBLPROPERTIES`):
    * merge `props` into the table's user property map as one metadata
    * commit — zero data I/O at any table size. The `graft.` key prefix
    * is RESERVED for engine-managed features (protocol versions, row
    * tracking, identity — each has its own verb with its own
    * invariants); free-form keys are the user's namespace, carried
    * through checkpoints, clones and RESTORE (properties roll back
    * with the state, Delta's rule).
    */
  def setProperties(spark: SparkSession, path: String,
                    props: Map[String, String],
                    maxAttempts: Int = 3): Long = {
    props.keys.foreach(k =>
      require(!k.toLowerCase.startsWith("graft.") || TunableProps.contains(k),
        s"property key '$k' is reserved — engine features are set via " +
          "their own verbs (UPGRADE PROTOCOL, ENABLE ROW TRACKING, ...); " +
          s"settable graft.* tuning knobs: ${TunableProps.mkString(", ")}"))
    require(props.nonEmpty, "SET TBLPROPERTIES needs at least one key")
    propertiesCommit(spark, path, maxAttempts,
      st => st.properties ++ props, "SET TBLPROPERTIES")
  }

  /** Commit the user property map WHOLESALE (`properties = props`,
    * stale keys dropped) — the REPLACE TABLE contract: Delta's RTAS
    * resets metadata to the declared set instead of merging into the
    * replaced table's map. No-op (no commit) when the map is already
    * exactly `props`. */
  def replaceProperties(spark: SparkSession, path: String,
                        props: Map[String, String],
                        maxAttempts: Int = 3): Long = {
    props.keys.foreach(k =>
      require(!k.toLowerCase.startsWith("graft.") || TunableProps.contains(k),
        s"property key '$k' is reserved — engine features are set via " +
          "their own verbs (UPGRADE PROTOCOL, ENABLE ROW TRACKING, ...); " +
          s"settable graft.* tuning knobs: ${TunableProps.mkString(", ")}"))
    propertiesCommit(spark, path, maxAttempts,
      _ => props, "REPLACE TBLPROPERTIES")
  }

  /** UNSET TBLPROPERTIES — removes keys (absent keys are a no-op, the
    * Delta/Spark `IF EXISTS` default). */
  def unsetProperties(spark: SparkSession, path: String,
                      keys: Seq[String], maxAttempts: Int = 3): Long = {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES needs at least one key")
    propertiesCommit(spark, path, maxAttempts,
      st => st.properties -- keys, "UNSET TBLPROPERTIES")
  }

  /** Current user property map (SHOW TBLPROPERTIES). */
  def tableProperties(spark: SparkSession,
                      path: String): Map[String, String] =
    currentVersion(spark, path)
      .map(resolveState(spark, path, _).properties).getOrElse(Map.empty)

  /** Pipeline-definition property keys on an EVENT-LOG table — verb-
    * managed (`CREATE PIPELINE` writes them, [[setProperties]]'s
    * reserved-prefix guard keeps users out): the pipeline's name and
    * its FULL original `CREATE PIPELINE` SQL text, the persisted
    * definition a fresh session restores the registration from
    * (`RESTORE PIPELINE FROM '<event log>'`). ACID like any property
    * commit; travels with clones and survives RESTORE. */
  val PipelineNameKey = "graft.pipeline.name"
  val PipelineDefKey = "graft.pipeline.definition"

  /** Persist the pipeline's definition on its event-log table (the
    * `CREATE PIPELINE` verb's managed metadata commit). */
  def setPipelineDefinition(spark: SparkSession, path: String,
                            name: String, sql: String): Long =
    propertiesCommit(spark, path, maxAttempts = 3,
      st => st.properties ++
        Map(PipelineNameKey -> name, PipelineDefKey -> sql),
      "CREATE PIPELINE (definition)")

  /** The persisted (name, CREATE PIPELINE sql) pair on an event-log
    * table — None when absent or the table carries no definition. */
  def pipelineDefinition(spark: SparkSession,
                         path: String): Option[(String, String)] = {
    val props = tableProperties(spark, path)
    for {
      n <- props.get(PipelineNameKey)
      s <- props.get(PipelineDefKey)
    } yield (n, s)
  }

  /** Column DEFAULT declarations (column → SQL expression text). */
  def columnDefaults(spark: SparkSession,
                     path: String): Map[String, String] =
    currentVersion(spark, path)
      .map(resolveState(spark, path, _).defaults).getOrElse(Map.empty)

  /** Declare a column DEFAULT (Delta/SQL `ALTER TABLE ... ALTER COLUMN
    * c SET DEFAULT expr`): a metadata-only commit recording the
    * expression that fills the column when a write DOESN'T supply it —
    * SQL `INSERT INTO t (cols)` with the column absent, and MERGE
    * `INSERT (cols) VALUES` clauses that leave it unassigned. Existing
    * rows are untouched (this is write-time metadata, not a backfill —
    * Delta's rule exactly; it refuses ADD COLUMN ... DEFAULT for the
    * same reason).
    *
    * The expression must be CONSTANT (no column references — it is
    * evaluated without a row) and castable to the column's type; both
    * validate here, at declaration time, the way constraints do.
    */
  /** Validate a DEFAULT expression: CONSTANT (no column references —
    * evaluated against a one-row frame whose only column is
    * unguessable, so any table-column reference, even one named `id`,
    * fails analysis) and castable to `dt`. Shared by declare time and
    * the CREATE TABLE DDL's pre-commit validation — a bad inline
    * DEFAULT must refuse before the empty-schema commit publishes. */
  def validateColumnDefault(spark: SparkSession, column: String,
                            exprSql: String,
                            dt: org.apache.spark.sql.types.DataType): Unit = {
    import org.apache.spark.sql.functions.{expr, lit}
    val probeDf =
      try spark.range(1).select(lit(0L).as("__graft_no_columns__"))
        .select(expr(exprSql).cast(dt).as("d"))
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"DEFAULT for '$column' must be a constant expression " +
            s"castable to $dt — ($exprSql) failed: ${e.getMessage}")
      }
    // the probe must also be DETERMINISTIC: rand()/uuid() would pass
    // the row-less evaluation but yield a different value per inserted
    // row and per statement — Delta/Spark require constant-foldable
    // defaults, and a "default" that never repeats is a data bug
    probeDf.queryExecution.analyzed.expressions.foreach(_.foreach { e =>
      if (!e.deterministic) throw new IllegalArgumentException(
        s"DEFAULT for '$column' must be deterministic — ($exprSql) " +
          s"contains non-deterministic ${e.prettyName}(), which would " +
          "yield a different value per inserted row/statement " +
          "(Delta/Spark require constant-foldable defaults)")
    })
    val probe =
      try probeDf.head()
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"DEFAULT for '$column' must be a constant expression " +
            s"castable to $dt — ($exprSql) failed: ${e.getMessage}")
      }
    require(probe != null, "default probe returned no row")
  }

  def setColumnDefault(spark: SparkSession, path: String, column: String,
                       exprSql: String, maxAttempts: Int = 3): Long =
    transact(spark, path, "default", maxAttempts,
        Some(s"no committed version at $path to declare a default on")) { t =>
      val schema = t.st.schema.getOrElse(readStateDf(spark, path, t.st).schema)
      // SQL identifiers resolve case-insensitively everywhere else the
      // default is CONSUMED (INSERT column lists, UPDATE SET) — the
      // declaration must match, canonicalized to the schema's spelling
      val canon = schema.fieldNames.find(_.equalsIgnoreCase(column))
        .getOrElse(throw new IllegalArgumentException(
          s"cannot declare a default on unknown column '$column' at $path"))
      validateColumnDefault(spark, canon, exprSql, schema(canon).dataType)
      Publish(deltaJson(t.version, t.ts,
        defaultAdds = Map(canon -> exprSql), op = Some("METADATA")))
    }

  /** `ALTER TABLE ... ALTER COLUMN c DROP DEFAULT` — the column falls
    * back to NULL fill (absent declarations are a no-op). */
  def dropColumnDefault(spark: SparkSession, path: String, column: String,
                        maxAttempts: Int = 3): Long =
    transact(spark, path, "default", maxAttempts,
        Some(s"no committed version at $path")) { t =>
      // declarations are stored under the schema's spelling; drop the
      // same way SET resolves — case-insensitively; none is a no-op
      t.st.defaults.keys.find(_.equalsIgnoreCase(column)) match {
        case None => Done(t.base)
        case Some(canon) => Publish(deltaJson(t.version, t.ts,
          defaultRemoves = Seq(canon), op = Some("METADATA")))
      }
    }

  private def propertiesCommit(spark: SparkSession, path: String,
                               maxAttempts: Int,
                               change: TableState => Map[String, String],
                               opName: String): Long =
    transact(spark, path, opName, maxAttempts,
        Some(s"no committed version at $path")) { t =>
      val next = change(t.st)
      if (next == t.st.properties) Done(t.base) // no-op change, no commit
      else Publish(deltaJson(t.version, t.ts,
        op = Some(opName), properties = Some(next)))
    }

  /** ENABLE ROW TRACKING (Delta 3.x `delta.enableRowTracking`): every
    * row gets a stable long id (hidden physical column [[RowIdCol]])
    * assigned at first write and PRESERVED through copy-on-write
    * rewrites — a merge's updated row keeps its base row's id, carried
    * rows keep theirs verbatim, compaction and Z-order rewrites carry
    * ids through, and fresh inserts draw ids above a monotone
    * high-water mark that survives restore. The id never appears in
    * the logical schema; [[readWithRowIds]] exposes it. Downstream
    * this is what row-level incremental view maintenance and row
    * lineage key on.
    *
    * Declare on an EMPTY table (no data files yet) — enabling later
    * would require a backfill rewrite, which the caller can do
    * explicitly (compact, then enable is still refused — ids must
    * exist from the first write to be stable).
    */
  def enableRowTracking(spark: SparkSession, path: String,
                        maxAttempts: Int = 3): Long = {
    fs(spark, path).mkdirs(new Path(path))
    transact(spark, path, "row-tracking", maxAttempts, None) { t =>
      // "empty" is a ROW-level fact: the declare-schema DDL commit
      // stages a zero-row parquet file, which must still count as
      // empty (CREATE TABLE (cols) TBLPROPERTIES enables here)
      require(t.st.files.isEmpty ||
          readStateDf(spark, path, t.st).limit(1).isEmpty,
        s"cannot enable row tracking on non-empty $path — ids must " +
          "exist from the first write to be stable")
      Publish(deltaJson(t.version, t.ts,
        rowTracking = Some(true), rowHighWater = Some(0L)))
    }
  }

  /** Read the current version WITH the stable row id exposed as
    * [[RowIdCol]] (row-tracked tables only).
    */
  def readWithRowIds(spark: SparkSession, path: String): DataFrame = {
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val st = resolveState(spark, path, v)
    require(st.rowTracking, s"row tracking is not enabled at $path")
    readStateDf(spark, path, st.copy(schema = st.rowIdSchema))
  }

  /** A committed version WITH row ids exposed ([[readWithRowIds]] for
    * the current version).
    */
  def readVersionWithRowIds(spark: SparkSession, path: String,
                            version: Long): DataFrame = {
    val st = resolveState(spark, path, version)
    require(st.rowTracking, s"row tracking is not enabled at $path")
    readStateDf(spark, path, st.copy(schema = st.rowIdSchema))
  }

  /** Assign fresh ids above the high-water mark to rows lacking one;
    * rows that already carry [[RowIdCol]] keep it (rewrite paths).
    * Returns the id-bearing frame; the caller computes the new
    * high-water from the STAGED files afterwards.
    */
  private def assignRowIds(df: DataFrame, highWater: Long): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, monotonically_increasing_id}
    if (df.columns.contains(RowIdCol))
      df.withColumn(RowIdCol,
        coalesce(col(RowIdCol),
          monotonically_increasing_id() + lit(highWater + 1L)))
    else df.withColumn(RowIdCol,
      monotonically_increasing_id() + lit(highWater + 1L))
  }

  /** New high-water after a tracked commit: max staged id + 1 — one
    * columnar scan of the NEW files' id column only (O(new rows), a
    * single long column).
    */
  /** Footer-statistics fast path for the staged-file long-column
    * maxima (row-id / identity high waters): INT64 row-group stats
    * are EXACT, so the max comes from the footers alone — driver
    * metadata, ZERO Spark jobs per commit (r13; this was one extra
    * columnar scan job on every row-tracked/identity commit). Returns
    * None when any file's stats are unusable (mixed all-null groups,
    * non-long physical type) — the caller falls back to the scan,
    * never a partial mix.  Inner Option: Some(max) when the column
    * holds values, None when it is absent/value-free everywhere.
    */
  private def stagedLongMaxViaFooters(spark: SparkSession,
                                      staged: Seq[Path],
                                      colName: String): Option[Option[Long]] = {
    var best = Long.MinValue
    var any = false
    staged.foreach { p =>
      footerStats(spark, p, Seq(colName)).get(colName) match {
        case Some(s) if s.complete && s.typ == "long" =>
          best = math.max(best, s.max.asInstanceOf[Long]); any = true
        case Some(_) => return None // untrustworthy stats → scan
        case None    => ()          // column absent here: contributes nothing
      }
    }
    Some(if (any) Some(best) else None)
  }

  private def stagedHighWater(spark: SparkSession, staged: Seq[Path],
                              fallback: Long): Long = {
    import org.apache.spark.sql.functions.{col, max => smax}
    if (staged.isEmpty) fallback
    else stagedLongMaxViaFooters(spark, staged, RowIdCol) match {
      case Some(vs) =>
        vs.map(v => math.max(v + 1L, fallback)).getOrElse(fallback)
      case None =>
        val r = spark.read.parquet(staged.map(_.toString): _*)
        if (!r.columns.contains(RowIdCol)) fallback
        else Option(r.agg(smax(col(RowIdCol))).head().get(0))
          .map(_.asInstanceOf[Long] + 1L).map(math.max(_, fallback))
          .getOrElse(fallback)
    }
  }

  /** Max of a staged files' LONG column (identity high-water scan) —
    * one columnar read of the new files only; `fallback` when the
    * column is absent or all-null. */
  private def stagedColMax(spark: SparkSession, staged: Seq[Path],
                           colName: String, fallback: Long): Long = {
    import org.apache.spark.sql.functions.{col, max => smax}
    if (staged.isEmpty) fallback
    else stagedLongMaxViaFooters(spark, staged, colName) match {
      case Some(vs) => vs.map(math.max(_, fallback)).getOrElse(fallback)
      case None =>
        val r = spark.read.parquet(staged.map(_.toString): _*)
        if (!r.columns.contains(colName)) fallback
        else Option(r.agg(smax(col(colName).cast("long"))).head().get(0))
          .map(v => math.max(v.asInstanceOf[Long], fallback))
          .getOrElse(fallback)
    }
  }

  /** Writer-version gate, run by [[transact]] on every attempt. */
  private def assertWritable(st: TableState, path: String): Unit =
    if (st.minWriter > SupportedWriterVersion)
      throw new IllegalStateException(
        s"table at $path requires protocol writer version " +
          s"${st.minWriter}; this library implements " +
          s"$SupportedWriterVersion — reading is allowed, writing is not")

  /** One write/append attempt against `t`'s base: stage the batch in a
    * fresh snapshot dir and build the log entry that publishes it
    * ([[write]], [[append]] and [[copyInto]] commit through here). */
  private def writeAttempt(t: Txn, df: DataFrame, partitionCols: Seq[String],
                           statsCols: Seq[String],
                           carryForward: Boolean, tag: Option[String],
                           tagHorizon: Int = DefaultTagHorizon,
                           partitionColsDecl: Seq[String] = Nil,
                           copyAdds: Seq[String] = Nil,
                           txn: Option[(String, Long)] = None,
                           generatedAdds: Map[String, String] = Map.empty,
                           propertiesFull: Option[Map[String, String]] = None,
                           statsSchemaDecl: Option[Seq[String]] = None): Attempt = {
    import t.{f, path, spark, st, token, version}
    // writer-transaction idempotency (Delta's txnAppId/txnVersion,
    // MONOTONE): a write whose version is at or below the app's last
    // committed one is a stale replay — skip without committing.
    // Checked INSIDE the retry loop, so losing an OCC race to a
    // sibling replay of the same (app, ver) still lands exactly once.
    txn.foreach { case (app, ver) =>
      st.txns.get(app).foreach { last =>
        if (ver <= last) return Done(t.base)
      }
    }
    // fail-fast twin of append's layout require: appending onto a base
    // version whose files live in k=v partition dirs would commit an
    // unreadable mixed layout
    if (carryForward)
      require(!st.files.exists(_.split("/").exists(_.contains("="))),
        s"cannot append onto partitioned version ${st.version} of $path — " +
          "rewrite it unpartitioned first (compact) or overwrite")
    // schema rides the log (Delta keeps it there too): an overwrite
    // commits the batch's schema; an append commits the EVOLVED union.
    // Computed BEFORE staging: an incompatible append fails fast,
    // leaving no orphan files.
    // generated columns first: an omitted generated column is computed
    // (it must exist before schema/mapping/stats are derived), a
    // present one is enforced inside the staging pass. `generatedAdds`
    // (declarations landing WITH this commit — the shred writer's
    // one-commit contract) participate immediately.
    val genApplied0 = generatedGuard(df, st.generated ++ generatedAdds)
    // IDENTITY column: assigned when the batch omits it (BY DEFAULT
    // semantics — a present column keeps its values and the high
    // water advances past them after staging). Values are unique by
    // construction: hw + (monotonic id + 1) × step, gaps allowed.
    val genApplied = st.identityCol.map(st.logical) match {
      case Some(lc) if !genApplied0.columns.contains(lc) =>
        genApplied0.withColumn(lc,
          (org.apache.spark.sql.functions.lit(st.identityHighWater) +
            (org.apache.spark.sql.functions.monotonically_increasing_id()
              + 1L) * st.identityStep).cast(LongType))
      case _ => genApplied0
    }
    // shred binding metadata: on a shred-spec'd table, re-tag the
    // shred columns (writer-of/path binding) and the variant column
    // (shredded marker) so the committed schema carries the identity
    // ShredSubstitution requires — projection only, no recompute;
    // a no-op on tables without a spec
    val genTagged = VariantShred.retag(genApplied,
      propertiesFull.getOrElse(st.properties))
    val tracked = st.rowTracking
    // the row id is PHYSICAL only — never part of the logical schema
    val logicalIn = StructType(
      genTagged.schema.fields.filterNot(_.name == RowIdCol))
    val schema =
      if (carryForward)
        st.schema.map(evolve(_, logicalIn)).getOrElse(logicalIn)
      else logicalIn
    // column mapping: files hold PHYSICAL names. Retained logicals
    // keep their physical; a logical name NEW to the table gets a
    // FRESH physical from the monotone counter, so a column dropped
    // and later re-added can never resurrect old file data.
    val prevMapped = st.mapped
    val (newMapping, newMaxColId) =
      if (!prevMapped) (Map.empty[String, String], 0L)
      else {
        val prevLogical = st.schema.map(_.fieldNames.toSet)
          .getOrElse(Set.empty[String])
        val keep =
          if (carryForward) st.mapping
          else st.mapping.filter { case (l, _) =>
            logicalIn.fieldNames.contains(l) }
        var id = st.maxColId
        val fresh = logicalIn.fieldNames.filterNot(prevLogical)
          .map { n => id += 1; n -> s"col-$id" }
        (keep ++ fresh, id)
      }
    // stats columns: per-commit argument overrides; else a stats
    // schema DECLARED with this commit; else the table's declared
    // stats schema (stored physical — rename-safe)
    val statsColsPhys =
      if (statsCols.nonEmpty) {
        if (!prevMapped) statsCols
        else statsCols.map(c => newMapping.getOrElse(c, c))
      } else statsSchemaDecl.getOrElse(st.statsSchemaCols)
    // persisted EXPECTATIONS (DLT's table-bound quality rules) gate
    // the batch in the SAME staging pass: FAIL rules abort the write
    // job (nothing lands), DROP rules filter violating rows, WARN
    // rules keep them — and per-rule violation/pass counts observe
    // DURING the staging write itself (one pass, zero extra scans),
    // landing in this commit's log entry below (DLT's event log).
    // Maintenance rewrites never come here ([[subsetRewrite]])
    val expectGate =
      if (st.expectations.isEmpty) None
      else Some(Expectations.commitGate(genTagged, st.expectations,
        s"graft-expect-$version-$token"))
    val expectGated = expectGate.map(_._1).getOrElse(genTagged)
    // CHECK constraints enforce inside the staging pass: a violating
    // row fails the write job, no manifest lands, readers see nothing
    val guarded0 = constraintGuard(expectGated, st.constraints)
    // row ids: fresh above the high-water mark for rows lacking one;
    // a batch read through readWithRowIds keeps its own
    val guarded =
      if (tracked) assignRowIds(guarded0, st.rowHighWater)
      else guarded0
    // a batch ARRIVING with row ids is a caller asserting id
    // authority it may not have:
    // validate uniqueness before anything lands, so a buggy caller
    // cannot silently corrupt the contract changesByRowId and feed
    // consumers key on. One aggregate over the staging batch, only on
    // tracked tables whose input carries the column.
    if (tracked && df.columns.contains(RowIdCol)) {
      val chk = guarded.agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.countDistinct(
          org.apache.spark.sql.functions.col(RowIdCol)).as("d")).head()
      require(chk.getLong(0) == chk.getLong(1),
        s"batch carries duplicate $RowIdCol values " +
          s"(${chk.getLong(0)} rows, ${chk.getLong(1)} distinct ids) — " +
          "caller-supplied row ids must be unique")
    }
    // files hold PHYSICAL names (the row id keeps its reserved one):
    // [[Txn.stage]] renames through the evolved mapping as it writes
    val rename: String => String = n => newMapping.getOrElse(n, n)
    // DECLARED partitioning (empty-table DDL / first-write
    // declaration): an overwrite that names no layout inherits the
    // table's declaration; an explicit partitionBy always wins
    val effPartCols =
      if (partitionCols.nonEmpty || carryForward) partitionCols
      else if (partitionColsDecl.nonEmpty) partitionColsDecl
      else st.partitionColsDecl
    // partition DIRS carry physical names on mapped tables (k=v is
    // file layout, like footers) — reads translate via the mapping
    val partColsPhys =
      if (!prevMapped) effPartCols
      else effPartCols.map(rename)
    // ingestion-time clustering (liquid-clustering shape): declared
    // cluster columns (stored physical) sort each staged file LOCALLY
    // — zero shuffle, tight per-file stats on the cluster key from the
    // first commit; [[optimizeClustered]] does the global incremental
    // recluster
    val clusterCols =
      st.clusterCols.flatMap(c => guarded.columns.find(rename(_) == c))
    require(clusterCols.isEmpty || partColsPhys.isEmpty,
      s"table $path has cluster columns declared — clustering " +
        "replaces partitioning (write without partitionBy)")
    def clustered(d: DataFrame, cols: Seq[String]): DataFrame =
      if (cols.isEmpty) d
      else d.sortWithinPartitions(
        cols.map(org.apache.spark.sql.functions.col): _*)
    // OPTIMIZED WRITE (`graft.autoOptimize.optimizeWrite`): coalesce
    // the staged batch toward the target file size instead of
    // committing one sliver per shuffle partition — the write-time
    // small-file control a streaming ingest needs (delta's
    // optimizeWrite shape). Shuffle-free: coalesce only MERGES
    // partitions, so a batch under the target stages as ONE file
    // while a big batch keeps its write parallelism. Sized from the
    // optimizer's byte estimate (plan stats — on-disk bytes for
    // scan-shaped inputs, a row-size model elsewhere).
    val tableProps = st.properties
    val optimizeWrite = tableProps.get(OptimizeWriteProp)
      .exists(_.equalsIgnoreCase("true"))
    val owTarget = tableProps.get("graft.autoOptimize.targetFileSize")
      .flatMap(_.toLongOption).filter(_ > 0L)
      .getOrElse(AutoOptimizeTargetBytes)
    val toStage =
      if (!optimizeWrite) clustered(guarded, clusterCols)
      else {
        val est = guarded.queryExecution.optimizedPlan.stats.sizeInBytes
        val n = ((est + owTarget - 1) / owTarget)
          .min(BigInt(1 << 20)).max(BigInt(1)).toInt
        // coalesce FIRST, then the cluster sort: coalesce on top of
        // sortWithinPartitions concatenates sorted runs, silently
        // degrading clustered layout whenever optimizeWrite merges
        // partitions (the repack pass below orders it this way too)
        clustered(guarded.coalesce(n), clusterCols)
      }
    // OPTIMIZED WRITE, post-hoc exactness pass: the plan-stats
    // estimate above can be UNKNOWN (RDD-backed frames — the
    // streaming sink's rebased micro-batches — default to
    // Long.MaxValue, leaving the coalesce a no-op) or simply off.
    // When the STAGED layout holds more files than its MEASURED
    // bytes warrant, repack the staged output before anything reads
    // it — cost bounded by the sliver bytes themselves (it can only
    // trigger when average file size is under the target), the
    // commit still lands exactly once. The repack read pins the
    // staged schema (partition dirs re-read under their written
    // types, never re-inferred) and restores the cluster sort.
    val snapDir = t.dir("snap")
    def repack(phys: DataFrame, staged: Seq[Path]): Seq[Path] =
      if (!optimizeWrite || staged.size <= 1) staged
      else {
        val stagedBytes = staged.map { p =>
          try f.getFileStatus(p).getLen
          catch { case _: java.io.IOException => owTarget } // conservative
        }.sum
        val want = math.max(1L, (stagedBytes + owTarget - 1L) / owTarget)
        if (want >= staged.size) staged
        else {
          val snapDir2 = s"$snapDir-r"
          val back = spark.read.schema(phys.schema).parquet(snapDir)
            .coalesce(want.toInt)
          val w2 = clustered(back, clusterCols.map(rename)).write
            .mode("overwrite")
          (if (partColsPhys.nonEmpty) w2.partitionBy(partColsPhys: _*)
           else w2).parquet(snapDir2)
          val repacked = listDataFiles(f, new Path(snapDir2))
          // a PARTITIONED repack re-splits by partition value and may
          // not shrink — keep whichever layout holds fewer files
          if (repacked.nonEmpty && repacked.size < staged.size) {
            f.delete(new Path(snapDir), true)
            repacked
          } else {
            f.delete(new Path(snapDir2), true)
            staged
          }
        }
      }
    // an append onto a committed version keeps its files; any other
    // write is the version's only data
    val staged = t.stage(Some(toStage), partColsPhys, statsColsPhys,
      survives = carryForward && t.base > 0L, rename, repack)
    // overwrite: every previous file (and deletion vector, and index
    // sidecar) leaves the state; append: nothing leaves. Carried stats
    // survive appends by construction — a stats-less streaming append
    // only leaves its own files unindexed.
    val removes = if (carryForward) Nil else st.files
    val dvRemoves = if (carryForward) Nil else st.dvFiles
    val bloomRemoves = if (carryForward) Nil else st.bloomFiles
    val ndvRemoves = if (carryForward) Nil else st.ndvFiles
    // expectation metrics materialized with the staging write above
    // (the observe fired inside that action — no extra job here)
    val expectCounts: Map[String, (Long, Long)] =
      expectGate.map { case (_, obs, names) =>
        Expectations.metricsOf(obs, names) }.getOrElse(Map.empty)
    val json = deltaJson(version, t.ts, staged.adds, removes,
      staged.stats, tag, tagHorizon, Some(schema), dvRemoves = dvRemoves,
      bloomAdds = staged.bloomAdds, bloomRemoves = bloomRemoves,
      mapping = if (prevMapped) Some(newMapping) else None,
      maxColId = if (prevMapped) Some(newMaxColId) else None,
      ndvAdds = staged.ndvAdds, ndvRemoves = ndvRemoves,
      op = Some(if (copyAdds.nonEmpty) "COPY"
        else if (carryForward) "APPEND" else "WRITE"),
      rowHighWater = if (!tracked) None else Some(staged.rowHighWater),
      // identity high water from the STAGED files' own column, so
      // supplied values advance it too
      identityHighWater = staged.identityHighWater,
      partitionColsDecl =
        if (partitionColsDecl.nonEmpty) Some(partitionColsDecl) else None,
      copyAdds = copyAdds, txn = txn,
      generatedAdds = generatedAdds,
      properties = propertiesFull,
      statsSchema = statsSchemaDecl,
      expectMetrics = expectCounts)
    // a lost race drops this attempt's staging; the next re-stages
    Publish(json, staged.cleanup :+ s"$snapDir-r", autoCompact = true)
  }

  // ------------------------------------------------------------------
  // Keyed MERGE (copy-on-write + deletion vectors)
  // ------------------------------------------------------------------

  /** Row-level keyed MERGE (upsert/delete) — the delta-spark flagship
    * write op re-expressed over the commit log. Semantics per key: an
    * `updates` row whose key matches a base row REPLACES it; a
    * non-matching row INSERTS; a row flagged true in `deleteCol`
    * DELETES its key (no insert).
    *
    * Copy-on-write file selection — the part that decides whether this
    * works at 100 TB:
    *
    *  1. PRUNE (metadata-only, driver): partition values, then per-file
    *     key stats, against the updates' key range — on a partitioned
    *     or key-clustered table a 0.1%-of-keys merge prunes almost
    *     every file without reading a byte of data. Decimal/string/date
    *     keys skip the numeric prune ([[statsPrunable]]) — slower,
    *     never wrong.
    *  2. SEMI-JOIN CONFIRM (one distributed job over the SURVIVORS
    *     only): scan candidates with their file names, broadcast-join
    *     the update keys, collect the (file, key) matches — O(candidate
    *     bytes) scan, O(matched update keys) driver data, `Set`-based
    *     bookkeeping (no quadratic suffix scans).
    *  3. REWRITE touched files only (partition layout preserved on
    *     partitioned tables; rewrites land inside their partitions by
    *     `partitionBy`): surviving rows plus ALL upsert rows stage into
    *     a fresh snapshot dir; untouched files are carried VERBATIM
    *     (physically the same bytes). With `deleteVectors = true`,
    *     files touched ONLY by deletes are not rewritten at all: the
    *     deleted (file, key) pairs commit as a deletion-vector sidecar
    *     (merge-on-read — reads anti-join it, [[compact]] folds it);
    *     a delete-only merge then writes ZERO data files.
    *
    * The update side is broadcast (merges are small-vs-big by nature; a
    * merge whose update side rivals the table should be an overwrite).
    * Schema contract: `updates` carries exactly the table's columns
    * (plus `deleteCol`) with identical types — merge never evolves
    * schema. NULL keys follow SQL join semantics end to end: null-keyed
    * update rows insert (upserts) or drop (deletes); null-keyed base
    * rows are never touched. Duplicate keys in `updates` write ALL
    * their rows (the matched base row is dropped once) — callers
    * needing Delta's multiple-match error use [[mergeConditional]].
    * Same OCC retry loop as every commit; an optional `tag` makes the
    * merge replay-idempotent.
    */
  def merge(updates: DataFrame, path: String, key: String,
            deleteCol: Option[String] = None,
            statsCols: Seq[String] = Nil, maxAttempts: Int = 3,
            tag: Option[String] = None,
            tagHorizon: Int = DefaultTagHorizon,
            sortCols: Seq[String] = Nil,
            deleteVectors: Boolean = false,
            schemaEvolution: Boolean = false): Long =
    mergeKeyed(updates, path, Seq(key), deleteCol, statsCols, maxAttempts,
      tag, tagHorizon, sortCols, deleteVectors, schemaEvolution)

  /** [[merge]] on a COMPOSITE natural key — `keys` is the conjunction
    * of equi-key columns (`t.k1 = s.k1 AND t.k2 = s.k2`), the common
    * shape for real upserts (order_id+line_no, date+entity). All
    * single-key machinery generalizes: file pruning intersects the
    * per-column stats ranges of EVERY prunable key column, deletion
    * vectors record one sidecar column per key, row tracking inherits
    * on the full composite. NULL semantics are SQL's: a row matches
    * only when every key column equates non-null.
    */
  def mergeKeyed(updates: DataFrame, path: String, keys: Seq[String],
                 deleteCol: Option[String] = None,
                 statsCols: Seq[String] = Nil, maxAttempts: Int = 3,
                 tag: Option[String] = None,
                 tagHorizon: Int = DefaultTagHorizon,
                 sortCols: Seq[String] = Nil,
                 deleteVectors: Boolean = false,
                 schemaEvolution: Boolean = false): Long = {
    val spark = updates.sparkSession
    validateMergeKeys(keys)
    transact(spark, path, "merge", maxAttempts,
        Some(s"no committed version at $path to merge into"), tag)(
      mergeAttempt(updates, _, keys, deleteCol, statsCols, tag,
        tagHorizon, sortCols, deleteVectors,
        schemaEvolution = schemaEvolution))
  }

  /** The merge-source broadcast gate in rows
    * (`spark.graft.mergeBroadcastRows`, default
    * [[MergeBroadcastMaxRows]]): a source at or under it broadcasts
    * into the confirm scan / row-id / carry joins (zero base exchange);
    * past it those joins shuffle — the source never lands whole on the
    * driver or a single executor. The row count itself rides jobs the
    * merge already runs (the key-stats aggregate in
    * [[mergeMultiKeyed]], the bounds aggregate in the keyed
    * copy-on-write) — no dedicated probe pass. */
  private def mergeGateRows(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.mergeBroadcastRows")
      .flatMap(_.toLongOption).getOrElse(MergeBroadcastMaxRows)
      .max(0L)

  /** Merge keys must be non-empty, distinct, and comma-free (the
    * manifest records the composite dvKey/mergeKey comma-joined; a
    * comma INSIDE a column name would corrupt that encoding, so it
    * refuses up front — no sane schema names columns with commas). */
  private def validateMergeKeys(keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "merge needs at least one key column")
    require(keys.distinct.size == keys.size,
      s"merge keys must be distinct, got ${keys.mkString("(", ",", ")")}")
    keys.foreach(k => require(!k.contains(","),
      s"merge key column '$k' contains a comma — unsupported (the " +
        "manifest encodes composite keys comma-joined)"))
  }

  /** Sidecar column names for an n-key deletion vector: the single-key
    * name is the historical `_graft_dv_key` (existing tables keep
    * reading); composite keys append `_graft_dv_key_1..n-1`. */
  private def dvKeyColNames(n: Int): Seq[String] =
    if (n <= 1) Seq("_graft_dv_key")
    else "_graft_dv_key" +: (1 until n).map(i => s"_graft_dv_key_$i")

  /** One merge attempt against `t`'s base version: stage the touched
    * files' rewrite and build the log entry. A lost race re-runs the
    * caller's whole attempt body against the new base — which is what
    * lets [[mergeConditional]] re-resolve its clauses against the
    * version the commit actually lands on.
    */
  private def mergeAttempt(updates: DataFrame, t: Txn,
                           keys: Seq[String],
                           deleteCol: Option[String], statsCols: Seq[String],
                           tag: Option[String], tagHorizon: Int,
                           sortCols: Seq[String], deleteVectors: Boolean,
                           schemaEvolution: Boolean = false,
                           broadcastSource: Option[Boolean] = None)
      : Attempt = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, when, max => smax, min => smin}
    import t.{path, spark, st, version}
    // MATERIALIZE the source once per attempt (eager local checkpoint,
    // lineage truncated — see mergeMultiKeyed's source note): the body
    // evaluates `updates` several times (bounds aggregate, confirm-scan
    // key frames, row-id inheritance, the staging write) — unpinned,
    // each consumer re-runs the source's whole plan AND re-analyzes it
    // through Catalyst, and a non-deterministic source could even yield
    // DIFFERENT rows per pass (delta-spark materializes merge sources
    // for exactly this reason). MEMORY_AND_DISK blocks; released win or
    // lose. Skipped when the caller already pinned or materialized
    // (mergeMulti's compiled frame arrives checkpointed).
    val ownPin =
      updates.storageLevel == org.apache.spark.storage.StorageLevel.NONE &&
        !org.apache.spark.sql.graftshim.PlanShim.isMaterializedRdd(updates)
    val (srcMat, releaseSrc) =
      if (ownPin)
        org.apache.spark.sql.graftshim.PlanShim
          .localCheckpointReleasable(updates)
      else (updates, () => ())
    try {
    // every body reference below binds to the materialized frame
    val updates = srcMat
    val tableSchema = st.schema.getOrElse(readStateDf(spark, path, st).schema)
    val updCols = updates.schema.fields
      .filterNot(fd => deleteCol.contains(fd.name))
    // schema contract: exactly the table's columns (+ deleteCol) — or,
    // WITH SCHEMA EVOLUTION, a superset: additive source columns (and
    // lossless widenings) evolve the committed schema IN THE MERGE
    // COMMIT itself; untouched files read the new columns as NULL
    // through the schema-on-read path (delta-spark's
    // withSchemaEvolution() semantics).
    val schema =
      if (!schemaEvolution) {
        // GENERATED columns (variant shreds included) may be OMITTED
        // by the source — they recompute inside the staging guard, the
        // same contract as write/append
        val required = tableSchema.fields.filter(fd =>
          updCols.exists(_.name == fd.name) ||
            !st.generated.contains(fd.name))
        require(updCols.map(fd => fd.name -> fd.dataType).sortBy(_._1).toSeq ==
            required.map(fd => fd.name -> fd.dataType)
              .sortBy(_._1).toSeq,
          s"merge updates schema ${updCols.map(_.name).mkString("(", ",", ")")} " +
            s"must carry exactly the table columns ${tableSchema.fieldNames.mkString("(", ",", ")")}" +
            " (generated columns may be omitted)")
        tableSchema
      } else {
        require(tableSchema.fieldNames
            .forall(n => updCols.exists(_.name == n)),
          "merge with schema evolution is ADDITIVE: the source must " +
            s"carry every table column (missing: ${tableSchema.fieldNames
              .filterNot(n => updCols.exists(_.name == n)).mkString(",")})")
        evolve(tableSchema, StructType(updCols.toSeq))
      }
    val evolvedNew = schema.fields
      .filterNot(fd => tableSchema.fieldNames.contains(fd.name)).toSeq
    // column-mapped tables assign FRESH physical names to evolved
    // columns (same counter discipline as append evolution — a
    // dropped-then-re-added logical can never resurrect old file data)
    val (mergeMapping, mergeMaxColId) =
      if (!st.mapped || evolvedNew.isEmpty) (st.mapping, st.maxColId)
      else {
        var id = st.maxColId
        (st.mapping ++ evolvedNew.map { fd => id += 1; fd.name -> s"col-$id" },
          id)
      }
    def physEvolved(n: String): String = mergeMapping.getOrElse(n, n)
    val partCols = partitionColsOf(st.files)
    val delFlag = deleteCol.map(dc => coalesce(col(dc), lit(false)))
      .getOrElse(lit(false))
    // 1) prune: partition values + key stats vs the updates' key
    // ranges — composite keys INTERSECT the per-column prunes (a file
    // must overlap every key column's update range to hold a match)
    val prunables: Map[String, Boolean] =
      keys.map(k => k -> statsPrunable(schema(k).dataType)).toMap
    // the bounds aggregate also carries the source ROW COUNT — it
    // decides the broadcast gate without a dedicated probe pass when
    // the caller didn't already know (mergeMultiKeyed fuses the count
    // into its key-stats job and passes the verdict down) — AND the
    // UPSERT row count (rows not flagged for delete), which used to be
    // a separate `!upserts.isEmpty` action per delete-capable merge
    // (optimization round 19: one fused agg, one fewer job per merge)
    val boundAggs = org.apache.spark.sql.functions.count(lit(1)) +:
      org.apache.spark.sql.functions.count(when(!delFlag, lit(1))) +:
      keys.flatMap(k => Seq(smin(col(k)), smax(col(k))))
    val bounds = updates.agg(boundAggs.head, boundAggs.tail: _*).head()
    val bcSource = broadcastSource.getOrElse(
      bounds.getLong(0) <= mergeGateRows(spark))
    val upsertRows = bounds.getLong(1)
    // a key column whose update values are ALL null can never equate:
    // nothing is touched (SQL join semantics)
    val anyKeyAllNull =
      keys.indices.exists(i => bounds.isNullAt(2 + 2 * i))
    val candidates: Seq[String] =
      if (anyKeyAllNull) Nil
      else keys.zipWithIndex.foldLeft(st.files) { case (files, (k, i)) =>
        if (files.isEmpty) files
        else if (prunables(k))
          pruneFilesByRange(st.copy(files = files), k, prunableType = true,
            bounds.get(2 + 2 * i).toString.toDouble,
            bounds.get(3 + 2 * i).toString.toDouble)
        else if (bcSource && partCols.contains(st.phys(k))) {
          // non-numeric key that IS a partition column: prune by exact
          // partition value (the distinct-key collect is bounded by
          // the broadcast gate; a past-the-gate source skips this
          // prune rather than pull its key set onto the driver)
          val keySet = updates.select(col(k)).distinct().collect()
            .flatMap(r => Option(r.get(0)).map(_.toString)).toSet
          files.filter { file =>
            partitionValuesOf(file).get(st.phys(k)) match {
              // escaped partition values ("%xx") are kept, not decoded
              case Some(v) => v.contains("%") || keySet.contains(v)
              case None    => true
            }
          }
        } else files
      }
    // 2) semi-join confirm over candidate files only: which files hold
    // a matched key, and whether any of a file's matched keys update /
    // delete. The driver collects ONLY per-file flags — O(candidate
    // files), FLAT in source size (the r14 shape collected every
    // matched (file, key) pair, which bounded the merge source by
    // driver memory); DV key lists are written distributively below.
    // `broadcastSource` sizes the join strategy: a source past the
    // gate joins the confirm scan by shuffle instead of broadcast.
    val keyCols = keys.map(col)
    // source-derived key frames (updKeys / keyFlags) join with an
    // EXPLICIT broadcast hint under the gate: AQE could convert these
    // joins from runtime stats, but it materializes BOTH child shuffle
    // stages before re-planning — at 100× the big side's shuffle WRITE
    // (the full rewrite input) already executed by then (measured 222×
    // vs 98× probe shuffle unhinted). The hint keeps the big side
    // exchange-free; past the gate the joins shuffle by design.
    def maybeBc(df: DataFrame): DataFrame =
      if (bcSource) broadcast(df) else df
    val updKeys = updates.select(keyCols: _*).distinct()
    val keyFlags = updates
      .select(keyCols :+ delFlag.as("_graft_d"): _*)
      .groupBy(keyCols: _*)
      .agg(smax(when(col("_graft_d"), 0).otherwise(1)).as("_graft_u"),
           smax(when(col("_graft_d"), 1).otherwise(0)).as("_graft_del"))
    // the matched (file, key, flags) frame is consumed twice in DV
    // mode (file flags + the sidecar write) — cache it so the confirm
    // scan runs once
    val hits: Option[DataFrame] =
      if (candidates.isEmpty) None
      else {
        val h = readFilesMapped(spark, path, st, candidates, fileName = true)
          .select(col(FileNameCol).as("_graft_f") +: keyCols: _*)
          .join(maybeBc(keyFlags), keys, "inner")
        Some(if (deleteVectors) h.cache() else h)
      }
    val fileFlags: Array[(String, Boolean, Boolean)] = hits match {
      case None => Array.empty
      case Some(h) => h.groupBy(col("_graft_f"))
        .agg(smax(col("_graft_u")).as("_graft_u"),
             smax(col("_graft_del")).as("_graft_del"))
        .collect()
        .map(r => (r.getString(0), r.getInt(1) == 1, r.getInt(2) == 1))
    }
    // DV mode: only files holding an UPDATED key rewrite; delete-only
    // files keep their bytes and gain DV entries. CoW mode: any match
    // forces a rewrite.
    val touchedBase: Set[String] =
      if (deleteVectors) fileFlags.collect { case (b, u, _) if u => b }.toSet
      else fileFlags.map(_._1).toSet
    val touched: Seq[String] = candidates.filter(c => touchedBase(c.split("/").last))
    val touchedSet = touched.toSet
    // delete-only files (gain DV entries instead of rewriting)
    val hasDvEntries = deleteVectors &&
      fileFlags.exists { case (b, _, d) => d && !touchedBase(b) }
    // 3) rewrite only the touched rows (reading them DV-aware, so rows
    // already deleted by an earlier sidecar never resurrect)
    val upserts = deleteCol match {
      case Some(dc) => updates.filter(!coalesce(col(dc), lit(false))).drop(dc)
      case None     => updates
    }
    // CHECK constraints enforce on the merge's upsert rows (carried
    // rows were validated by the commit that wrote them); the cast is
    // the identity without evolution and lifts narrow update batches
    // onto a widened committed type with it. A batch may OMIT generated
    // columns — they recompute in the guard (the write/append contract;
    // a shredded table's raw-variant batch merges without hand-building
    // shreds); present ones are enforced.
    val upsertsCast = upserts.select(schema.fields.flatMap { fd =>
      if (!upserts.columns.contains(fd.name) &&
          st.generated.contains(fd.name)) None
      else Some(col(fd.name).cast(fd.dataType).as(fd.name))
    }.toSeq: _*)
    val ordered0 = constraintGuard(
      generatedGuard(upsertsCast, st.generated), st.constraints)
      .select(schema.fieldNames.map(col).toSeq: _*)
    // row tracking: an updated row KEEPS its base row's stable id (the
    // Delta 3.x row-tracking contract); inserts draw fresh ids above
    // the high-water mark. Requires key-unique updates — two update
    // rows cannot both inherit one base id.
    if (st.rowTracking) {
      // null-keyed rows never match a base row (they insert with a
      // FRESH id), so they are exempt from the uniqueness contract
      val dupKeys = updates
        .filter(keys.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(keyCols: _*)
        .count().filter(col("count") > 1).count()
      require(dupKeys == 0L,
        s"merge with row tracking requires key-unique updates at $path " +
          s"($dupKeys duplicated keys) — two update rows cannot both " +
          "inherit one base row id")
    }
    val ordered =
      if (!st.rowTracking) ordered0
      else {
        val baseIds =
          if (touched.isEmpty)
            spark.createDataFrame(spark.sparkContext
                .emptyRDD[org.apache.spark.sql.Row],
              StructType(keys.map(schema(_)) :+
                org.apache.spark.sql.types.StructField(RowIdCol, LongType)))
          else readStateDf(spark, path,
              st.copy(files = touched, schema = st.rowIdSchema))
            .join(maybeBc(updKeys), keys, "left_semi")
            .select(keyCols :+ col(RowIdCol): _*)
        assignRowIds(ordered0.join(baseIds, keys, "left"),
          st.rowHighWater)
      }
    // upsert presence rode the bounds aggregate above — no extra action
    val hasUpserts = deleteCol.isEmpty || upsertRows > 0L
    val carrySchema =
      if (st.rowTracking) schema.fieldNames :+ RowIdCol
      else schema.fieldNames
    // carried base rows are READ UNDER THE OLD SCHEMA (their files
    // know nothing else), then projected up to the evolved one —
    // evolved columns NULL, widened columns cast (no-op without
    // evolution: the select is the identity projection)
    val oldNames = tableSchema.fieldNames.toSet
    def carryUp(base: DataFrame): DataFrame =
      base.select(carrySchema.map { n =>
        if (n == RowIdCol) col(n)
        else if (oldNames.contains(n)) col(n).cast(schema(n).dataType).as(n)
        else lit(null).cast(schema(n).dataType).as(n)
      }.toSeq: _*)
    val newData =
      if (touched.isEmpty) ordered
      else carryUp(readStateDf(spark, path,
          st.copy(files = touched, schema = st.rowIdSchema))
        .join(maybeBc(updKeys), keys, "left_anti"))
        .unionByName(ordered)
    // the read-side anti-join resolves ONE dvKey per table: checked
    // before anything stages
    if (hasDvEntries) t.requireDvKey(keys)
    // stage in ~as many files as were touched (shuffle-free coalesce):
    // a merge must not fragment the rewrite into shuffle.partitions
    // slivers. `sortCols` re-sorts rewritten files in place so a
    // clustered table keeps tight stats through churn; partitioned
    // tables rewrite INSIDE their partition layout, under PHYSICAL
    // names on mapped tables (the mapping only changes when schema
    // evolution added columns — fresh physicals assigned above). Stats
    // cover the explicit statsCols, else the declared stats schema;
    // rewritten files get fresh index sidecars (stale ones for the
    // removed files are dead weight until compact retires them). When
    // every row is deleted and no file or vector survives, one
    // zero-row file keeps the version readable.
    val staged = t.stage(
      if (touched.isEmpty && !hasUpserts) None
      else {
        val packed = newData.coalesce(math.max(1, touched.size))
        Some(if (sortCols.isEmpty) packed
          else packed.sortWithinPartitions(sortCols.map(col): _*))
      },
      partCols,
      if (statsCols.nonEmpty) statsCols.map(st.phys) else st.statsSchemaCols,
      survives = st.files.exists(!touchedSet(_)) || hasDvEntries,
      physEvolved)
    // deletion-vector sidecar for delete-only files — written
    // DISTRIBUTIVELY from the cached confirm scan (the r14 shape
    // collected the pairs and re-parallelized them: driver memory
    // scaled with the merge's delete set)
    val dvAdds: Seq[String] =
      if (!hasDvEntries) Nil
      else {
        // keep only delete-keyed hits in files NOT being rewritten; the
        // touched-name frame is O(files) — always broadcast-safe
        val touchedNames = spark.createDataFrame(
          spark.sparkContext.parallelize(
            touchedBase.toSeq.map(org.apache.spark.sql.Row(_)),
            math.max(1, math.min(4, touchedBase.size))),
          StructType(Seq(org.apache.spark.sql.types.StructField("_graft_f",
            org.apache.spark.sql.types.StringType, nullable = false))))
        t.stageDv(hits.get
          .filter(col("_graft_del") === 1)
          .join(broadcast(touchedNames), Seq("_graft_f"), "left_anti")
          .select(col("_graft_f").as("_graft_dv_file") +:
            keys.zip(dvKeyColNames(keys.size)).map { case (k, n) =>
              col(k).as(n) }: _*)
          .distinct())
      }
    if (deleteVectors) hits.foreach(_.unpersist(blocking = false))
    val json = deltaJson(version, t.ts, staged.adds,
      touched, staged.stats, tag, tagHorizon, Some(schema),
      dvAdds = dvAdds,
      // composite keys record comma-joined (names validated comma-free)
      dvKey =
        if (dvAdds.nonEmpty) Some(keys.map(st.phys).mkString(","))
        else None,
      mergeKey = Some(keys.mkString(",")),
      bloomAdds = staged.bloomAdds, ndvAdds = staged.ndvAdds,
      mapping =
        if (st.mapped && evolvedNew.nonEmpty) Some(mergeMapping) else None,
      maxColId =
        if (st.mapped && evolvedNew.nonEmpty) Some(mergeMaxColId) else None,
      rowHighWater =
        if (!st.rowTracking) None else Some(staged.rowHighWater),
      // identity uniqueness contract: MERGE-supplied identity values
      // must advance the high water too, or later engine-assigned ids
      // could collide with them
      identityHighWater = staged.identityHighWater)
    // merge commits stage small files per batch exactly like appends —
    // auto-compaction evaluates here too (delta's post-commit hook
    // fires after ANY write), same reentrancy guard
    Publish(json, staged.cleanup ++ t.written("dv" -> dvAdds),
      autoCompact = true)
    } finally {
      releaseSrc()
    }
  }

  /** One MERGE clause. `condition` is a Column over the RESOLVED frame
    * (source columns bare, matched base columns `_b_<name>`, null when
    * unmatched); None = unconditional. Assignment lists empty = the
    * star form (`UPDATE SET *` / `INSERT *` — image is the source row
    * wholesale, so the source must carry the table's columns). */
  sealed trait MergeMatched { def condition: Option[Column] }
  /** WHEN MATCHED [AND cond] THEN UPDATE SET * | SET c = e, ... */
  final case class MergeUpdate(condition: Option[Column] = None,
                               set: Seq[(String, Column)] = Nil)
      extends MergeMatched
  /** WHEN MATCHED [AND cond] THEN DELETE */
  final case class MergeDelete(condition: Option[Column] = None)
      extends MergeMatched
  /** WHEN NOT MATCHED [AND cond] THEN INSERT * | (cols) VALUES (es) */
  final case class MergeInsert(condition: Option[Column] = None,
                               values: Seq[(String, Column)] = Nil)

  /** Multi-clause keyed MERGE — delta-spark's full clause surface
    * (any number of `WHEN MATCHED [AND cond] THEN UPDATE/DELETE`
    * clauses, any number of `WHEN NOT MATCHED [AND cond] THEN INSERT`
    * clauses), FIRST-CLAUSE-WINS in list order exactly like SQL: a row
    * claimed by an earlier clause never reaches a later one, a matched
    * row no clause claims is WITHHELD (its base row survives
    * untouched), an unmatched row no insert clause claims is dropped.
    * Layered as relational preprocessing over the unconditional
    * [[merge]]:
    *
    *  1. resolve each update row's match state and current base values
    *     in ONE pruned read of the base version;
    *  2. compile the clauses row-wise into claim flags
    *     (`cond_i AND NOT cond_1..i-1`, NULL conditions read false)
    *     and a per-column when-chain image;
    *  3. feed the compiled rows to a single [[mergeAttempt]] PINNED to
    *     the resolved version. If the commit loses an OCC race, the
    *     WHOLE resolution re-runs against the new current version —
    *     clause guards are always evaluated against the version the
    *     commit lands on (the re-execute-on-conflict shape Delta runs).
    *
    * Delta's reachability rule is enforced: an unconditional clause
    * must be LAST on its match side. `updates` must be key-unique
    * (Delta's multiple-match error otherwise). With schema evolution,
    * all clauses must be star forms.
    */
  def mergeMulti(updates: DataFrame, path: String, key: String,
                 matched: Seq[MergeMatched],
                 notMatched: Seq[MergeInsert],
                 notMatchedBySource: Seq[MergeMatched] = Nil,
                 statsCols: Seq[String] = Nil, maxAttempts: Int = 3,
                 tag: Option[String] = None,
                 tagHorizon: Int = DefaultTagHorizon,
                 sortCols: Seq[String] = Nil,
                 deleteVectors: Boolean = false,
                 schemaEvolution: Boolean = false): Long =
    mergeMultiKeyed(updates, path, Seq(key), matched, notMatched,
      notMatchedBySource, statsCols = statsCols, maxAttempts = maxAttempts,
      tag = tag, tagHorizon = tagHorizon, sortCols = sortCols,
      deleteVectors = deleteVectors, schemaEvolution = schemaEvolution)

  /** [[mergeMulti]] on a COMPOSITE key (`ON t.k1 = s.k1 AND t.k2 =
    * s.k2`) — the clause algebra is identical; match-state resolution
    * joins on the conjunction of all key columns (SQL equality: any
    * NULL key component fails the match on both sides).
    *
    * `residual` carries the NON-equi remainder of the ON condition
    * (Delta's `ON t.k = s.k AND t.date > s.start`), a Column over the
    * resolved frame (source columns bare, target columns `_b_<col>`).
    * A key-equal pair failing the residual is NOT matched: its source
    * row reaches the insert clauses, its target row reaches the
    * by-source clauses (or survives untouched) — Delta's reading of
    * the full ON condition. Internally the keyed copy-on-write then
    * CARRIES such target rows verbatim whenever their key is touched
    * by any action, so base rows are never lost to a key collision.
    * On row-tracked tables a residual that splits a key into an
    * insert + a surviving target row refuses loudly (two rows cannot
    * share one inherited row id).
    */
  def mergeMultiKeyed(updates: DataFrame, path: String, keys: Seq[String],
                      matched: Seq[MergeMatched],
                      notMatched: Seq[MergeInsert],
                      notMatchedBySource: Seq[MergeMatched] = Nil,
                      statsCols: Seq[String] = Nil, maxAttempts: Int = 3,
                      tag: Option[String] = None,
                      tagHorizon: Int = DefaultTagHorizon,
                      sortCols: Seq[String] = Nil,
                      deleteVectors: Boolean = false,
                      schemaEvolution: Boolean = false,
                      residual: Option[Column] = None): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, raise_error, when, max => smax, min => smin}
    val spark = updates.sparkSession
    validateMergeKeys(keys)
    val keyCols = keys.map(col)
    require(matched.nonEmpty || notMatched.nonEmpty ||
        notMatchedBySource.nonEmpty,
      "merge needs at least one WHEN clause")
    // BY SOURCE clauses act on TARGET rows with no source match —
    // there is no source row, so UPDATE needs explicit assignments
    // (Delta's own restriction) and conditions/expressions may only
    // reference `_b_<col>` target columns
    notMatchedBySource.collect { case u: MergeUpdate => u }.foreach(u =>
      require(u.set.nonEmpty,
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE needs explicit SET " +
          "assignments — there is no source row to take an image from"))
    notMatchedBySource.dropRight(1).foreach(c =>
      require(c.condition.isDefined,
        "a WHEN NOT MATCHED BY SOURCE clause without a condition must " +
          "be the last on its side — later clauses are unreachable"))
    // Delta's reachability rule: anything after an unconditional
    // clause on the same match side can never fire
    matched.dropRight(1).foreach(c => require(c.condition.isDefined,
      "a WHEN MATCHED clause without a condition must be the last " +
        "matched clause — later matched clauses are unreachable"))
    notMatched.dropRight(1).foreach(c => require(c.condition.isDefined,
      "a WHEN NOT MATCHED clause without a condition must be the " +
        "last insert clause — later insert clauses are unreachable"))
    val updClauses = matched.collect { case u: MergeUpdate => u }
    val bySourceSets =
      notMatchedBySource.collect { case u: MergeUpdate => u }.flatMap(_.set)
    // Zero-row ANALYSIS probe (no job, no data read): expressions
    // resolve against a frame shaped like the merge's resolved frame —
    // the source's own columns (alias qualifiers kept, so SQL's
    // `src.col` resolves as it does in the join), the target's as null
    // `_b_<col>` columns.
    def analyzeOn(target: StructType, src: Option[DataFrame],
                  exprs: Seq[Column]): Unit = {
      val targetCols = target.fields.map(fd =>
        lit(null).cast(fd.dataType).as(s"_b_${fd.name}")).toSeq
      val probe = src.fold(spark.range(1).select(targetCols: _*))(s =>
        s.limit(0).select(s.columns.map(col).toSeq ++ targetCols: _*))
      exprs.foreach(e => probe.select(e).queryExecution.analyzed)
    }
    def exprsOf(cl: MergeMatched): Seq[Column] =
      cl.condition.toSeq ++ (cl match {
        case u: MergeUpdate => u.set.map(_._2)
        case _              => Nil
      })
    /** Clause validation against one attempt's base `st` (its logical
      * `schema`), run before any source job on both the empty-source
      * and the full path, so a clause error never depends on whether
      * the batch is empty and costs no job. All driver-only (analysis
      * against the unmaterialized source). Returns the schema the
      * merge commits — the evolved one under schema evolution, where an
      * unknown SET/INSERT target BECOMES a new column by construction,
      * so it fails fast only without it.
      *
      * A SET may not reassign a merge KEY column — the keyed
      * copy-on-write addresses base rows by key equality, so a
      * re-keyed image would orphan the old row instead of replacing it
      * (rewrite through delete + insert instead). The TRIVIAL
      * re-assignments tooling emits — `SET k = s.k` (the source key,
      * equal to the base key by the ON clause) and `SET k = t.k` (the
      * base value, `_b_k` here) — are no-ops Delta accepts. In BY
      * SOURCE clauses there IS no source row — bare `s.k` reads NULL
      * on base-only rows, so only the base spelling (`t.k` = `_b_k`)
      * is a no-op there.
      *
      * GENERATED columns may not be assigned by any clause (Delta's
      * rule): they recompute from their declaration over the final
      * image — a hand-assigned value could silently disagree with it.
      *
      * BY SOURCE conditions and SET expressions may reference TARGET
      * columns only (`_b_<col>`): there is no source row. Checked
      * against a probe carrying exactly the `_b_` columns, so BOTH
      * size-gated strategies agree: a bare source reference would
      * throw in the broadcast anti-join path but silently read NULL in
      * the fused full-outer path. Delta refuses source references in
      * by-source clauses at analysis; so do we. */
    def checkClauses(st: TableState, schema: StructType): StructType = {
      // Schema evolution, delta-spark's reading of both forms:
      //  - any STAR clause evolves by the source's additive columns
      //    (and lossless widenings);
      //  - explicit assignment lists evolve by the columns they
      //    ASSIGN that the target lacks (`SET t.newcol = expr` adds
      //    `newcol`); the new column's type resolves from the
      //    assignment expression against a row-less probe (analysis
      //    only, no job). First assignment wins when several clauses
      //    assign the same new column; later ones cast to it.
      val evolvedSchema: StructType =
        if (!schemaEvolution) schema
        else {
          val hasStar = updClauses.exists(_.set.isEmpty) ||
            notMatched.exists(_.values.isEmpty)
          val fromSource =
            if (hasStar) evolve(schema, updates.schema) else schema
          val assignedNew = {
            val seen =
              scala.collection.mutable.LinkedHashMap.empty[String, Column]
            (updClauses.flatMap(_.set) ++ notMatched.flatMap(_.values) ++
              notMatchedBySource.collect { case u: MergeUpdate => u }
                .flatMap(_.set))
              .filterNot { case (c, _) =>
                fromSource.fieldNames.contains(c) }
              .foreach { case (c, e) =>
                if (!seen.contains(c)) seen.update(c, e) }
            seen.toSeq
          }
          if (assignedNew.isEmpty) fromSource
          else {
            val probe = updates.limit(0).select(
              updates.columns.map(col) ++ schema.fields.map(fd =>
                lit(null).cast(fd.dataType).as(s"_b_${fd.name}")): _*)
            StructType(fromSource.fields ++ assignedNew.map {
              case (c, e) =>
                org.apache.spark.sql.types.StructField(c,
                  probe.select(e.as(c)).schema.head.dataType)
            })
          }
        }
      def checkReKey(set: Seq[(String, Column)],
                     okSpellings: String => Set[String]): Unit =
        set.foreach { case (c, e) =>
          val trivialNoOp = org.apache.spark.sql.graftshim.PlanShim
            .bareAttribute(e).exists(parts =>
              parts.lastOption.exists(okSpellings(c)))
          require(!keys.contains(c) || trivialNoOp,
            s"MERGE UPDATE SET cannot re-key merge key column " +
              s"'$c' — the keyed copy-on-write addresses rows by " +
              "key equality; express a re-key as DELETE + INSERT") }
      checkReKey(updClauses.flatMap(_.set), c => Set(c, s"_b_$c"))
      checkReKey(bySourceSets, c => Set(s"_b_$c"))
      val assigned = updClauses.flatMap(_.set).map(("MERGE UPDATE SET", _)) ++
        notMatched.flatMap(_.values).map(("MERGE INSERT", _)) ++
        bySourceSets.map(("MERGE UPDATE SET", _))
      assigned.foreach { case (what, (c, _)) =>
        require(!st.generated.contains(c),
          s"MERGE cannot assign generated column '$c' — it " +
            s"recomputes from its declaration " +
            s"(${st.generated.getOrElse(c, "")})")
        require(evolvedSchema.fieldNames.contains(c),
          s"$what targets unknown column '$c'")
      }
      analyzeOn(schema, Some(updates),
        matched.flatMap(exprsOf) ++ residual.toSeq ++ notMatched
          .flatMap(cl => cl.condition.toSeq ++ cl.values.map(_._2)))
      try analyzeOn(schema, None, notMatchedBySource.flatMap(exprsOf))
      catch {
        case ex: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            "WHEN NOT MATCHED BY SOURCE conditions and SET " +
              "expressions may only reference TARGET columns — " +
              "by-source clauses act on target rows with NO " +
              "source match (engine API: `_b_<col>`; SQL: " +
              s"qualify with the target alias). ${ex.getMessage}")
      }
      evolvedSchema
    }
    // MATERIALIZE the merge SOURCE for the whole merge (optimization
    // round 20): it is consumed by up to four separate actions — the
    // key-stats aggregate below, the broadcast-pairs build, the
    // source-only anti-join (or the fused full-outer's source side),
    // and the compiled frame's fill. Unpinned, EACH consumer re-ran
    // the source's whole plan — and a CDC apply's source embeds a
    // dimension scan + join (SCD2's change-detection join, the
    // snapshot verb's full-outer diff), so every extra evaluation
    // was a full dimension pass. An EAGER LOCAL CHECKPOINT (delta-
    // spark's own merge-source materialization) beats a persist()
    // here: besides single evaluation it TRUNCATES the lineage, so
    // every downstream action analyzes a shallow RDD scan instead of
    // re-walking the whole CDC plan through Catalyst (~10 actions ×
    // deep plan per merge — measured driver-gap cost). It also makes
    // the key-stats (uniqueness + bounds) provably consistent with
    // the rows later attempts resolve: a non-deterministic source
    // CANNOT yield different rows to a retry. MEMORY_AND_DISK blocks
    // (spill, not OOM, at any source size), released win or lose via
    // the shim's explicit unpersist; skipped when the caller already
    // pinned or materialized. Trade-off vs persist: lost blocks fail
    // the job instead of recomputing — the contract delta accepts
    // for merge sources (and strictly better for non-deterministic
    // ones, where silent recompute is a correctness bug).
    // Lazy: the first attempt that is not a tag replay materializes
    // it, so a replay returns before any source work.
    var releaseSrc: () => Unit = () => ()
    lazy val srcMat: DataFrame =
      if (updates.storageLevel != org.apache.spark.storage.StorageLevel.NONE ||
          org.apache.spark.sql.graftshim.PlanShim.isMaterializedRdd(updates))
        updates
      else {
        val (m, release) = org.apache.spark.sql.graftshim.PlanShim
          .localCheckpointReleasable(updates)
        releaseSrc = release
        m
      }
    // ONE source job answers four questions (key-uniqueness, the
    // by-source fuse gate, the broadcast gate, and — fused in
    // optimization round 19 — the per-key-column MIN/MAX bounds the
    // per-attempt base prune needs, which used to be its own
    // aggregate pass over the source inside the retry loop).
    // NULL-keyed source rows are EXCLUDED from the uniqueness check
    // (SQL join semantics: they can never match a target row, so
    // several of them are never ambiguous — they just insert); they
    // still count toward the size gates. min/max over the distinct
    // key rollup equal min/max over the raw rows exactly (and both
    // ignore NULLs). Run once, by the first non-replay attempt.
    lazy val keyStats: Row = {
      val keyNotNull = keys.map(k => col(k).isNotNull).reduce(_ && _)
      val keyStatsAggs =
        Seq(coalesce(smax(when(col("_nn"), col("count"))), lit(0L))
            .as("_mx"),
          coalesce(
            org.apache.spark.sql.functions.sum(col("count")), lit(0L))
            .as("_n")) ++
          keys.flatMap(k => Seq(smin(col(k)), smax(col(k))))
      val row = srcMat.groupBy(keyCols: _*)
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("count"),
          smax(keyNotNull).as("_nn"))
        .agg(keyStatsAggs.head, keyStatsAggs.tail: _*)
        .head()
      require(row.getLong(0) <= 1L,
        "conditional merge requires key-unique updates on " +
          s"'${keys.mkString(",")}' — multiple source rows match the " +
          "same target row (ambiguous clauses)")
      row
    }
    lazy val srcRows = keyStats.getLong(1)
    // Delta's WITH SCHEMA EVOLUTION covers BOTH forms: star clauses
    // (UPDATE SET * / INSERT *) evolve by the source's additive
    // columns, and explicit assignment lists evolve by the columns
    // they ASSIGN that the target lacks (`UPDATE SET t.newcol = ...`
    // adds `newcol`) — the evolved set is computed per-attempt below
    // once the committed schema is known.
    val hasBySource = notMatchedBySource.nonEmpty
    // By-source resolution strategy, sized to the SOURCE:
    //  - a broadcastable source resolves base-only rows through a
    //    broadcast ANTI join — ZERO base exchange, the right call
    //    when a small tombstone/sync list meets a huge table;
    //  - past the gate that two-join shape would hash-exchange the
    //    full base TWICE (resolve + anti; measured 372× shuffle at
    //    100× input in the r14 probe), so it flips to ONE
    //    full-outer join — one base exchange, linear thereafter.
    // Gate override: spark.graft.bySourceBroadcastRows. Depends only
    // on the SOURCE, so it is decided ONCE, outside the OCC retry
    // loop; the gate clamps to the probe's addressable range (a gate
    // past Int.MaxValue-1 rows means "never fuse" and must not
    // overflow into a negative limit).
    lazy val fused = hasBySource && srcRows > {
      spark.conf.getOption("spark.graft.bySourceBroadcastRows")
        .flatMap(_.toLongOption).getOrElse(BySourceBroadcastMaxRows)
        .max(0L)
    }
    // the downstream keyed copy-on-write sizes ITS joins to the
    // source too (confirm scan / row-id / carry) — independent gate,
    // same fused source-stats job
    lazy val bcSource = srcRows <= mergeGateRows(spark)
    try transact(spark, path, "conditional merge", maxAttempts,
        Some(s"no committed version at $path to merge into"), tag) { t =>
      val st = t.st
      val schema = st.schema.getOrElse(readStateDf(spark, path, st).schema)
      val evolvedSchema = checkClauses(st, schema)
      // every body reference below binds to the materialized frame
      val updates = srcMat
      // EMPTY-SOURCE fast path (optimization round 20): zero source
      // rows with no BY SOURCE clauses and no schema evolution means
      // the compiled frame is empty by construction — the resolution
      // join, claim compile, bounds aggregate, uniqueness probe and
      // confirm machinery would all run (≈5 jobs) only to stage
      // nothing. Commit the SAME empty delta mergeAttempt would have
      // committed: a version still lands (observable history
      // unchanged), the tag still records (replay idempotency), and
      // the resolved state is identical (empty adds/removes; absent
      // high-water fields inherit). The snapshot verbs' replay proof —
      // a second apply deriving an empty change set — is the common
      // caller. BY SOURCE merges can act on target rows with zero
      // source rows and schema evolution evolves the schema from the
      // source's COLUMNS even when empty, so both keep the full path.
      if (srcRows == 0L && !hasBySource && !schemaEvolution)
        Publish(deltaJson(t.version, t.ts, tag = tag,
            tagHorizon = tagHorizon, schema = Some(schema),
            mergeKey = Some(keys.mkString(","))), autoCompact = true)
      else {
        // match-state resolution over the pruned base slice, PINNED to
        // the base. BY SOURCE semantics inspect EVERY target row, so the
        // base-only side cannot prune to the update-key range; without
        // by-source clauses the pruned slice stands (only matched rows
        // matter).
        def fullBase: DataFrame = readStateDf(spark, path, st)
        val (baseSlice, baseSliceFiles) =
          if (fused) (fullBase, st.files)
          else {
            // source key bounds ride the fused keyStats job above —
            // offsets 2+2i/3+2i after (_mx, _n); no per-attempt pass
            if (keys.indices.exists(i => keyStats.isNullAt(2 + 2 * i)))
              // some key column is ALL null: no match
              (fullBase.limit(0), Seq.empty[String])
            else {
              // intersect per-column stats prunes over every prunable
              // key column (same discipline as mergeAttempt's)
              val pruned = keys.zipWithIndex.foldLeft(st.files) {
                case (files, (k, i)) =>
                  if (files.isEmpty || !statsPrunable(schema(k).dataType))
                    files
                  else pruneFilesByRange(st.copy(files = files), k,
                    prunableType = true,
                    keyStats.get(2 + 2 * i).toString.toDouble,
                    keyStats.get(3 + 2 * i).toString.toDouble)
              }
              if (pruned.size == st.files.size) (fullBase, st.files)
              else (readStateDf(spark, path, st.copy(files = pruned)), pruned)
            }
          }
        // on-disk bytes of the base slice — driver metadata, summed
        // with EARLY EXIT at the broadcast gate (the exact total is
        // irrelevant past it, so the per-file getFileStatus RPCs are
        // bounded by gate/avg-file-size, not O(files)); a stat failure
        // DISQUALIFIES the broadcast instead of counting 0 (which
        // would bias a flaky store toward broadcasting the base).
        // Skipped when fused (unused there).
        val smallBaseGate = spark.conf
          .getOption("spark.graft.mergeBroadcastBaseBytes")
          .flatMap(_.toLongOption).getOrElse(MergeBroadcastBaseMaxBytes)
        def baseSliceUnderGate: Boolean = {
          var sum = 0L
          val it = baseSliceFiles.iterator
          var ok = true
          while (ok && sum <= smallBaseGate && it.hasNext) {
            val p = new Path(resolveRef(path, it.next()))
            try sum += p.getFileSystem(
                spark.sparkContext.hadoopConfiguration)
              .getFileStatus(p).getLen
            catch { case _: java.io.IOException => ok = false }
          }
          ok && sum <= smallBaseGate
        }
        val b0 = baseSlice.select(
          schema.fieldNames.map(c => col(c).as(s"_b_$c")).toSeq: _*)
        // Fused shape: ONE join resolves all three match states —
        // matched, source-only (insert), base-only (by source).
        // Presence FLAGS, not key nullability, classify the sides:
        // NULL keys never join, so a null-key row on either side must
        // still land on its correct side.
        val b =
          if (fused) b0.withColumn("_graft_base_present", lit(true))
          else b0
        val src =
          if (fused) updates.withColumn("_graft_src_present", lit(true))
          else updates
        val keyEq = keys.map(k => col(k) === col(s"_b_$k"))
          .reduce(_ && _)
        // Match-state resolution, sized to the source. A LEFT OUTER
        // preserving the small source can never broadcast-hash (the
        // build side must be the non-outer side — the BASE), so the
        // naive `src LEFT JOIN base` EXCHANGES the full base no matter
        // what is hinted (measured: 72 MB of an 80 MB probe table per
        // merge). Under the gate the outer join is therefore REBUILT
        // from two base-streaming pieces with identical column shape:
        //
        //   pairs   = base INNER JOIN broadcast(src)   — base streams,
        //             zero exchange (Delta's findTouchedFiles shape);
        //   srcOnly = src ANTI broadcast(pair keys)    — unmatched
        //             source rows, `_b_` columns NULL (exactly the
        //             left-outer's null-extension).
        //
        // Past the gate the one sort-merge exchange is the correct
        // linear plan; by-source merges past THEIR gate keep the fused
        // full-outer (which cannot broadcast and shouldn't).
        // The pairs frame is PINNED: it feeds the pairsKeys broadcast
        // AND the resolved union, so the base scan + source broadcast
        // build run once per merge, not once per consumer (lifecycle
        // merges regressed 3× on fixture scale before the pin). When
        // the PRUNED BASE SLICE itself is broadcast-small (measured in
        // on-disk bytes, `spark.graft.mergeBroadcastBaseBytes`), the
        // plain left outer broadcasts the BASE instead — legal (the
        // build side is the non-outer side) and the cheapest plan of
        // all: one join, no auxiliary broadcast builds. The base-
        // streaming pairs shape is for the real case: big base, small
        // source.
        val smallBase = !fused && baseSliceUnderGate
        var pairsPin: Option[DataFrame] = None
        var releasePairs: () => Unit = () => ()
        val resolved =
          if (fused) src.join(b, keyEq, "full_outer")
          else if (smallBase)
            src.join(org.apache.spark.sql.functions.broadcast(b),
              keyEq, "left")
          else if (!bcSource) src.join(b, keyEq, "left")
          else {
            // materialized like the source (lineage-truncating local
            // checkpoint): three consumers — pairsKeys broadcast, the
            // resolved union, the claim-completeness probe
            val (pairs, rel) = org.apache.spark.sql.graftshim.PlanShim
              .localCheckpointReleasable(b.join(
                org.apache.spark.sql.functions.broadcast(src), keyEq,
                "inner"))
            releasePairs = rel
            pairsPin = Some(pairs)
            val pairsKeys = pairs.select(keyCols: _*).distinct()
            val srcOnly = src.join(
              org.apache.spark.sql.functions.broadcast(pairsKeys),
              keys, "left_anti")
              .select(src.columns.map(col) ++ schema.fields.map(f =>
                lit(null).cast(f.dataType).as(s"_b_${f.name}")): _*)
            pairs.select(src.columns.map(col).toSeq ++
                schema.fieldNames.map(n => col(s"_b_$n")): _*)
              .unionByName(srcOnly)
          }
        // Pair classification. The join equates KEYS only; the full ON
        // condition is keys AND `residual` — a key-equal pair failing
        // the residual is NOT matched (its source row inserts, its
        // target row is "not matched by source"), Delta's reading.
        val srcP =
          if (fused) col("_graft_src_present").isNotNull else lit(true)
        val baseP =
          if (fused) col("_graft_base_present").isNotNull
          // a matched base row equated every key column non-null, so
          // any one `_b_` key column witnesses presence
          else col(s"_b_${keys.head}").isNotNull
        val hasResidual = residual.isDefined
        val pairPass = residual
          .map(r => coalesce(r, lit(false))).getOrElse(lit(true))
        val isMatched = srcP && baseP && pairPass
        // target row NOT matched by source: no key match (base-only)
        // or a key match the residual withheld
        val isBaseNM = baseP && !(srcP && pairPass)
        val isSourceOnly = srcP && !baseP
        // FIRST-CLAUSE-WINS claims: cond_i AND NOT any earlier cond
        // (NULL conditions read false on both sides — SQL semantics)
        def claims(conds: Seq[Option[Column]]): Seq[Column] =
          conds.zipWithIndex.map { case (c0, i) =>
            val own = coalesce(c0.getOrElse(lit(true)), lit(false))
            conds.take(i).foldLeft(own)((acc, p) =>
              acc && !coalesce(p.getOrElse(lit(true)), lit(false)))
          }
        val mClaims = claims(matched.map(_.condition))
        val iClaims = claims(notMatched.map(_.condition))
        val anyM = mClaims.reduceOption(_ || _).getOrElse(lit(false))
        val anyI = iClaims.reduceOption(_ || _).getOrElse(lit(false))
        val delFlag = matched.zip(mClaims)
          .collect { case (_: MergeDelete, cl) => cl }
          .reduceOption(_ || _).getOrElse(lit(false))
        // BY SOURCE claims compile the same way (empty lists fold to
        // false, so the non-by-source path pays nothing)
        val bsClaims = claims(notMatchedBySource.map(_.condition))
        val anyBs = bsClaims.reduceOption(_ || _).getOrElse(lit(false))
        val bsDel = notMatchedBySource.zip(bsClaims)
          .collect { case (_: MergeDelete, cl) => cl }
          .reduceOption(_ || _).getOrElse(lit(false))
        // Per-clause image compilation (delta-spark's `SET c = expr` /
        // `INSERT (cols) VALUES (exprs)` forms): an assigned column
        // takes its expression (source columns bare, matched base row
        // as `_b_<col>`); an UNASSIGNED column keeps the TARGET's
        // current value on update and inserts NULL — the SQL MERGE
        // defaults. All-star clauses keep the schema-contract fast
        // path (image = the source row wholesale); evolved columns
        // ride it straight from the source (mergeAttempt commits the
        // evolved schema). Delete-claimed rows carry the base image —
        // the value is never read past the delete flag.
        // The fast path is only legal when some star clause actually
        // TAKES a source image (UPDATE SET * / INSERT *) — that clause
        // is what contracts the source frame to carry every table
        // column. A merge whose matched/insert clauses are delete-only
        // or absent (e.g. WHEN NOT MATCHED BY SOURCE THEN DELETE with a
        // keys-only source — Delta's common by-source idiom) must build
        // images from the `_b_` base columns instead, or the bare
        // selects throw AnalysisException on narrow sources.
        val allStar = (updClauses.nonEmpty || notMatched.nonEmpty) &&
          updClauses.forall(_.set.isEmpty) &&
          notMatched.forall(_.values.isEmpty)
        val imageNames = evolvedSchema.fieldNames.toSeq
        val srcHas: Set[String] = updates.columns.toSet
        def imgType(c: String) =
          if (schema.fieldNames.contains(c)) schema(c).dataType
          else evolvedSchema(c).dataType
        /** Base-row value of column `c` — the `_b_` column for table
          * columns, NULL (schema-on-read) for evolved-only ones. */
        def baseVal(c: String): Column =
          if (schema.fieldNames.contains(c)) col(s"_b_$c")
          else lit(null).cast(imgType(c))
        /** Matched-claim image: the first-claiming clause's value; an
          * UNCLAIMED matched pair folds to the base value verbatim
          * (read only on carry rows). Star clauses take the bare
          * source column — a source missing a table column fails at
          * analysis, delta's own star-form contract. */
        def matchedVal(c: String): Column = {
          val dt = imgType(c)
          def matchedImg(cl: MergeMatched): Column = cl match {
            case u: MergeUpdate =>
              if (u.set.isEmpty) col(c)
              else u.set.toMap.get(c).map(_.cast(dt))
                .getOrElse(baseVal(c))
            case _: MergeDelete => baseVal(c)
          }
          // claims are pairwise DISJOINT by construction (each carries
          // "not any earlier cond"), so branch order is irrelevant and
          // a branch whose image IS the fold seed (baseVal) can be
          // omitted outright: deletes (image never read past the flag)
          // and updates that don't assign this column. The common
          // delete+update CDC merge compiles to ONE when per column
          // instead of a chain over every clause (smaller trees for
          // Catalyst and codegen on every per-column image).
          def isBase(cl: MergeMatched): Boolean = cl match {
            case u: MergeUpdate => u.set.nonEmpty && !u.set.exists(_._1 == c)
            case _: MergeDelete => true
          }
          matched.zip(mClaims).filterNot { case (cl, _) => isBase(cl) }
            .reverse
            .foldLeft(baseVal(c)) { case (acc, (cl, claim)) =>
              when(claim, matchedImg(cl)).otherwise(acc) }
        }
        /** Insert-claim image: the first-claiming insert clause's
          * value; a column an explicit list leaves unassigned takes
          * its declared DEFAULT (constant by declaration contract),
          * NULL otherwise — SQL/Delta's insert semantics. */
        def insertVal(c: String): Column = {
          val dt = imgType(c)
          def insertImg(cl: MergeInsert): Column =
            if (cl.values.isEmpty) col(c)
            else cl.values.toMap.get(c).map(_.cast(dt))
              .getOrElse(st.defaults.get(c)
                .map(s => org.apache.spark.sql.functions.expr(s).cast(dt))
                .getOrElse(lit(null).cast(dt)))
          // disjoint claims (see matchedVal): explicit-list clauses
          // that neither assign this column nor inherit a declared
          // DEFAULT fold to the NULL seed — omit their branch
          def isNull(cl: MergeInsert): Boolean =
            cl.values.nonEmpty && !cl.values.exists(_._1 == c) &&
              !st.defaults.contains(c)
          notMatched.zip(iClaims).filterNot { case (cl, _) => isNull(cl) }
            .reverse
            .foldLeft(lit(null).cast(dt): Column) {
              case (acc, (cl, claim)) =>
                when(claim, insertImg(cl)).otherwise(acc) }
        }
        // BY SOURCE images: TARGET rows with no source match keep their
        // base values except where an UPDATE clause claims them; delete
        // claims carry the base image (never read past the flag).
        def bySourceImg(c: String): Column = {
          val dt = imgType(c)
          def img(cl: MergeMatched): Column = cl match {
            case u: MergeUpdate => u.set.toMap.get(c)
              .map(_.cast(dt)).getOrElse(baseVal(c))
            case _: MergeDelete => baseVal(c)
          }
          // disjoint claims (see matchedVal): branches folding to the
          // base seed — deletes and non-assigning updates — drop out
          def isBase(cl: MergeMatched): Boolean = cl match {
            case u: MergeUpdate => !u.set.exists(_._1 == c)
            case _: MergeDelete => true
          }
          notMatchedBySource.zip(bsClaims)
            .filterNot { case (cl, _) => isBase(cl) }.reverse
            .foldLeft(baseVal(c)) { case (acc, (cl, claim)) =>
              when(claim, img(cl)).otherwise(acc) }
        }
        /** Matched/carry/by-source image for one pair (branch A of the
          * compile): matched claims take the clause chain; everything
          * else — by-source claims AND verbatim carries — folds
          * through [[bySourceImg]] (whose unclaimed default IS the
          * base value, NULL for evolved-only columns unless a by-source
          * SET assigns them). */
        def pairImg(c: String): Column =
          if (allStar && !schema.fieldNames.contains(c))
            when(isMatched, col(c))
              .otherwise(lit(null).cast(evolvedSchema(c).dataType))
          else when(isMatched, if (allStar) col(c) else matchedVal(c))
            .otherwise(bySourceImg(c))
        def insImg(c: String): Column =
          if (allStar) (if (srcHas(c)) col(c) else lit(null).cast(imgType(c)))
          else insertVal(c)
        // a by-source clause CLAIMING a NULL-key target row must fail
        // loudly: the keyed copy-on-write carry joins on key equality
        // and can never address such a row (it would duplicate on
        // update and survive delete). Unclaimed NULL-key rows carry
        // untouched — the guard fires only where semantics would bend.
        val anyBaseKeyNull = keys.map(k => col(s"_b_$k").isNull)
          .reduce(_ || _)
        def bsNullKeyGuard(del: Column): Column =
          if (!hasBySource) del
          else when(isBaseNM && anyBs && anyBaseKeyNull,
            raise_error(lit(
              "WHEN NOT MATCHED BY SOURCE cannot act on target rows " +
                s"with a NULL merge key '${keys.mkString(",")}' — the " +
                "keyed copy-on-write carry cannot address them; scrub " +
                "or backfill NULL keys first")).cast("boolean"))
          .otherwise(del)
        val delImage = bsNullKeyGuard(
          (isMatched && delFlag) || (isBaseNM && bsDel))
        // GENERATED columns: a clause that does not explicitly assign
        // one must RECOMPUTE it over the final image (Delta's
        // generated-always semantics) — the naive `_b_`/NULL image
        // would trip the write-time equality guard the moment an
        // update touches a referenced column. Star forms assign ALL
        // columns (source value enforced); explicit lists recompute
        // the unassigned. The fill flag rides each emission's select
        // (claims are unreadable after projection) and the recompute
        // runs over the image columns themselves.
        val genCols = st.generated.toSeq.sortBy(_._1)
        def clauseLeavesUnassigned(cl: MergeMatched, g: String): Boolean =
          cl match {
            case u: MergeUpdate => u.set.nonEmpty && !u.set.exists(_._1 == g)
            case _: MergeDelete => true // image unread past the flag
          }
        // disjoint claims (see matchedVal): branches whose flag equals
        // the TRUE seed drop out of each chain
        def mGenFlag(g: String): Column = matched.zip(mClaims)
          .filterNot { case (cl, _) => clauseLeavesUnassigned(cl, g) }
          .reverse
          .foldLeft(lit(true): Column) { case (acc, (cl, claim)) =>
            when(claim, lit(clauseLeavesUnassigned(cl, g))).otherwise(acc) }
        def iGenFlag(g: String): Column = notMatched.zip(iClaims)
          .filterNot { case (cl, _) =>
            cl.values.nonEmpty && !cl.values.exists(_._1 == g) }
          .reverse
          .foldLeft(lit(true): Column) { case (acc, (cl, claim)) =>
            when(claim,
              lit(cl.values.nonEmpty && !cl.values.exists(_._1 == g)))
              .otherwise(acc) }
        def bsGenFlag(g: String): Column = {
          def leaves(cl: MergeMatched): Boolean = cl match {
            case u: MergeUpdate => !u.set.exists(_._1 == g)
            case _: MergeDelete => true
          }
          notMatchedBySource.zip(bsClaims)
            .filterNot { case (cl, _) => leaves(cl) }
            .reverse.foldLeft(lit(true): Column) { case (acc, (cl, claim)) =>
              when(claim, lit(leaves(cl))).otherwise(acc) }
        }
        def genFlagCols(flag: String => Column): Seq[Column] =
          genCols.map { case (g, _) => flag(g).as(s"_graft_gf_$g") }
        def genFill(frame: DataFrame): DataFrame =
          if (genCols.isEmpty) frame
          else genCols.foldLeft(frame) { case (d, (g, sql)) =>
            d.withColumn(g, when(col(s"_graft_gf_$g"),
                org.apache.spark.sql.functions.expr(sql)
                  .cast(schema(g).dataType))
              .otherwise(col(g)))
          }.drop(genCols.map { case (g, _) => s"_graft_gf_$g" }: _*)
        // CARRY machinery — the keyed copy-on-write drops EVERY base
        // row whose key appears in the compiled frame, so when a key
        // can be partially acted (duplicate target keys with a
        // conditional trailing clause, or a residual splitting a key
        // into insert + surviving target row), the un-acted siblings
        // must re-enter VERBATIM or they'd be lost. Keys with no
        // action at all stay out of the compiled frame entirely (their
        // files are never touched). Skipped when the clause algebra
        // makes partial claims impossible (a trailing UNCONDITIONAL
        // clause claims every pair on its side) — the common upsert
        // shapes pay no window exchange.
        val lastMatchedConditional =
          matched.nonEmpty && matched.last.condition.isDefined
        val lastBsConditional = hasBySource &&
          notMatchedBySource.last.condition.isDefined
        // Claim-completeness shortcut: with KEY-UNIQUE targets and no
        // residual, every matched pair is either claimed (its image
        // replaces the base row) or wholly unclaimed (its key never
        // enters the compiled frame — the file-level carry keeps it):
        // partial claims are impossible and the window is pure cost.
        // Proven by one tiny max-count agg over the PINNED pairs frame
        // (zero extra scans) or, under the small-base broadcast, over
        // the broadcast-small slice; unknown elsewhere → conservative.
        def targetKeysUnique: Boolean = {
          val grouped = pairsPin match {
            case Some(pairs) => Some(pairs.groupBy(keyCols: _*))
            case None if smallBase =>
              Some(b.groupBy(keys.map(k => col(s"_b_$k")): _*))
            case None => None
          }
          grouped.exists(_.count()
            .agg(coalesce(smax(col("count")), lit(0L)))
            .head().getLong(0) <= 1L)
        }
        // a conditional trailing BY SOURCE clause forces the carry in
        // THIS frame only when fused — the broadcast-anti path runs
        // its own window over bsEmitted below
        val needCarry = hasResidual || (fused && lastBsConditional) ||
          (lastMatchedConditional && !targetKeysUnique)
        val roleActed = (isMatched && anyM) || (isBaseNM && anyBs)
        val compiled =
          if (!needCarry) {
            // cheap path: no window — every matched/by-source pair is
            // claimed (trailing unconditional clause) or its key is
            // wholly unclaimed and drops out
            val images = imageNames.map { c =>
              // evolved-only columns compile through the SAME clause
              // chains as table columns (matchedVal/insertVal read
              // their explicit assignments and fold to NULL where
              // unassigned — the schema-on-read value); only the
              // all-star fast path takes the source column wholesale
              val srcSide: Column =
                if (allStar) col(c)
                else when(isMatched, matchedVal(c))
                  .otherwise(insertVal(c))
              val full =
                if (!fused) srcSide
                else when(isBaseNM, bySourceImg(c)).otherwise(srcSide)
              full.as(c)
            }
            resolved
              .withColumn("_graft_del", delImage)
              .filter(roleActed || (isSourceOnly && anyI))
              .select(images ++ genFlagCols(g =>
                  when(isMatched, mGenFlag(g))
                    .when(isSourceOnly, iGenFlag(g))
                    .otherwise(bsGenFlag(g)))
                :+ col("_graft_del"): _*)
          } else {
            import org.apache.spark.sql.expressions.Window
            val wKeys = keys.map(k =>
              if (fused) coalesce(col(k), col(s"_b_$k")) else col(k))
            val w = Window.partitionBy(wKeys: _*)
            // two stacked windows over ONE partitioning (one exchange):
            // kap = does any pair of this key fully match; ka = is any
            // pair of this key acted (claim or insert) — the carry
            // trigger. row_number dedups the insert emission when a
            // residual-failing source row key-joins several target
            // rows (the insert image is source-only, so any pair may
            // carry it).
            val step1 = resolved
              .withColumn("_graft_kap",
                smax(when(isMatched, 1).otherwise(0)).over(w))
              .withColumn("_graft_rn",
                org.apache.spark.sql.functions.row_number()
                  .over(w.orderBy(col(s"_b_${keys.head}"))))
            val kap = col("_graft_kap") === 1
            val insertFire = srcP && !kap && anyI &&
              (!baseP || col("_graft_rn") === 1)
            val step2 = step1.withColumn("_graft_ka",
              smax(when(roleActed || insertFire, 1).otherwise(0)).over(w))
            val keyActed = col("_graft_ka") === 1
            // a NULL-key base row is unaddressable by the keyed carry
            // (null never joins) — and never dropped by it either, so
            // it must NOT carry (it would duplicate); null-key source
            // rows insert normally
            val carryRow =
              baseP && !roleActed && keyActed && !anyBaseKeyNull
            if (!hasResidual)
              // inserts are DISJOINT from base-addressing pairs when
              // the join is keys-only: ONE pass over the windowed
              // frame (a union would evaluate the window subtree once
              // per branch)
              step2
                .withColumn("_graft_del",
                  when(isSourceOnly, lit(false)).otherwise(delImage))
                .filter(roleActed || carryRow || (isSourceOnly && anyI))
                .select(imageNames.map(c =>
                    when(isSourceOnly, insImg(c))
                      .otherwise(pairImg(c)).as(c))
                  ++ genFlagCols(g =>
                    when(isMatched, mGenFlag(g))
                      .when(isSourceOnly, iGenFlag(g))
                      .otherwise(bsGenFlag(g)))
                  :+ col("_graft_del"): _*)
            else {
              // residual: an insert-firing pair may ALSO carry its
              // base row — two output rows from one input row, so the
              // union stands (the rare path; pairs-frame-sized)
              val branchA = step2
                .withColumn("_graft_del", delImage)
                .filter(roleActed || carryRow)
                .select(imageNames.map(c => pairImg(c).as(c))
                  ++ genFlagCols(g =>
                    when(isMatched, mGenFlag(g)).otherwise(bsGenFlag(g)))
                  :+ col("_graft_del"): _*)
              branchA.unionByName(step2
                .withColumn("_graft_del", lit(false))
                .filter(insertFire)
                .select(imageNames.map(c => insImg(c).as(c))
                  ++ genFlagCols(iGenFlag)
                  :+ col("_graft_del"): _*))
            }
          }
        // Broadcast two-join shape for small sources: base-only rows
        // come from a broadcast ANTI join over the full base — the
        // base never exchanges, matched/insert rows keep the pruned
        // slice above.
        val withBySource =
          if (!hasBySource || fused) compiled
          else {
            val b2 = fullBase.select(
              schema.fieldNames.map(c => col(c).as(s"_b_$c")).toSeq: _*)
            val unmatchedBase = b2.join(
              org.apache.spark.sql.functions.broadcast(
                updates.select(keys.zipWithIndex.map { case (k, i) =>
                  col(k).as(s"_graft_src_key_$i") }: _*)),
              keys.zipWithIndex.map { case (k, i) =>
                col(s"_b_$k") === col(s"_graft_src_key_$i") }
                .reduce(_ && _), "left_anti")
            val bsAliased = imageNames.map { c =>
              if (!schema.fieldNames.contains(c))
                lit(null).cast(evolvedSchema(c).dataType).as(c)
              else bySourceImg(c).as(c)
            }
            val preDel = unmatchedBase
              .withColumn("_graft_del",
                // same NULL-key refusal as the fused path (class doc
                // on bsNullKeyGuard): claimed null-key rows cannot be
                // addressed by the keyed carry
                when(anyBs && anyBaseKeyNull,
                  raise_error(lit(
                    "WHEN NOT MATCHED BY SOURCE cannot act on target " +
                      s"rows with a NULL merge key " +
                      s"'${keys.mkString(",")}' — the keyed " +
                      "copy-on-write carry cannot address them; scrub " +
                      "or backfill NULL keys first")).cast("boolean"))
                .otherwise(bsDel))
            // duplicate target keys with a conditional trailing
            // by-source clause can split a key into claimed +
            // unclaimed siblings — the unclaimed ones must CARRY
            // verbatim once the key is acted (bySourceImg's unclaimed
            // default IS the base value, bsDel reads false there)
            val bsEmitted =
              if (!lastBsConditional) preDel.filter(anyBs)
              else {
                import org.apache.spark.sql.expressions.Window
                val wb = Window.partitionBy(
                  keys.map(k => col(s"_b_$k")): _*)
                preDel
                  .withColumn("_graft_bsact",
                    smax(when(anyBs, 1).otherwise(0)).over(wb))
                  .filter(anyBs || (col("_graft_bsact") === 1
                    && !anyBaseKeyNull))
              }
            compiled.unionByName(
              bsEmitted.select(bsAliased ++ genFlagCols(bsGenFlag)
                :+ col("_graft_del"): _*))
          }
        // MATERIALIZE the compiled frame (same lineage-truncating
        // local checkpoint as the source): the keyed copy-on-write
        // consumes it several times (bounds prune, key flags, confirm
        // join, carry, staging write) — single evaluation AND shallow
        // plans for every consumer; O(source) rows, spill-safe, and
        // released win or lose
        val (compiledPinned, releaseCompiled) =
          org.apache.spark.sql.graftshim.PlanShim
            .localCheckpointReleasable(genFill(withBySource))
        // a lost race re-runs this whole resolution against the new base
        try mergeAttempt(compiledPinned, t, keys,
            deleteCol = Some("_graft_del"),
            statsCols = statsCols, tag = tag, tagHorizon = tagHorizon,
            sortCols = sortCols, deleteVectors = deleteVectors,
            schemaEvolution = schemaEvolution,
            // a by-source clause can grow the COMPILED frame to base
            // size (every base-only acted/carried row joins it) no
            // matter how small the original source was — let
            // mergeAttempt re-measure the frame it actually joins
            // (its bounds aggregate carries the count for free)
            // instead of inheriting a verdict sized to the source
            broadcastSource = if (hasBySource) None else Some(bcSource))
        finally {
          releaseCompiled()
          releasePairs()
        }
      }
    } finally releaseSrc()
  }

  /** Single-clause-per-kind conditional MERGE — the pre-multi-clause
    * surface, now a thin mapping onto [[mergeMulti]]. Clause defaults
    * are Delta's: an ABSENT clause is NO ACTION whenever any other
    * clause is provided (a delete-only merge leaves non-matching
    * matched rows untouched); only a call with NO clauses at all keeps
    * the historical update-all/insert-all upsert reading. Delete is
    * evaluated before update (the engine's fixed precedence at this
    * surface — SQL statement order is the parser's job, which now
    * passes clause lists to [[mergeMulti]] directly).
    */
  def mergeConditional(updates: DataFrame, path: String, key: String,
                       whenMatchedUpdate: Option[Column] = None,
                       whenMatchedDelete: Option[Column] = None,
                       whenNotMatchedInsert: Option[Column] = None,
                       statsCols: Seq[String] = Nil, maxAttempts: Int = 3,
                       tag: Option[String] = None,
                       tagHorizon: Int = DefaultTagHorizon,
                       sortCols: Seq[String] = Nil,
                       deleteVectors: Boolean = false,
                       updateSet: Seq[(String, Column)] = Nil,
                       insertValues: Seq[(String, Column)] = Nil,
                       schemaEvolution: Boolean = false): Long = {
    val anyClause = whenMatchedUpdate.isDefined ||
      whenMatchedDelete.isDefined || whenNotMatchedInsert.isDefined
    val matched: Seq[MergeMatched] =
      whenMatchedDelete.map(c => MergeDelete(Some(c))).toSeq ++
        (if (whenMatchedUpdate.isDefined)
           Seq(MergeUpdate(whenMatchedUpdate, updateSet))
         else if (!anyClause) Seq(MergeUpdate(None, updateSet))
         else Nil)
    val notMatched: Seq[MergeInsert] =
      if (whenNotMatchedInsert.isDefined)
        Seq(MergeInsert(whenNotMatchedInsert, insertValues))
      else if (!anyClause) Seq(MergeInsert(None, insertValues))
      else Nil
    mergeMulti(updates, path, key, matched, notMatched,
      statsCols = statsCols, maxAttempts = maxAttempts, tag = tag,
      tagHorizon = tagHorizon, sortCols = sortCols,
      deleteVectors = deleteVectors, schemaEvolution = schemaEvolution)
  }

  /** The files [[merge]] would treat as candidates for these update
    * keys, split as (statsCandidates, total) — the pruning diagnostic
    * the spec asserts on.
    */
  def mergeCandidateCount(spark: SparkSession, path: String, key: String,
                          lower: Double, upper: Double): (Int, Int) =
    pruneCount(spark, path, key, lower, upper)

  /** Predicate UPDATE (Delta `UPDATE tbl SET c = e, ... WHERE cond`) —
    * keyless copy-on-write: touched files are discovered by ONE
    * filter-pushed scan collecting file NAMES only (parquet row-group
    * stats prune the scan for free; O(files) driver rows), then only
    * those files rewrite with the SET applied to matching rows. Carried
    * files are untouched bytes. `set` values and `cond` are Columns
    * over the table's logical schema; rows where `cond` is NULL are
    * unchanged (SQL semantics). SET targets may not be generated
    * columns — those recompute from their declarations after the
    * update, so a SET on a generated-column SOURCE stays consistent.
    * Returns the committed version (or the current one when no row
    * matches — a no-op commits nothing).
    *
    * Scale shape: cost is O(matching files rewritten + one prune-scan
    * of candidates), identical to [[merge]]'s CoW fraction; the
    * detection scan reads only `cond`'s columns (column-pruned) and
    * skips row groups whose stats exclude the predicate.
    */
  def updateWhere(spark: SparkSession, path: String,
                  set: Seq[(String, Column)], cond: Column,
                  statsCols: Seq[String] = Nil, maxAttempts: Int = 3,
                  tag: Option[String] = None,
                  tagHorizon: Int = DefaultTagHorizon): Long = {
    require(set.nonEmpty, "UPDATE needs at least one SET assignment")
    rewriteWhere(spark, path, cond, op = "UPDATE",
      statsCols, maxAttempts, tag, tagHorizon, updateRows(set, cond))
  }

  /** [[updateWhere]]'s row transform: the SET applied where `cond`
    * holds. */
  private def updateRows(set: Seq[(String, Column)], cond: Column)
      : (DataFrame, TableState) => DataFrame = (df, st) => {
    set.foreach { case (c, _) =>
      require(!st.generated.contains(c),
        s"cannot UPDATE generated column '$c' — it recomputes from " +
          s"its declaration (${st.generated.getOrElse(c, "")})")
      require(df.schema.fieldNames.contains(c),
        s"UPDATE SET targets unknown column '$c'")
    }
    setImages(df, st, set, Some(cond))
  }

  /** The rows of `df` after an UPDATE SET, only where `where` holds
    * (None: on every row). Every RHS evaluates against the OLD row (SQL
    * semantics — `SET a = b, b = a` swaps): all values stage into temp
    * columns first, then overwrite. Staging happens BEFORE the
    * generated columns strip, so both the WHERE predicate and a SET
    * RHS may reference a generated column (Delta permits both);
    * generatedGuard then recomputes the generated values from the
    * updated sources, and CHECK constraints enforce on the images. */
  private def setImages(df: DataFrame, st: TableState,
                        set: Seq[(String, Column)],
                        where: Option[Column]): DataFrame = {
    import org.apache.spark.sql.functions.{col, when}
    val staged = set.foldLeft(df) { case (d, (c, e)) =>
      val v = e.cast(df.schema(c).dataType)
      d.withColumn(s"_graft_set_$c",
        where.fold(v)(w => when(w, v).otherwise(col(c))))
    }
    val stripped = st.generated.keys.foldLeft(staged)(_ drop _)
    val updated = set.foldLeft(stripped) { case (d, (c, _)) =>
      d.withColumn(c, col(s"_graft_set_$c")).drop(s"_graft_set_$c")
    }
    constraintGuard(generatedGuard(updated, st.generated), st.constraints)
  }

  /** Predicate DELETE (Delta `DELETE FROM tbl WHERE cond`) — keyless
    * copy-on-write: touched files discovered by one filter-pushed
    * name-only scan, then rewritten WITHOUT the matching rows; rows
    * where `cond` is NULL survive (SQL semantics). Untouched files
    * carry verbatim. Returns the committed version (current version
    * when nothing matches — no commit).
    */
  def deleteWhere(spark: SparkSession, path: String, cond: Column,
                  statsCols: Seq[String] = Nil, maxAttempts: Int = 3,
                  tag: Option[String] = None,
                  tagHorizon: Int = DefaultTagHorizon): Long = {
    rewriteWhere(spark, path, cond, op = "DELETE",
      statsCols, maxAttempts, tag, tagHorizon, deleteRows(cond))
  }

  /** [[deleteWhere]]'s row transform: the rows `cond` does not fire on
    * (a NULL `cond` keeps its row). */
  private def deleteRows(cond: Column)
      : (DataFrame, TableState) => DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    (df, _) => df.filter(!coalesce(cond, lit(false)))
  }

  /** Selective overwrite (Delta's `replaceWhere` /
    * `INSERT OVERWRITE ... WHERE`): atomically replace EXACTLY the
    * rows matching `cond` with `batch` — the idiomatic
    * backfill-one-slice write. One commit does both halves: files
    * holding matching rows rewrite WITHOUT them (discovered by the
    * same stats-pre-pruned, filter-pushed detection
    * [[updateWhere]]/[[deleteWhere]] run; untouched files carry
    * byte-identical), and the incoming batch stages as new files with
    * its own partitioning. The batch must itself satisfy `cond` —
    * Delta's replaceWhere validation — so the operation is a true
    * slice replacement, refused otherwise before anything stages.
    * Generated columns compute/enforce and CHECK constraints enforce
    * on the batch; under row tracking the batch draws fresh ids above
    * the high-water mark while carried rows keep theirs.
    *
    * Scale shape: cost is O(files overlapping the slice + the new
    * slice) — a one-partition backfill on a 100 TB table touches that
    * partition's files and nothing else, where a plain overwrite
    * rewrites the world.
    */
  def overwriteWhere(batch: DataFrame, path: String, cond: Column,
                     statsCols: Seq[String] = Nil, maxAttempts: Int = 3,
                     tag: Option[String] = None,
                     tagHorizon: Int = DefaultTagHorizon): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    // the batch-satisfies-predicate rule does not depend on the base:
    // counted once, by the first attempt that is not a tag replay
    lazy val offenders = batch.filter(!coalesce(cond, lit(false))).count()
    rewriteWhere(batch.sparkSession, path, cond, op = "REPLACE_WHERE",
      statsCols, maxAttempts, tag, tagHorizon, deleteRows(cond),
      extra = Some { (st, schema) =>
        require(offenders == 0L,
          s"replaceWhere batch violates its own predicate: $offenders rows " +
            "do not satisfy the WHERE condition (Delta's replaceWhere rule)")
        // the batch must carry exactly the table columns, except that
        // GENERATED columns may be omitted — they recompute in the
        // guard (the write/append contract); schema, generated columns
        // and CHECK constraints are the attempt's base's
        val rwMissing = schema.fieldNames.filterNot(batch.columns.contains)
        require(rwMissing.forall(st.generated.contains) &&
            batch.schema.fieldNames.sorted.toSeq ==
              schema.fieldNames.filterNot(rwMissing.contains).sorted.toSeq,
          s"replaceWhere batch columns ${batch.schema.fieldNames.mkString("(", ",", ")")} " +
            s"must carry exactly the table columns ${schema.fieldNames.mkString("(", ",", ")")}" +
            " (generated columns may be omitted)")
        constraintGuard(
          generatedGuard(batch.select(schema.fieldNames
            .filterNot(rwMissing.contains).map(col).toSeq: _*),
            st.generated),
          st.constraints)
          .select(schema.fieldNames.map(col).toSeq: _*)
      })
  }

  /** A NECESSARY condition of a predicate on one column: the value lies
    * in [lo, hi] and, when `points` is set, equals one of them. */
  private[graft] final case class ColBound(lo: Double, hi: Double,
                                           points: Option[Seq[Double]] = None)

  /** Per-column numeric ranges that are NECESSARY conditions of `cond`
    * (see [[condPrune]]).
    */
  private[graft] def condBounds(cond: Column): Map[String, (Double, Double)] =
    condPrune(cond).map { case (c, b) => c -> ((b.lo, b.hi)) }

  /** Per-column necessary conditions of `cond` — extracted from its
    * TOP-LEVEL conjuncts only (an OR contributes nothing; soundness over
    * completeness, like every prune in this file). `a > 5 && a < 9 &&
    * f(b)` → a ∈ [5, 9]; the exclusive/inclusive distinction is dropped
    * because range pruning keeps any file whose [min, max] INTERSECTS
    * the interval. `a IN (3, 7, null)` → a ∈ {3, 7}: null literals never
    * make IN true, and an IN with any non-numeric (or NaN) literal
    * contributes nothing. Feeds [[condCandidates]], so a predicate
    * UPDATE/DELETE over a clustered key skips whole files driver-side
    * before the detection scan reads a single row group.
    */
  private[graft] def condPrune(cond: Column): Map[String, ColBound] = {
    // Spark 4 Columns are ColumnNode graphs (comparisons arrive as
    // UnresolvedFunction(">=", ...), not typed catalyst nodes); the
    // node API is private[sql], so the shim flattens the conjuncts
    val conjuncts =
      org.apache.spark.sql.graftshim.PlanShim.predicateConjuncts(cond)
    def name(a: Option[Either[String, Any]]): Option[String] =
      a.flatMap(_.left.toOption)
    def num(a: Option[Either[String, Any]]): Option[Double] =
      a.flatMap(_.toOption).collect {
        case v: Byte   => v.toDouble
        case v: Short  => v.toDouble
        case v: Int    => v.toDouble
        case v: Long   => v.toDouble
        case v: Float  => v.toDouble
        case v: Double => v
      }
    // the IN list's points: None when any literal is unusable
    def points(lits: Seq[Option[Either[String, Any]]]): Option[Seq[Double]] = {
      val nonNull = lits.filterNot(_.contains(Right(null)))
      val ps = nonNull.flatMap(num).filterNot(_.isNaN)
      if (ps.isEmpty || ps.size != nonNull.size) None else Some(ps.distinct)
    }
    val neg = Double.NegativeInfinity
    val pos = Double.PositiveInfinity
    conjuncts.foldLeft(Map.empty[String, ColBound]) { (acc, c) =>
      val hit: Option[(String, ColBound)] = c match {
        case (fn, Seq(x, y)) if fn != "in" =>
          (fn match {
            case ">" | ">=" =>
              (for (n <- name(x); v <- num(y)) yield (n, v, pos))
                .orElse(for (n <- name(y); v <- num(x)) yield (n, neg, v))
            case "<" | "<=" =>
              (for (n <- name(x); v <- num(y)) yield (n, neg, v))
                .orElse(for (n <- name(y); v <- num(x)) yield (n, v, pos))
            case "=" | "==" =>
              (for (n <- name(x); v <- num(y)) yield (n, v, v))
                .orElse(for (n <- name(y); v <- num(x)) yield (n, v, v))
            case _ => None
          }).map { case (n, lo, hi) => n -> ColBound(lo, hi) }
        case ("in", x +: lits) =>
          for (n <- name(x); ps <- points(lits))
            yield n -> ColBound(ps.min, ps.max, Some(ps))
        case _ => None
      }
      hit.fold(acc) { case (n, b) =>
        val prev = acc.getOrElse(n, ColBound(neg, pos))
        val ps = (prev.points, b.points) match {
          case (Some(a), Some(o)) => Some(a.filter(o.contains))
          case (a, o)             => a.orElse(o)
        }
        acc + (n -> ColBound(math.max(prev.lo, b.lo), math.min(prev.hi, b.hi), ps))
      }
    }
  }

  /** The files of `st` that may hold a row firing `cond`: the
    * manifest-stats pre-prune against [[condPrune]]'s necessary
    * conditions (sound: a file whose partition value or stats exclude a
    * necessary condition holds no matching row). */
  private[graft] def condCandidates(st: TableState, cond: Column): Seq[String] =
    condPrune(cond).foldLeft(st.files) { case (files, (c, b)) =>
      if (files.isEmpty || !prunableColumn(st, c)) files
      else b.points match {
        case None => pruneFilesByRange(st.copy(files = files), c,
          prunableType = true, b.lo, b.hi)
        case Some(ps) => pruneFilesByPoints(st.copy(files = files), c,
          ps.filter(p => p >= b.lo && p <= b.hi))
      }
    }

  /** Merge-on-read predicate DELETE (`DELETE ... WHERE` with deletion
    * vectors): matching rows are killed by a DV SIDECAR — ZERO data
    * files written or removed — built DISTRIBUTIVELY from one
    * stats-pre-pruned, filter-pushed scan emitting (file, key) pairs.
    * `key` must uniquely identify rows within a file (the same
    * contract as keyed merge under DVs — a DV entry kills every row of
    * that file with that key); a table with live DVs must keep using
    * the same key. Reads, the change feed (the sparse-delete CDC
    * branch replays exactly the killed rows), and [[compact]] (which
    * folds DVs away) all compose. No match → no commit.
    *
    * Scale shape: the cheapest possible sparse delete at 100 TB —
    * I/O is the pruned detection scan plus a KB-scale sidecar write;
    * the sidecar stays broadcast-small by the sparse-delete contract
    * (bulk deletes belong to [[deleteWhere]]'s CoW rewrite).
    */
  def deleteWhereDV(spark: SparkSession, path: String, cond: Column,
                    key: String, maxAttempts: Int = 3,
                    tag: Option[String] = None,
                    tagHorizon: Int = DefaultTagHorizon,
                    sparseRowLimit: Long = DefaultSparseRowLimit): Long = {
    import org.apache.spark.sql.functions.col
    transact(spark, path, "DV-delete", maxAttempts,
        Some(s"no committed version at $path"), tag) { t =>
      val st = t.st
      val schema = st.schema.getOrElse(readStateDf(spark, path, st).schema)
      require(schema.fieldNames.contains(key),
        s"no column '$key' at $path to key deletion vectors on")
      t.requireDvKey(Seq(key))
      val candidates = condCandidates(st, cond)
      if (candidates.isEmpty) Done(t.base)
      else {
        // DV-aware matching scan (already-deleted rows never re-enter
        // a sidecar), emitting (file name, key) pairs DISTRIBUTIVELY
        val alive = liveRows(spark, path, st.copy(files = candidates))
        // the emptiness check, the sparse-contract guard, and the
        // sidecar write all read ONE cached frame — the pruned
        // detection scan runs once (a nondeterministic or
        // time-sensitive predicate could otherwise commit a vector
        // that diverges from the emptiness check; mirrors
        // updateWhereDV's cached pattern)
        val pairs = alive.filter(cond)
          .select(col(FileNameCol).as("_graft_dv_file"),
            col(key).as("_graft_dv_key"))
          .dropDuplicates("_graft_dv_file", "_graft_dv_key")
          .cache()
        try {
          val matched = pairs.count()
          if (matched == 0L) Done(t.base) // no match: nothing to commit
          else if (matched > sparseRowLimit) {
            // the predicate is BULK, not sparse: a coalesce(1) sidecar
            // of this size would funnel through one task and readers
            // would pay a huge anti-join forever — the CoW rewrite of
            // the same base is the right shape, so take it
            // (self-enforcing contract)
            pairs.unpersist(blocking = false)
            rewriteAttempt(t, cond, "DELETE", Nil, tag, tagHorizon,
              deleteRows(cond))
          } else {
            val dvAdds = t.stageDv(pairs)
            Publish(deltaJson(t.version, t.ts, tag = tag,
                tagHorizon = tagHorizon, schema = Some(schema),
                dvAdds = dvAdds, dvKey = Some(st.phys(key)),
                op = Some("DELETE_DV")),
              t.written("dv" -> dvAdds))
          }
        } finally pairs.unpersist(blocking = false)
      }
    }
  }

  /** Merge-on-read predicate UPDATE (`UPDATE ... SET ... WHERE` with
    * deletion vectors): matching rows' OLD images are killed by a DV
    * sidecar while their transformed NEW images land as ONE appended
    * file — no existing data file is rewritten or removed. The
    * write-amplification inverse of [[updateWhere]]: CoW pays
    * O(touched files), MoR pays O(matching ROWS) — the right shape
    * when a sparse predicate scatters across many large files. Same
    * `key` contract as [[deleteWhereDV]] (row-unique per file, one DV
    * key per table); SET semantics identical to [[updateWhere]] (every
    * RHS sees the old row; generated columns recompute; constraints
    * enforce on the new images; row ids carry verbatim; a SET identity
    * value advances the high water). Readers fold both sides;
    * [[compact]] folds the vectors away entirely.
    */
  def updateWhereDV(spark: SparkSession, path: String,
                    set: Seq[(String, Column)], cond: Column, key: String,
                    maxAttempts: Int = 3, tag: Option[String] = None,
                    tagHorizon: Int = DefaultTagHorizon,
                    sparseRowLimit: Long = DefaultSparseRowLimit): Long = {
    import org.apache.spark.sql.functions.col
    require(set.nonEmpty, "UPDATE needs at least one SET assignment")
    transact(spark, path, "MoR-update", maxAttempts,
        Some(s"no committed version at $path"), tag) { t =>
      val st = t.st
      val schema = st.schema.getOrElse(readStateDf(spark, path, st).schema)
      require(schema.fieldNames.contains(key),
        s"no column '$key' at $path to key deletion vectors on")
      t.requireDvKey(Seq(key))
      set.foreach { case (c, _) =>
        require(!st.generated.contains(c),
          s"cannot UPDATE generated column '$c' — it recomputes from " +
            s"its declaration (${st.generated.getOrElse(c, "")})")
        require(c != key,
          s"cannot SET the DV key column '$key' under merge-on-read " +
            "— the old image's vector is keyed on it (use updateWhere)")
      }
      val candidates = condCandidates(st, cond)
      if (candidates.isEmpty) Done(t.base)
      else {
        val alive = liveRows(spark, path,
          st.copy(files = candidates, schema = st.rowIdSchema))
        // the DV pairs (old images to kill) and the new images come
        // from ONE cached matching frame — the scan runs once
        val cached = alive.filter(cond).cache()
        try {
          val matchedRows = cached.count()
          if (matchedRows == 0L) Done(t.base)
          else if (matchedRows > sparseRowLimit) {
            // bulk predicate: the MoR shape's single-task images write
            // and perpetual read-side anti-join would both be the wrong
            // cost curve — take the CoW rewrite of the same base
            // instead (self-enforcing sparse contract)
            cached.unpersist(blocking = false)
            rewriteAttempt(t, cond, "UPDATE", Nil, tag, tagHorizon,
              updateRows(set, cond))
          } else {
            // cond is TRUE on every cached row: no per-row guard
            val carrySchema =
              if (st.rowTracking) schema.fieldNames :+ RowIdCol
              else schema.fieldNames
            val newImages = setImages(cached.drop(FileNameCol), st, set, None)
              .select(carrySchema.map(col).toSeq: _*)
            // partitioned layouts: the images write goes through
            // partitionBy, so every new image lands in its partition
            // home (including rows a SET moves ACROSS partitions)
            val staged = t.stage(Some(newImages.coalesce(1)),
              partitionColsOf(st.files), st.rewriteStatsCols(Nil),
              survives = true)
            val dvAdds = t.stageDv(cached
              .select(col(FileNameCol).as("_graft_dv_file"),
                col(key).as("_graft_dv_key"))
              .dropDuplicates("_graft_dv_file", "_graft_dv_key"))
            Publish(deltaJson(t.version, t.ts, staged.adds,
                addStats = staged.stats, tag = tag, tagHorizon = tagHorizon,
                schema = Some(schema), dvAdds = dvAdds,
                dvKey = Some(st.phys(key)), bloomAdds = staged.bloomAdds,
                ndvAdds = staged.ndvAdds, op = Some("UPDATE_DV"),
                identityHighWater = staged.identityHighWater),
              staged.cleanup ++ t.written("dv" -> dvAdds))
          }
        } finally cached.unpersist(blocking = false)
      }
    }
  }

  /** Shared CoW engine for the keyless row-level verbs: each attempt
    * ([[rewriteAttempt]]) detects touched files, rewrites them via
    * `transform` and commits the adds/removes. */
  private def rewriteWhere(spark: SparkSession, path: String, cond: Column,
                           op: String, statsCols: Seq[String],
                           maxAttempts: Int, tag: Option[String],
                           tagHorizon: Int,
                           transform: (DataFrame, TableState) => DataFrame,
                           extra: Option[(TableState, StructType) => DataFrame] = None)
      : Long =
    transact(spark, path, op, maxAttempts,
        Some(s"no committed version at $path"), tag)(
      rewriteAttempt(_, cond, op, statsCols, tag, tagHorizon, transform,
        extra))

  /** One keyless copy-on-write attempt against `t`'s base. Detection
    * first PRE-PRUNES the candidate files with the manifest's per-file
    * stats against [[condPrune]]'s necessary ranges (sound: a file whose
    * stats exclude a necessary condition holds no matching row), then
    * runs ONE filter-pushed name-only scan over the survivors. Row
    * tracking carries ids verbatim through the rewrite (`transform`
    * never touches [[RowIdCol]]); stats columns default to the table's
    * inherited stats schema so data skipping survives updates;
    * bloom/NDV sidecars rebuild for staged files. `extra` stages a
    * batch beside the rewrite (replaceWhere's incoming slice).
    */
  private def rewriteAttempt(t: Txn, cond: Column, op: String,
                             statsCols: Seq[String], tag: Option[String],
                             tagHorizon: Int,
                             transform: (DataFrame, TableState) => DataFrame,
                             extra: Option[(TableState, StructType) => DataFrame] = None)
      : Attempt = {
    import org.apache.spark.sql.functions.col
    import t.{path, spark, st}
    val schema = st.schema.getOrElse(readStateDf(spark, path, st).schema)
    val extraDf = extra.map(_(st, schema))
    // 1a) manifest-stats pre-prune: necessary ranges from the cond's
    // conjuncts against per-file min/max (and partition values) —
    // whole files skip driver-side before any scan
    val candidates = condCandidates(st, cond)
    // 1b) touched-file detection: filter-pushed scan over the
    // survivors, names only. The filter reaches the parquet scan, so
    // row-group stats prune I/O; only O(matching files) names return.
    val touchedBase: Set[String] =
      if (candidates.isEmpty) Set.empty
      else readFilesMapped(spark, path, st, candidates, fileName = true)
        .filter(cond)
        .select(col(FileNameCol))
        .distinct().collect().map(_.getString(0)).toSet
    val touched = candidates.filter(fl => touchedBase(fl.split("/").last))
    // no matches AND no staged batch: nothing to commit
    if (touched.isEmpty && extraDf.forall(_.isEmpty)) Done(t.base)
    else {
      // 2) rewrite ONLY the touched files, DV-aware (already-deleted
      // rows never resurrect); row ids ride along verbatim
      val carrySchema =
        if (st.rowTracking) schema.fieldNames :+ RowIdCol
        else schema.fieldNames
      // rewritten survivors pack into ~touched-file count (shuffle-free
      // coalesce); an extra staged batch (replaceWhere's incoming
      // slice) keeps ITS OWN partitioning — its size is unrelated to
      // the files it displaces. Extra rows are inserts: under row
      // tracking they draw fresh ids above the high-water mark.
      val rewritten: Option[DataFrame] =
        if (touched.isEmpty) None
        else Some(transform(readStateDf(spark, path,
            st.copy(files = touched, schema = st.rowIdSchema)), st)
          .select(carrySchema.map(col).toSeq: _*)
          .coalesce(math.max(1, touched.size)))
      val extraPrep: Option[DataFrame] = extraDf.map { e =>
        val withId = if (st.rowTracking) assignRowIds(e, st.rowHighWater) else e
        withId.select(carrySchema.map(col).toSeq: _*)
      }
      // physical names on mapped tables, inside the partition layout;
      // a version whose every row is deleted keeps one zero-row file
      val staged = t.stage(
        Some((rewritten.toSeq ++ extraPrep.toSeq).reduce(_ unionByName _)),
        partitionColsOf(st.files),
        st.rewriteStatsCols(statsCols.map(st.phys)),
        survives = st.files.filterNot(touched.toSet).nonEmpty)
      val json = deltaJson(t.version, t.ts, staged.adds,
        touched, staged.stats, tag, tagHorizon, Some(schema),
        bloomAdds = staged.bloomAdds, ndvAdds = staged.ndvAdds,
        op = Some(op),
        rowHighWater =
          if (!st.rowTracking || extraDf.isEmpty) None
          else Some(staged.rowHighWater),
        // replaceWhere's staged batch carries the identity column by
        // schema contract — supplied values advance the high water
        // exactly as writeAttempt does, preserving id uniqueness
        identityHighWater = staged.identityHighWater)
      // UPDATE/DELETE/replaceWhere rewrites stage small files per
      // commit just like appends — auto-compaction evaluates after
      // any successful write (delta's post-commit hook shape)
      Publish(json, staged.cleanup, autoCompact = true)
    }
  }

  // ------------------------------------------------------------------
  // Maintenance
  // ------------------------------------------------------------------

  /** OPTIMIZE-style compaction: rewrite the CURRENT version (deletion
    * vectors folded in — the rewrite reads DV-filtered rows and the
    * overwrite entry removes the sidecars) into `targetFiles` files as
    * a new committed version. With `sortCols` the rewrite re-clusters
    * (range partition + in-file sort); `statsCols` refreshes the
    * data-skipping stats.
    */
  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE src`): commit
    * `dst`'s first version as a METADATA-ONLY log entry whose file refs
    * point at the source version's data files — zero bytes copied, O(file
    * count) driver work, so forking a 100 TB table for an experiment
    * costs one manifest write. Per-file stats, schema, deletion vectors,
    * and CHECK constraints all carry over, so data skipping, merge
    * pruning, and enforcement work on the clone immediately.
    *
    * The clone then DIVERGES freely: appends add local files; a merge
    * rewrites only the touched external files into local ones (dropping
    * their refs — the source bytes are never modified); [[compact]]
    * localizes everything. [[vacuum]] on either table never deletes the
    * other's files (it only sweeps directories under its own root).
    *
    * Retention contract (same as Delta's): the clone references the
    * source's PHYSICAL files — vacuuming the source below the cloned
    * version dangles the clone. Localize with [[compact]] before
    * shrinking source retention. PARTITIONED sources clone too: the
    * refs keep their k=v path segments and reads re-derive the
    * partition columns by grouping refs under their snapshot-dir scan
    * base, so partition-value pruning keeps working on the clone.
    */
  def cloneShallow(spark: SparkSession, src: String, dst: String,
                   version: Option[Long] = None): Long = {
    val f = fs(spark, dst)
    require(versions(spark, dst).isEmpty,
      s"cannot clone into $dst — it already has committed versions")
    val srcV = version.getOrElse(currentVersion(spark, src).getOrElse(
      throw new IllegalStateException(s"no committed version at $src to clone")))
    val st = resolveState(spark, src, srcV)
    // partitioned sources clone too: the external refs keep their k=v
    // segments, and the read path re-derives partition columns by
    // grouping refs under their snapshot-dir scan base.
    // FULLY QUALIFY the source root: makeQualified keeps the scheme +
    // authority (s3://bucket/..., hdfs://nn/...) so refs resolve against
    // the SOURCE's filesystem, not the clone's default one, and turns a
    // relative local src absolute so every ref passes isExternalRef.
    val srcFs = fs(spark, src)
    val srcRoot =
      srcFs.makeQualified(new Path(src)).toString.stripSuffix("/")
    def abs(rel: String): String = resolveRef(srcRoot, rel)
    val json = deltaJson(1L, System.currentTimeMillis(),
      st.files.map(abs), Nil,
      st.stats.map { case (k, v) => abs(k) -> v }, schema = st.schema,
      dvAdds = st.dvFiles.map(abs), dvKey = st.dvKey,
      constraintAdds = st.constraints,
      bloomAdds = st.bloomFiles.map(abs), bloomSpec = st.bloom,
      mapping = if (st.mapped) Some(st.mapping) else None,
      maxColId = if (st.mapped) Some(st.maxColId) else None,
      generatedAdds = st.generated,
      ndvCols = if (st.ndvCols.nonEmpty) Some(st.ndvCols) else None,
      ndvAdds = st.ndvFiles.map(abs),
      statsSchema =
        if (st.statsSchemaCols.nonEmpty) Some(st.statsSchemaCols) else None,
      clusterCols =
        if (st.clusterCols.nonEmpty) Some(st.clusterCols) else None,
      clusteredAdds = st.clusteredFiles.map(abs),
      op = Some("CLONE"),
      rowTracking = if (st.rowTracking) Some(true) else None,
      rowHighWater = if (st.rowTracking) Some(st.rowHighWater) else None,
      identity = st.identityCol.map(c => (c, st.identityStep)),
      identityHighWater =
        if (st.identityCol.isDefined) Some(st.identityHighWater) else None,
      properties =
        if (st.properties.nonEmpty) Some(st.properties) else None,
      defaultAdds = st.defaults,
      expectationAdds = st.expectations,
      // the declare-before-ingest partition declaration is metadata a
      // clone must keep: an EMPTY declared-partitioned source clones
      // into a table whose first write still inherits the layout
      partitionColsDecl =
        if (st.partitionColsDecl.nonEmpty) Some(st.partitionColsDecl)
        else None)
    f.mkdirs(new Path(dst))
    require(publish(f, manifestPath(dst, 1L), newToken(), json),
      s"clone commit lost the race at $dst")
    1L
  }

  /** Hadoop Configuration is not Serializable; ship it to copy tasks
    * through its own Writable encoding (the approach Spark uses
    * internally) so the clone's copy job sees the session's filesystem
    * credentials (s3a keys, endpoints), not a default-constructed
    * Configuration. */
  private final class SerializableHadoopConf(
      @transient var value: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** DEEP CLONE (Delta `CREATE TABLE ... DEEP CLONE src`): like
    * [[cloneShallow]] but every referenced file — data, deletion
    * vectors, bloom and NDV sidecars — is COPIED under the clone's own
    * root, so the clone is fully independent of the source's
    * lifecycle: vacuuming, history rewrites, or DROPPING the source
    * can never dangle it (the shallow clone's retention contract
    * doesn't apply).
    *
    * Table-relative source refs keep their EXACT relative paths — k=v
    * partition segments included — so partition derivation, stats keys
    * and clustering metadata carry over unchanged. External refs (a
    * shallow-clone source being deep-cloned — the "localize a fork"
    * move) land under `ext-<i>/<kv-chain>/<name>`, preserving the k=v
    * chain the partition-column derivation reads.
    *
    * The copy itself is a DISTRIBUTED Spark job over the file list
    * (one Hadoop-FS byte stream per file, tasks spread cluster-wide):
    * at 100 TB copying IS the cost of a deep clone by definition, but
    * it is parallel executor I/O bounded by aggregate bandwidth —
    * never a driver loop. Driver work stays O(file count) metadata.
    */
  def cloneDeep(spark: SparkSession, src: String, dst: String,
                version: Option[Long] = None): Long = {
    val f = fs(spark, dst)
    require(versions(spark, dst).isEmpty,
      s"cannot clone into $dst — it already has committed versions")
    val srcV = version.getOrElse(currentVersion(spark, src).getOrElse(
      throw new IllegalStateException(s"no committed version at $src to clone")))
    val st = resolveState(spark, src, srcV)
    val srcFs = fs(spark, src)
    val srcRoot =
      srcFs.makeQualified(new Path(src)).toString.stripSuffix("/")
    val dstRoot = f.makeQualified(new Path(dst)).toString.stripSuffix("/")
    // one mapping for EVERY referenced file class; the index keeps
    // synthesized external-ref names collision-free
    def localRel(rel: String, i: Int): String =
      if (!isExternalRef(rel)) rel
      else {
        val segs = rel.split("/").filter(_.nonEmpty)
        val kv = segs.dropRight(1).filter(_.contains("="))
        (Seq(s"ext-$i") ++ kv :+ segs.last).mkString("/")
      }
    val allRefs =
      (st.files ++ st.dvFiles ++ st.bloomFiles ++ st.ndvFiles).distinct
    val relMap = allRefs.zipWithIndex
      .map { case (r, i) => r -> localRel(r, i) }.toMap
    // distributed byte copy — executor tasks, session Hadoop conf
    val conf = new SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    val pairs = relMap.toSeq.map { case (rel, drel) =>
      (resolveRef(srcRoot, rel), s"$dstRoot/$drel")
    }
    f.mkdirs(new Path(dst))
    if (pairs.nonEmpty)
      spark.sparkContext
        .parallelize(pairs, math.min(pairs.size,
          math.max(1, spark.sparkContext.defaultParallelism * 2)))
        .foreach { case (from, to) =>
          val c = conf.value
          val fp = new org.apache.hadoop.fs.Path(from)
          val tp = new org.apache.hadoop.fs.Path(to)
          val sfs = fp.getFileSystem(c)
          // VACUUM-HORIZON guard: a concurrent vacuum whose floor
          // passed the cloned version can drop source files mid-copy.
          // Stat-before / verify-after turns every such race into a
          // LOUD failure naming the cause — the clone never commits a
          // manifest over torn bytes (the commit only happens after
          // every task returned), and the caller's recovery is to
          // retry against a retained version.
          val expectLen =
            try sfs.getFileStatus(fp).getLen
            catch {
              case e: java.io.FileNotFoundException =>
                throw new IllegalStateException(
                  s"deep clone lost a race with VACUUM: source file " +
                    s"$from vanished mid-clone — clone a version inside " +
                    "the vacuum retention window (or pause vacuum)", e)
            }
          val dfs = tp.getFileSystem(c)
          org.apache.hadoop.fs.FileUtil.copy(
            sfs, fp, dfs, tp, false, true, c): Unit
          val gotLen = dfs.getFileStatus(tp).getLen
          if (gotLen != expectLen)
            throw new IllegalStateException(
              s"deep clone copied $gotLen of $expectLen bytes for $from " +
                "— torn read under a concurrent writer/vacuum; retry " +
                "against a retained version")
        }
    def m(rel: String): String = relMap(rel)
    val json = deltaJson(1L, System.currentTimeMillis(),
      st.files.map(m), Nil,
      st.stats.map { case (k, v) => m(k) -> v }, schema = st.schema,
      dvAdds = st.dvFiles.map(m), dvKey = st.dvKey,
      constraintAdds = st.constraints,
      bloomAdds = st.bloomFiles.map(m), bloomSpec = st.bloom,
      mapping = if (st.mapped) Some(st.mapping) else None,
      maxColId = if (st.mapped) Some(st.maxColId) else None,
      generatedAdds = st.generated,
      ndvCols = if (st.ndvCols.nonEmpty) Some(st.ndvCols) else None,
      ndvAdds = st.ndvFiles.map(m),
      statsSchema =
        if (st.statsSchemaCols.nonEmpty) Some(st.statsSchemaCols) else None,
      clusterCols =
        if (st.clusterCols.nonEmpty) Some(st.clusterCols) else None,
      clusteredAdds = st.clusteredFiles.map(m),
      op = Some("CLONE"),
      rowTracking = if (st.rowTracking) Some(true) else None,
      rowHighWater = if (st.rowTracking) Some(st.rowHighWater) else None,
      identity = st.identityCol.map(c => (c, st.identityStep)),
      identityHighWater =
        if (st.identityCol.isDefined) Some(st.identityHighWater) else None,
      properties =
        if (st.properties.nonEmpty) Some(st.properties) else None,
      defaultAdds = st.defaults,
      expectationAdds = st.expectations,
      // the declare-before-ingest partition declaration is metadata a
      // clone must keep: an EMPTY declared-partitioned source clones
      // into a table whose first write still inherits the layout
      partitionColsDecl =
        if (st.partitionColsDecl.nonEmpty) Some(st.partitionColsDecl)
        else None)
    require(publish(f, manifestPath(dst, 1L), newToken(), json),
      s"clone commit lost the race at $dst")
    1L
  }

  /** RESTORE (Delta `RESTORE TABLE ... TO VERSION AS OF v`): commit a
    * NEW version whose resolved state equals `toVersion`'s — a
    * metadata-only rollback (the old data files are still on disk
    * until [[vacuum]] drops them; restore re-references, never
    * copies). History is preserved: the bad versions stay readable,
    * the restore is itself a commit the change feed replays (its log
    * entry removes current-only files and re-adds target-only files,
    * so feed CDC stays O(difference)). Restoring beyond the vacuum
    * horizon fails loudly when a target file is gone.
    */
  def restore(spark: SparkSession, path: String, toVersion: Long,
              maxAttempts: Int = 3): Long =
    transact(spark, path, "restore", maxAttempts,
        Some(s"no committed version at $path")) { t =>
      require(toVersion <= t.base,
        s"cannot restore $path to v$toVersion — current is v${t.base}")
      val target = resolveState(spark, path, toVersion)
      // fail fast if vacuum already swept a file the restore needs
      target.files.find(r => !t.f.exists(new Path(resolveRef(path, r))))
        .foreach(missing => throw new IllegalStateException(
          s"cannot restore $path to v$toVersion — data file $missing was " +
            "vacuumed; restore is bounded by the retention horizon"))
      val cur = t.st
      val curFiles = cur.files.toSet
      val targetFiles = target.files.toSet
      val adds = target.files.filterNot(curFiles)
      val removes = cur.files.filterNot(targetFiles)
      val addSet = adds.toSet
      val addStats = target.stats.view.filterKeys(addSet).toMap
      Publish(deltaJson(t.version, t.ts, adds, removes,
        addStats, schema = target.schema,
        dvAdds = target.dvFiles.filterNot(cur.dvFiles.toSet),
        dvRemoves = cur.dvFiles.filterNot(target.dvFiles.toSet),
        dvKey = target.dvKey,
        // constraints roll back WITH the state: dropping the ones added
        // since the target (else a still-enforced constraint would
        // govern resurrected rows it never validated) and re-adding the
        // ones dropped since (else enforcement silently vanishes)
        constraintAdds = target.constraints,
        constraintRemoves =
          (cur.constraints.keySet -- target.constraints.keySet).toSeq.sorted,
        bloomAdds = target.bloomFiles.filterNot(cur.bloomFiles.toSet),
        bloomRemoves = cur.bloomFiles.filterNot(target.bloomFiles.toSet),
        // the bloom SPEC rolls back too; a pre-index target disables the
        // index via an empty-cols spec (absent field = inherit, so None
        // could not unset cur's spec)
        bloomSpec =
          if (cur.bloom == target.bloom) None
          else target.bloom.orElse(Some(BloomSpec(Nil, 1L, 0.01))),
        // restore the target's column mapping too (overwrite cur's even
        // when the target predates mapping); ids stay monotone forever
        mapping =
          if (cur.mapped || target.mapped) Some(target.mapping) else None,
        maxColId =
          if (cur.mapped || target.mapped)
            Some(math.max(cur.maxColId, math.max(target.maxColId, 1L)))
          else None,
        generatedAdds = target.generated,
        generatedRemoves =
          (cur.generated.keySet -- target.generated.keySet).toSeq.sorted,
        ndvCols = if (cur.ndvCols != target.ndvCols) Some(target.ndvCols)
          else None,
        statsSchema =
          if (cur.statsSchemaCols == target.statsSchemaCols) None
          else Some(target.statsSchemaCols),
        clusterCols =
          if (cur.clusterCols == target.clusterCols) None
          else Some(target.clusterCols),
        clusteredAdds =
          target.clusteredFiles.filterNot(cur.clusteredFiles.toSet),
        clusteredRemoves =
          cur.clusteredFiles.filterNot(target.clusteredFiles.toSet),
        ndvAdds = target.ndvFiles.filterNot(cur.ndvFiles.toSet),
        ndvRemoves = cur.ndvFiles.filterNot(target.ndvFiles.toSet),
        op = Some("RESTORE"),
        rowTracking =
          if (cur.rowTracking != target.rowTracking)
            Some(target.rowTracking) else None,
        // the high-water mark NEVER rolls back — ids assigned after the
        // restore target must stay unique against rows it resurrects
        rowHighWater =
          if (cur.rowTracking || target.rowTracking)
            Some(math.max(cur.rowHighWater, target.rowHighWater))
          else None,
        // identity follows the same rule: the declaration stays, the
        // high water never rolls back (post-restore inserts must not
        // collide with values the rollback resurrects or removes)
        identityHighWater =
          if (cur.identityCol.isDefined || target.identityCol.isDefined)
            Some(math.max(cur.identityHighWater, target.identityHighWater))
          else None,
        // the COPY INTO ledger rolls back WITH the state (the
        // constraints rule): restoring to before an ingest forgets it,
        // so re-running the same COPY re-ingests and the table returns
        // to the post-copy content — never silent data loss
        copyAdds = target.copyFiles.filterNot(cur.copyFiles.toSet),
        copyRemoves = cur.copyFiles.filterNot(target.copyFiles.toSet),
        // user table properties roll back WITH the state (Delta's
        // RESTORE restores metadata) — the constraints rule
        properties =
          if (cur.properties == target.properties) None
          else Some(target.properties),
        // column DEFAULTs roll back with the state too (they are
        // write-time metadata like constraints)
        defaultAdds = target.defaults,
        defaultRemoves =
          (cur.defaults.keySet -- target.defaults.keySet).toSeq.sorted,
        // EXPECTATIONS roll back with the state (write-time gates,
        // the constraints rule)
        expectationAdds = target.expectations,
        expectationRemoves =
          (cur.expectations.keySet -- target.expectations.keySet)
            .toSeq.sorted))
    }

  /** DESCRIBE HISTORY: one row per committed version, newest first —
    * (version, ts, operation, adds, removes, dvAdds, tag). The
    * operation classifies from the version's own log entry the way
    * Delta's history does from its commitInfo: APPEND (no removes),
    * MERGE (entry carries its merge key), OVERWRITE/RESTORE/COMPACT
    * fold into WRITE (removes present), DELETE_DV (DV-only), and the
    * metadata family (CONSTRAINT / SCHEMA / INDEX / METADATA) for
    * zero-file commits. Vacuumed versions (manifest gone, checkpoint
    * only) report METADATA with zero counts. Driver-side O(versions)
    * JSON reads — an operator console, not a data scan.
    */
  /** Whether a version's log entry is PURE-INSERT (adds, no removes,
    * no DV adds) — consumers use this to skip retraction machinery on
    * append commits. One driver-side JSON read, no data I/O. */
  private[graft] def commitAddsOnly(spark: SparkSession, path: String,
                                    version: Long): Boolean =
    readNodeIfExists(fs(spark, path), manifestPath(path, version)).exists {
      n => strArr(n, "removes").isEmpty && strArr(n, "dvAdds").isEmpty
    }

  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, path)
    val rows = versions(spark, path).sorted(Ordering[Long].reverse).map { v =>
      readNodeIfExists(f, manifestPath(path, v)) match {
        case None => (v, commitTimestamp(spark, path, v), "METADATA",
          0, 0, 0, null: String, null: String)
        case Some(n) =>
          val adds = strArr(n, "adds").size
          val removes = strArr(n, "removes").size
          val dvAdds = strArr(n, "dvAdds").size
          val op =
            if (n.has("op")) n.get("op").asText()
            else if (Option(n.get("mergeKey")).isDefined) "MERGE"
            else if (adds == 0 && removes == 0 && dvAdds == 0) {
              if (n.has("constraintAdds") || n.has("constraintRemoves"))
                "CONSTRAINT"
              else if (n.has("expectationAdds")
                || n.has("expectationRemoves")) "EXPECTATION"
              else if (n.has("mapping") || n.has("generatedAdds")
                || n.has("generatedRemoves")) "SCHEMA"
              else if (n.has("bloomCols") || n.has("ndvCols")
                || n.has("statsSchema") || n.has("clusterCols")) "INDEX"
              else "METADATA"
            }
            else if (dvAdds > 0 && adds == 0) "DELETE_DV"
            else if (removes == 0 && n.has("removes")) "APPEND"
            else if (!n.has("removes")) "WRITE" // legacy full manifest
            else "WRITE"
          (v, Option(n.get("ts")).map(_.asLong()).getOrElse(0L), op,
            adds, removes, dvAdds,
            Option(n.get("tag")).map(_.asText()).orNull,
            // per-rule expectation metrics of the gated batch, as the
            // log entry's canonical JSON (DLT's event-log counters)
            Option(n.get("expectMetrics")).map(_.toString).orNull)
      }
    }
    rows.toDF("version", "ts", "operation", "adds", "removes", "dv_adds",
      "tag", "expect_metrics")
  }

  /** The fixed schema of [[history]] — the SQL command surface
    * (`DESCRIBE HISTORY`) needs it at PLAN time, before any run. */
  val historySchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("version", LongType,
      nullable = false),
    org.apache.spark.sql.types.StructField("ts", LongType,
      nullable = false),
    org.apache.spark.sql.types.StructField("operation",
      org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("adds", IntegerType,
      nullable = false),
    org.apache.spark.sql.types.StructField("removes", IntegerType,
      nullable = false),
    org.apache.spark.sql.types.StructField("dv_adds", IntegerType,
      nullable = false),
    org.apache.spark.sql.types.StructField("tag",
      org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("expect_metrics",
      org.apache.spark.sql.types.StringType, nullable = true)))

  /** OPTIMIZE to a target FILE SIZE (Delta's `optimize.targetFileSize`
    * knob): compact the current version into
    * ⌈live bytes / targetBytes⌉ files. Live bytes come from the
    * filesystem metadata of the version's own files — no data scan
    * before the rewrite itself.
    */
  def compactToFileSize(spark: SparkSession, path: String,
                        targetBytes: Long,
                        statsCols: Seq[String] = Nil,
                        sortCols: Seq[String] = Nil): Long = {
    require(targetBytes >= 1L, "targetBytes must be >= 1")
    transact(spark, path, "compact", 3,
        Some(s"no committed version at $path")) { t =>
      compactAttempt(t, fileCountFor(t, t.st.files, targetBytes),
        statsCols, sortCols)
    }
  }

  /** OPTIMIZE (bin-pack): rewrite every live file of the current version
    * into `targetFiles` files — range-partitioned and sorted by
    * `sortCols` when given — folding deletion vectors away. Stats cover
    * `statsCols`, else the table's stats schema, else the columns the
    * files already carry. The commit (op `COMPACT`) removes exactly the
    * files the rewrite read: an append that wins the race meanwhile is
    * re-read by the retry, never dropped.
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int = 1,
              statsCols: Seq[String] = Nil,
              sortCols: Seq[String] = Nil): Long = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    transact(spark, path, "compact", 3,
        Some(s"no committed version at $path"))(
      compactAttempt(_, targetFiles, statsCols, sortCols))
  }

  /** The attempt of [[compact]], [[compactToFileSize]] and
    * [[compactIfFragmented]]: bin-pack every file of `t`'s base into
    * `n` files. */
  private def compactAttempt(t: Txn, n: Int, statsCols: Seq[String],
                             sortCols: Seq[String]): Attempt = {
    import org.apache.spark.sql.functions.col
    fullRewrite(t, rows =>
      if (sortCols.isEmpty) rows.coalesce(n)
      else rows.repartitionByRange(n, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*),
      statsCols)
  }

  /** The rewrite of every file of `t`'s base (compaction, Z-order):
    * staged flat unless the table declares PARTITIONED BY, each file
    * sorted locally by the declared cluster columns as every staged
    * batch is. `statsCols` are logical names. */
  private def fullRewrite(t: Txn, layout: DataFrame => DataFrame,
                          statsCols: Seq[String]): Attempt = {
    import org.apache.spark.sql.functions.col
    val st = t.st
    require(st.files.nonEmpty,
      s"version ${t.base} at ${t.path} has no data files")
    val clusterCols = st.clusterCols.map(st.logical)
    val sorted: DataFrame => DataFrame =
      if (clusterCols.isEmpty) layout
      else layout.andThen(_.sortWithinPartitions(clusterCols.map(col): _*))
    subsetRewrite(t, st.files, sorted, st.partitionColsDecl.map(st.phys),
      statsCols.map(st.phys), "COMPACT")
  }

  /** ⌈bytes of `files` / targetBytes⌉ (at least 1), from filesystem
    * metadata; a file that cannot be stat'ed counts 0. */
  private def fileCountFor(t: Txn, files: Seq[String],
                           targetBytes: Long): Int = {
    val bytes = files.map { r =>
      try t.f.getFileStatus(new Path(resolveRef(t.path, r))).getLen
      catch { case _: java.io.IOException => 0L }
    }.sum
    math.max(1L, (bytes + targetBytes - 1L) / targetBytes).toInt
  }

  /** OPTIMIZE ZORDER BY (c1, c2): rewrite the table clustered along
    * the Morton curve of two columns and commit the rewrite as one
    * atomic commit whose per-file stats are recorded for BOTH
    * dimensions — delta-spark's `OPTIMIZE ... ZORDER BY` (Delta paper
    * §3.3, VLDB 2020; the reference platform exposes it over the same
    * tables it z-orders at `/root/reference/src/etl_pipeline.py:87-88`).
    *
    * Why this beats [[compact]]`(sortCols = c1 :: c2 :: Nil)` for
    * multi-dimensional point/range reads: lexicographic clustering
    * makes file stats tight on the LEADING column only — every file
    * spans nearly the full range of c2 — while the interleaved Z key
    * keeps both per-file ranges narrow, so [[readNumericRange]] /
    * [[readWhereEquals]] / [[merge]]'s stats prune skip files on
    * either column. The spec asserts the prune improvement on the
    * trailing dimension directly.
    *
    * Scale shape: one min/max pass ([[gridKeys]]), one range-shuffle
    * of the table by the codegen'd [[graft.functions.ZOrderKey]]
    * (`targetFiles` output tasks), one footer pass for stats — O(table)
    * once, amortized over every subsequent pruned read, same cost class
    * as the compact it replaces. Flat layout unless the table declares
    * PARTITIONED BY (like [[compact]]): a partitioned table z-orders
    * within partitions poorly and should compact per-partition instead.
    */
  def optimizeZOrder(spark: SparkSession, path: String,
                     c1: String, c2: String, targetFiles: Int,
                     extraStatsCols: Seq[String] = Nil): Long =
    zOrderRewrite(spark, path, Seq(c1, c2), targetFiles, extraStatsCols,
      gridKeys)

  /** RANK-normalized OPTIMIZE ZORDER: like [[optimizeZOrder]] but each
    * dimension maps through its own QUANTILE grid (64 rank buckets
    * from `approxQuantile`) instead of equi-width min/max scaling —
    * the normalization that keeps per-file ranges tight under HEAVY
    * KEY SKEW, where equi-width collapses most rows into a few Morton
    * cells and the curve degenerates toward single-column clustering.
    * 64 buckets = 6 significant bits per dimension, exactly the
    * granularity file-level min/max skipping consumes; the bucket
    * assignment compiles to a 64-branch CASE (within the documented
    * safe codegen depth — SCALE.md's >512-branch hazard).
    *
    * Cost: one `approxQuantile` pass per column (sketch-based, no
    * sort) on top of the O(table) rewrite.
    */
  def optimizeZOrderRanked(spark: SparkSession, path: String,
                           c1: String, c2: String, targetFiles: Int,
                           extraStatsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val buckets = 64
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    def rankKey(rows: DataFrame, c: String): Column = {
      val cuts = rows.stat.approxQuantile(c, probs, 0.001)
      // ascending CASE over the interior cuts; ties collapse branches
      val distinctCuts = cuts.distinct
      val base: Column = lit(distinctCuts.length)
      (distinctCuts.zipWithIndex.reverse.foldLeft(base) {
        case (acc, (cut, i)) =>
          when(col(c).cast("double") <= cut, i).otherwise(acc)
      } * lit(1 << 25)).cast("int") // spread bucket ids across the int domain
    }
    zOrderRewrite(spark, path, Seq(c1, c2), targetFiles, extraStatsCols,
      (rows, cols) => cols.map(rankKey(rows, _)))
  }

  /** N-column OPTIMIZE ZORDER (2–8 columns): the same normalize-then-
    * interleave rewrite; three or more columns use the N-ary Morton
    * key ([[graft.functions.ZOrderKeyN]] — round-robin bit interleave,
    * ⌊63/N⌋ bits per dimension), two keep the faster spread-based
    * kernel. Per-file stats recorded for EVERY listed column, so range
    * reads prune on any of them.
    */
  def optimizeZOrderN(spark: SparkSession, path: String,
                      cols: Seq[String], targetFiles: Int,
                      extraStatsCols: Seq[String] = Nil): Long = {
    require(cols.length >= 2 && cols.length <= 8,
      s"optimizeZOrderN takes 2..8 columns, got ${cols.length}")
    zOrderRewrite(spark, path, cols, targetFiles, extraStatsCols, gridKeys)
  }

  /** The OPTIMIZE ZORDER verbs: one transaction that Z-orders every
    * file of its base along `cols` (int-grid coordinates from `keys`)
    * into `targetFiles` files, with stats for `cols` ++ `extraStatsCols`. */
  private def zOrderRewrite(spark: SparkSession, path: String,
                            cols: Seq[String], targetFiles: Int,
                            extraStatsCols: Seq[String],
                            keys: (DataFrame, Seq[String]) => Seq[Column])
      : Long = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    transact(spark, path, "zorder", 3,
        Some(s"no committed version at $path"))(
      fullRewrite(_, rows => zOrder(rows, keys(rows, cols), targetFiles),
        (cols ++ extraStatsCols).distinct))
  }

  /** Equi-width int-grid coordinates of `cols` for the Morton key: each
    * numeric domain (bigint keys, doubles) scales from its observed
    * [min, max] in `rows` — one cheap agg pass before the O(table)
    * rewrite — onto the 32-bit range the interleave consumes; an empty
    * or constant column maps to 0. Monotone per column, so file-level
    * clustering (the only consumer) is unaffected by the scaling;
    * under heavy key skew [[optimizeZOrderRanked]]'s quantile grid
    * clusters tighter. */
  private def gridKeys(rows: DataFrame, cols: Seq[String]): Seq[Column] = {
    import org.apache.spark.sql.functions.{col, lit, max => smax, min => smin}
    val bounds = cols.flatMap(c => Seq(smin(col(c)), smax(col(c))))
    val b = rows.agg(bounds.head, bounds.tail: _*).head()
    def d(i: Int): Double =
      if (b.isNullAt(i)) 0.0 else b.get(i).toString.toDouble
    cols.zipWithIndex.map { case (c, i) =>
      val (lo, hi) = (d(2 * i), d(2 * i + 1))
      if (hi <= lo) lit(0)
      else (((col(c).cast("double") - lit(lo)) / lit(hi - lo))
        * lit(4294967000.0) - lit(2147483500.0)).cast("long").cast("int")
    }
  }

  /** Z-order `rows` into `n` files along the int-grid `keys`: the
    * two-column spread kernel ([[graft.functions.ZOrderKey]]) for two
    * keys, the N-ary interleave ([[graft.functions.ZOrderKeyN]]) for
    * more. */
  private def zOrder(rows: DataFrame, keys: Seq[Column], n: Int): DataFrame = {
    val names = keys.indices.map(i => s"_graft_z$i")
    val keyed = names.zip(keys).foldLeft(rows) {
      case (df, (name, key)) => df.withColumn(name, key)
    }
    val clustered =
      if (names.length == 2)
        graft.functions.ZOrderKey.clusterBy(keyed, names(0), names(1), n)
      else graft.functions.ZOrderKeyN.clusterByN(keyed, names, n)
    clustered.drop(names: _*)
  }

  /** OPTIMIZE scheduling policy: compact only when the current
    * version's file count (or deletion-vector sidecar count) exceeds
    * `maxFiles` — the maintenance loop counterpart of [[compact]].
    * Decided per attempt, so a lost race re-checks the new base.
    */
  def compactIfFragmented(spark: SparkSession, path: String,
                          maxFiles: Int, targetFiles: Int = 1,
                          statsCols: Seq[String] = Nil,
                          sortCols: Seq[String] = Nil): Option[Long] = {
    require(maxFiles >= 1, "maxFiles must be >= 1")
    require(targetFiles >= 1, "targetFiles must be >= 1")
    var fragmented = false
    val v = transact(spark, path, "compact", 3,
        Some(s"no committed version at $path")) { t =>
      fragmented = t.st.files.size + t.st.dvFiles.size > maxFiles
      if (fragmented) compactAttempt(t, targetFiles, statsCols, sortCols)
      else Done(t.base)
    }
    if (fragmented) Some(v) else None
  }

  /** Row-level change feed between two committed versions (CDC-lite):
    * rows only in `toVersion` are `insert`s, rows only in `fromVersion`
    * are `delete`s; an updated row appears as its delete+insert pair.
    * Multiset semantics (`exceptAll`). Reads are DV-aware on both
    * sides, so deletion-vector deletes surface as `delete` rows.
    */
  def diff(spark: SparkSession, path: String,
           fromVersion: Long, toVersion: Long): DataFrame = {
    val from = readVersion(spark, path, fromVersion)
    val to = readVersion(spark, path, toVersion)
    import org.apache.spark.sql.functions.{col, lit}
    // across a schema boundary (evolving append, restore-downgrade,
    // rename) change rows are emitted in the TO version's schema —
    // Delta CDF's convention: columns the from-side lacks read NULL,
    // columns it alone had leave the comparison
    val alignedFrom =
      if (from.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
          to.schema.fields.map(f => (f.name, f.dataType)).toSeq) from
      else from.select(to.schema.fields.map { f =>
        if (from.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toSeq: _*)
    to.exceptAll(alignedFrom).withColumn("_change", lit("insert"))
      .unionAll(alignedFrom.exceptAll(to).withColumn("_change", lit("delete")))
  }

  /** Rows a batch of new DV sidecars kills: the affected files' rows
    * live at `prev`, semi-joined against the new (file, key) entries —
    * O(affected files), never O(table).
    */
  private def dvKilledRows(spark: SparkSession, path: String,
                           prev: TableState, dvAdds: Seq[String],
                           keyCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    // keyCol is the log entry's dvKey — comma-joined physicals for a
    // composite-key merge, one sidecar column per key
    val added = dvEntries(spark, path, prev, dvAdds, keyCol)
    val names: Set[String] = added match {
      case Left((_, rows)) => rows.map(_.getString(0)).toSet
      case Right(dv) => dv.select(col("_graft_dv_file")).distinct()
        .collect().map(_.getString(0)).toSet
    }
    val affected = prev.copy(
      files = prev.files.filter(f => names(dataFileName(path, f))))
    dvJoin(spark, path, affected, liveRows(spark, path, affected), added,
      keyCol, "left_semi")
      .drop(FileNameCol)
  }

  /** Row-level changes committed BY `version` (the per-version unit the
    * table-feed stream replays). Cheapest first, decided off the
    * version's own LOG ENTRY:
    *
    *  - the FIRST committed version: every row is an `insert`;
    *  - a pure-append entry (no removes, no DV adds): exactly the added
    *    files read as `insert`s — O(new data), never O(table);
    *  - a DV-only entry (sparse delete): the deleted rows read from the
    *    affected files only, as `delete`s — O(affected files);
    *  - any other delta entry (overwrite / compact / rewrite-merge):
    *    the multiset difference of the entry's OWN removed vs added
    *    files (each read live at its version, so earlier DVs never
    *    resurrect) — O(touched files), never O(table). Rows a rewrite
    *    carried verbatim cancel; a pure compact yields zero change
    *    rows. Falls back to the full [[diff]] only when the schema
    *    changed across the boundary (multiset subtraction needs
    *    aligned columns) or for legacy full-manifest commits.
    *
    * `updateImages = true` additionally classifies a MERGE version's
    * changes the way Delta's change data feed does: a key present on
    * both sides of the difference emits `update_preimage` (old row) +
    * `update_postimage` (new row) instead of delete + insert; keys on
    * one side only stay `insert`/`delete`. Only merge commits record
    * the key (`mergeKey` in their log entry); other rewrites keep
    * insert/delete. A matched update row carrying values identical to
    * its base row cancels in the multiset difference and emits
    * nothing — no observable change, no change row. Duplicate update
    * keys (allowed by [[merge]]) emit one preimage and ALL postimages
    * under the same key.
    *
    * Requires `version - 1` to still be committed (not [[vacuum]]ed) —
    * the retention-vs-consumption contract a Delta change feed draws.
    */
  def changesForVersion(spark: SparkSession, path: String,
                        version: Long,
                        updateImages: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val vs = versions(spark, path)
    require(vs.contains(version), s"version $version not committed at $path")
    if (version == 1L)
      readVersion(spark, path, version).withColumn("_change", lit("insert"))
    else {
      require(vs.contains(version - 1),
        s"version ${version - 1} of $path was vacuumed — cannot compute " +
          s"changes for $version; resume is out of retention (oldest " +
          s"surviving v${vs.head}, committed ts=${commitTimestamp(spark, path,
            vs.head)}) — re-bootstrap from the current snapshot")
      val node = readNode(fs(spark, path), manifestPath(path, version))
      if (node.has("adds")) {
        val adds = strArr(node, "adds")
        val removes = strArr(node, "removes")
        val dvAdds = strArr(node, "dvAdds")
        val cur = resolveState(spark, path, version)
        lazy val prev = resolveState(spark, path, version - 1)
        def sameSchema: Boolean = (prev.schema, cur.schema) match {
          case (Some(a), Some(b)) =>
            a.fields.map(f => f.name -> f.dataType).sortBy(_._1).toSeq ==
              b.fields.map(f => f.name -> f.dataType).sortBy(_._1).toSeq
          case _ => false
        }
        if (removes.isEmpty && dvAdds.isEmpty) {
          if (adds.isEmpty)
            readStateDf(spark, path, cur).limit(0)
              .withColumn("_change", lit("insert"))
          else readFilesMapped(spark, path, cur, adds)
            .withColumn("_change", lit("insert"))
        } else if (adds.isEmpty && removes.isEmpty && dvAdds.nonEmpty) {
          // sparse DV delete: replay ONLY the rows the new sidecar kills
          dvKilledRows(spark, path, prev, dvAdds, cur.dvKey.get)
            .withColumn("_change", lit("delete"))
        } else if (sameSchema) {
          // rewrite entry: the change rows live entirely in the entry's
          // own files — removed rows (live at prev) vs added rows (live
          // at cur); untouched files never enter the computation
          val cols = cur.schema.get.fieldNames.map(col).toSeq
          val removedRows =
            (if (removes.isEmpty) readStateDf(spark, path, prev).limit(0)
             else readStateDf(spark, path, prev.copy(files = removes)))
              .select(cols: _*)
          val addedRows =
            (if (adds.isEmpty) readStateDf(spark, path, cur).limit(0)
             else readStateDf(spark, path, cur.copy(files = adds)))
              .select(cols: _*)
          val killed =
            if (dvAdds.isEmpty) None
            else Some(dvKilledRows(spark, path, prev, dvAdds, cur.dvKey.get)
              .select(cols: _*))
          // BOTH multiset differences in ONE wide aggregate (r13 —
          // was two exceptAll plans, each rescanning both sides): net
          // copy-count per row = adds − removes; positive rows are
          // inserts, negative deletes, zero cancels. The net frame is
          // TINY (changed rows only) and cached — it feeds both
          // classifications (and the matched-key probe under images).
          import org.apache.spark.sql.functions.{abs => sabs, array_repeat, broadcast, explode, sum => ssum, when => swhen}
          val net = addedRows.withColumn("_graft_s", lit(1))
            .unionAll(killed.foldLeft(
              removedRows.withColumn("_graft_s", lit(-1)))(
              (d, kl) => d.unionAll(kl.withColumn("_graft_s", lit(-1)))))
            .groupBy(cols: _*)
            .agg(ssum(col("_graft_s")).as("_graft_n"))
            .filter(col("_graft_n") =!= 0)
            .cache()
          def replicated(side: org.apache.spark.sql.DataFrame) =
            side.withColumn("_dup",
              explode(array_repeat(lit(1),
                sabs(col("_graft_n")).cast("int"))))
          val mergeKey = Option(node.get("mergeKey")).map(_.asText())
          mergeKey.filter(_ => updateImages) match {
            case Some(k) =>
              // matched keys (appear with BOTH signs) split into
              // pre/post images; single-sign keys keep insert/delete.
              // Broadcast by the merge contract (matched ≤ |updates|).
              // A composite-key merge records its keys comma-joined;
              // the probe joins on the full conjunction.
              val ks = k.split(",").toSeq
              val kCols = ks.map(col)
              val matched = broadcast(
                net.filter(col("_graft_n") > 0).select(kCols: _*)
                  .join(net.filter(col("_graft_n") < 0).select(kCols: _*),
                    ks, "inner")
                  .distinct().withColumn("_graft_m", lit(1)))
              def classify(side: org.apache.spark.sql.DataFrame,
                           hit: String, miss: String) =
                replicated(side)
                  .join(matched, ks, "left")
                  .withColumn("_change",
                    swhen(col("_graft_m").isNotNull, lit(hit))
                      .otherwise(lit(miss)))
                  .select(cols :+ col("_change"): _*)
              classify(net.filter(col("_graft_n") > 0),
                  "update_postimage", "insert")
                .unionAll(classify(net.filter(col("_graft_n") < 0),
                  "update_preimage", "delete"))
            case None =>
              replicated(net.filter(col("_graft_n") > 0))
                .withColumn("_change", lit("insert"))
                .unionAll(replicated(net.filter(col("_graft_n") < 0))
                  .withColumn("_change", lit("delete")))
                .select(cols :+ col("_change"): _*)
          }
        } else diff(spark, path, version - 1, version)
      } else {
        // legacy full manifest: append iff the file list grew as a superset
        val prevFiles = resolveState(spark, path, version - 1).files.toSet
        val cur = resolveState(spark, path, version)
        if (prevFiles.subsetOf(cur.files.toSet)) {
          val fresh = cur.files.filterNot(prevFiles)
          if (fresh.isEmpty)
            readStateDf(spark, path, cur).limit(0)
              .withColumn("_change", lit("insert"))
          else readFilesMapped(spark, path, cur, fresh)
            .withColumn("_change", lit("insert"))
        } else diff(spark, path, version - 1, version)
      }
    }
  }

  /** Change rows for versions [from, to], each tagged with its
    * `_commit_version` — Delta CDF's `table_changes` unit (the SQL TVF
    * and the `readChangeFeed` format option both serve this). Aligns
    * by name across schema evolution (missing columns NULL). */
  def changesBetween(spark: SparkSession, path: String,
                     from: Long, to: Long,
                     updateImages: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(from >= 1 && to >= from,
      s"changesBetween needs 1 <= fromVersion <= toVersion, got [$from, $to]")
    (from to to).map { v =>
      changesForVersion(spark, path, v, updateImages)
        .withColumn("_commit_version", lit(v))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Row-level changes for one version keyed by STABLE ROW ID
    * (row-tracked tables only) — the CDC classification
    * [[changesForVersion]] can only approximate: a rewrite's rows join
    * by id across the boundary, so an UPDATE is recognized even when
    * EVERY column changed (the multiset form would emit delete+insert)
    * and regardless of whether the commit recorded a merge key
    * (compactions that also changed rows, conditional merges, restores
    * — all classify). Identical-id identical-value rows cancel exactly
    * as carried rows should. Output columns: the logical schema +
    * [[RowIdCol]] + `_change` in Delta CDF vocabulary.
    *
    * Same O(touched files) cost shape as [[changesForVersion]]: the
    * join reads only the entry's own removed/added files, id-to-id —
    * never the table.
    */
  def changesByRowId(spark: SparkSession, path: String,
                     version: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct, when}
    val vs = versions(spark, path)
    require(vs.contains(version), s"version $version not committed at $path")
    val cur = resolveState(spark, path, version)
    require(cur.rowTracking, s"row tracking is not enabled at $path")
    // metadata-only versions (e.g. the enable-tracking commit itself)
    // carry no schema: their change set is empty, typed on the newest
    // committed schema so feed consumers see stable columns
    val schemaRes = cur.schema.orElse(
      currentVersion(spark, path).flatMap(v0 =>
        resolveState(spark, path, v0).schema)).getOrElse(
      throw new IllegalStateException(s"no committed schema at $path"))
    val outCols = schemaRes.fieldNames :+ RowIdCol
    def emptyOut: DataFrame = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(schemaRes.fields :+
          org.apache.spark.sql.types.StructField(RowIdCol, LongType)))
      .withColumn("_change", lit("insert"))
    if (cur.schema.isEmpty) return emptyOut
    if (version == 1L)
      return readStateDf(spark, path, cur.copy(schema = cur.rowIdSchema))
        .withColumn("_change", lit("insert"))
    require(vs.contains(version - 1),
      s"version ${version - 1} of $path was vacuumed — re-bootstrap")
    val node = readNode(fs(spark, path), manifestPath(path, version))
    val adds = strArr(node, "adds")
    val removes = strArr(node, "removes")
    val dvAdds = strArr(node, "dvAdds")
    val prev = resolveState(spark, path, version - 1)
    if (removes.isEmpty && dvAdds.isEmpty) {
      val base = readStateDf(spark, path, cur.copy(schema = cur.rowIdSchema))
      if (adds.isEmpty) return base.limit(0).withColumn("_change", lit("insert"))
      return readFilesMapped(spark, path,
          cur.copy(schema = cur.rowIdSchema), adds)
        .withColumn("_change", lit("insert"))
    }
    if (adds.isEmpty && removes.isEmpty && dvAdds.nonEmpty)
      return dvKilledRows(spark, path, prev.copy(schema = prev.rowIdSchema),
        dvAdds, cur.dvKey.get).withColumn("_change", lit("delete"))
    // rewrite: id-to-id join over the entry's OWN files, both sides
    // read live at their version (aligned on the TO schema across an
    // evolution boundary, nulls for absent columns)
    val valueCols = cur.schema.get.fieldNames
    def aligned(df: DataFrame): DataFrame =
      df.select((valueCols.map { c =>
        if (df.columns.contains(c)) col(c)
        else lit(null).cast(cur.schema.get(c).dataType).as(c)
      } :+ col(RowIdCol)).toSeq: _*)
    val removed = aligned(
      if (removes.isEmpty)
        readStateDf(spark, path, prev.copy(schema = prev.rowIdSchema)).limit(0)
      else readStateDf(spark, path,
        prev.copy(files = removes, schema = prev.rowIdSchema)))
    val added = aligned(
      if (adds.isEmpty)
        readStateDf(spark, path, cur.copy(schema = cur.rowIdSchema)).limit(0)
      else readStateDf(spark, path,
        cur.copy(files = adds, schema = cur.rowIdSchema)))
    val r = removed.select(struct(valueCols.map(col).toSeq: _*).as("_pre"),
      col(RowIdCol))
    val a = added.select(struct(valueCols.map(col).toSeq: _*).as("_post"),
      col(RowIdCol))
    val j = r.join(a, Seq(RowIdCol), "full_outer")
    val killed =
      if (dvAdds.isEmpty) j.limit(0).select(col(RowIdCol), col("_pre"))
      else dvKilledRows(spark, path, prev.copy(schema = prev.rowIdSchema),
          dvAdds, cur.dvKey.get)
        .select(col(RowIdCol), struct(valueCols.map(col).toSeq: _*).as("_pre"))
    def expand(side: String, change: org.apache.spark.sql.Column) =
      valueCols.map(c => col(s"$side.$c").as(c)) ++
        Seq(col(RowIdCol), change.as("_change"))
    j.filter(col("_post").isNull)
      .select(expand("_pre", lit("delete")): _*)
      .unionAll(j.filter(col("_pre").isNull)
        .select(expand("_post", lit("insert")): _*))
      .unionAll(j.filter(col("_pre").isNotNull && col("_post").isNotNull
          && !(col("_pre") <=> col("_post")))
        .select(expand("_pre", lit("update_preimage")): _*))
      .unionAll(j.filter(col("_pre").isNotNull && col("_post").isNotNull
          && !(col("_pre") <=> col("_post")))
        .select(expand("_post", lit("update_postimage")): _*))
      .unionAll(killed.select(expand("_pre", lit("delete")): _*))
      .select((outCols :+ "_change").map(col).toSeq: _*)
  }

  /** Drop all log entries and snapshots older than the newest `keep`
    * versions. Before deleting anything, a CHECKPOINT is published at
    * the retention floor (the oldest kept version) so every kept
    * version stays resolvable without the dropped delta chain — the
    * Delta checkpoint-then-expire discipline. APPEND-aware: a snapshot
    * (or deletion-vector) directory is deleted only when no surviving
    * version references a file inside it. Never touches uncommitted
    * orphan directories above the floor.
    */
  /** What [[vacuum]] WOULD do, with zero mutation (Delta's `VACUUM ...
    * DRY RUN`): the versions whose manifests would drop and the
    * snapshot/sidecar directories that would be swept. Safe to run on
    * a live table — it writes nothing, not even the floor checkpoint.
    */
  def vacuumDryRun(spark: SparkSession, path: String,
                   keep: Int = 1): (Seq[Long], Seq[String]) = {
    require(keep >= 1, "must keep at least the current version")
    val f = fs(spark, path)
    val all = versions(spark, path)
    val drop = all.dropRight(keep)
    val kept = all.takeRight(keep)
    val keptStates = kept.map(v => resolveState(spark, path, v))
    val liveDirs: Set[String] =
      keptStates.flatMap(st =>
          st.files ++ st.dvFiles ++ st.bloomFiles ++ st.ndvFiles)
        .map(_.split("/").head).toSet
    val floor = kept.headOption.getOrElse(Long.MaxValue)
    val sweepDirs = f.listStatus(new Path(path))
      .filter { s =>
        val n = s.getPath.getName
        s.isDirectory &&
          (n.startsWith("snap-") || n.startsWith("dv-") ||
            n.startsWith("bloom-") || n.startsWith("ndv-")) && !liveDirs(n) &&
          n.split("-").lift(1).flatMap(_.toLongOption).exists(_ < floor)
      }
      .map(_.getPath.getName).toSeq.sorted
    (drop, sweepDirs)
  }

  /** DESCRIBE DETAIL (Delta's one-row table summary): current version,
    * commit time, counts and byte sizes from fs metadata, the layout
    * (partition vs cluster columns, logical names), and every declared
    * index/feature — the operator's one-glance answer to "what IS this
    * table". Driver-side O(files) metadata calls, zero data scan.
    */
  def describeDetail(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val st = resolveState(spark, path, v)
    val conf = spark.sparkContext.hadoopConfiguration
    val sizeBytes = st.files.map { r =>
      val p = new Path(resolveRef(path, r))
      try p.getFileSystem(conf).getFileStatus(p).getLen catch {
        case _: java.io.IOException => 0L
      }
    }.sum
    val partCols = partitionColsOf(st.files) match {
      case Nil  => st.partitionColsDecl // declared, not yet materialized
      case some => some
    }
    Seq((v, st.ts, st.files.size.toLong, sizeBytes,
      partCols.map(st.logical).mkString(","),
      st.clusterCols.map(st.logical).mkString(","),
      st.clusteredFiles.size.toLong,
      st.statsSchemaCols.map(st.logical).mkString(","),
      st.ndvCols.map(st.logical).mkString(","),
      st.bloom.map(_.cols.map(st.logical).mkString(",")).getOrElse(""),
      st.dvFiles.size.toLong, st.constraints.size.toLong,
      st.generated.size.toLong, st.rowTracking, st.mapped,
      st.minReader, st.minWriter))
      .toDF("version", "ts", "num_files", "size_bytes",
        "partition_columns", "cluster_columns", "num_clustered_files",
        "stats_columns", "ndv_columns", "bloom_columns", "num_dv_files",
        "num_constraints", "num_generated_columns", "row_tracking",
        "column_mapping", "min_reader", "min_writer")
  }

  /** The fixed schema of [[describeDetail]] (SQL needs it at plan time). */
  val describeDetailSchema: StructType = StructType(Seq(
    ("version", LongType, false), ("ts", LongType, false),
    ("num_files", LongType, false), ("size_bytes", LongType, false),
    ("partition_columns", org.apache.spark.sql.types.StringType, true),
    ("cluster_columns", org.apache.spark.sql.types.StringType, true),
    ("num_clustered_files", LongType, false),
    ("stats_columns", org.apache.spark.sql.types.StringType, true),
    ("ndv_columns", org.apache.spark.sql.types.StringType, true),
    ("bloom_columns", org.apache.spark.sql.types.StringType, true),
    ("num_dv_files", LongType, false),
    ("num_constraints", LongType, false),
    ("num_generated_columns", LongType, false),
    ("row_tracking", org.apache.spark.sql.types.BooleanType, false),
    ("column_mapping", org.apache.spark.sql.types.BooleanType, false),
    ("min_reader", IntegerType, false),
    ("min_writer", IntegerType, false)).map { case (n, t, nl) =>
    org.apache.spark.sql.types.StructField(n, t, nl) })

  /** Distinct partition-value tuples of the current version, from the
    * manifest's file paths alone (driver metadata, zero data scan) —
    * `SHOW PARTITIONS`. The k=v/k=v spelling under LOGICAL column
    * names, sorted; empty for flat tables.
    */
  def showPartitions(spark: SparkSession, path: String): Seq[String] = {
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    val st = resolveState(spark, path, v)
    val partCols = partitionColsOf(st.files)
    if (partCols.isEmpty) Nil
    else st.files.map { fl =>
      val pv = partitionValuesOf(fl)
      partCols.flatMap(c => pv.get(c).map(x => s"${st.logical(c)}=$x"))
        .mkString("/")
    }.filter(_.nonEmpty).distinct.sorted
  }

  /** Partition-scoped OPTIMIZE (Delta `OPTIMIZE tbl WHERE part = v`):
    * compact ONLY the files whose PARTITION VALUES satisfy `cond` —
    * the daily-maintenance shape ("bin-pack yesterday's partition")
    * that never touches the other 10⁶ files of a 100 TB table. `cond`
    * is evaluated over a driver-local (file → partition values) frame,
    * so the full Spark expression language applies; partition values
    * surface as strings (the dir encoding) with Spark's usual implicit
    * casts. Rewrites stay inside the partition layout; a cond matching
    * nothing commits nothing.
    */
  def compactWhere(spark: SparkSession, path: String, cond: Column,
                   targetFiles: Int = 1, maxAttempts: Int = 3): Long = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    transact(spark, path, "compactWhere", maxAttempts,
        Some(s"no committed version at $path")) { t =>
      val st = t.st
      val partCols = partitionColsOf(st.files)
      require(partCols.nonEmpty,
        s"compactWhere targets partitioned layouts — $path is flat " +
          "(use compact)")
      val logicalParts = partCols.map(st.logical)
      val fileRows = st.files.map { fl =>
        val pv = partitionValuesOf(fl)
        org.apache.spark.sql.Row.fromSeq(
          fl +: partCols.map(c => pv.get(c).orNull))
      }
      val pvSchema = StructType(
        org.apache.spark.sql.types.StructField("_graft_file",
          org.apache.spark.sql.types.StringType) +:
          logicalParts.map(c => org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.StringType)))
      val selected = spark.createDataFrame(
          spark.sparkContext.parallelize(fileRows, 1), pvSchema)
        .filter(cond).select("_graft_file")
        .collect().map(_.getString(0)).toSeq
      if (selected.isEmpty) Done(t.base)
      else subsetRewrite(t, selected, _.coalesce(targetFiles), partCols, Nil,
        "COMPACT")
    }
  }

  /** Post-commit AUTO COMPACT (table property [[AutoCompactProp]]):
    * when the just-committed state holds at least
    * `graft.autoCompact.minNumFiles` (default
    * [[AutoCompactMinNumFiles]]) files under HALF the target size,
    * bin-pack ONLY those small files into ~target-size files in one
    * subset-rewrite commit — large files are never touched, so the
    * cost is O(small bytes), not O(table); a 100 TB table ingesting
    * micro-batches pays for exactly the slivers it created. Best
    * effort: losing the OCC race (or any failure) leaves the data
    * commit intact and the small files for the next trigger. The
    * auto-compaction's own commit, like every maintenance rewrite,
    * never re-triggers it.
    */
  private def maybeAutoCompact(spark: SparkSession, path: String,
                               props: Map[String, String]): Unit = {
    if (!props.get(AutoCompactProp).exists(_.equalsIgnoreCase("true"))) return
    val target = props.get("graft.autoOptimize.targetFileSize")
      .flatMap(_.toLongOption).filter(_ > 0L)
      .getOrElse(AutoOptimizeTargetBytes)
    val minN = props.get("graft.autoCompact.minNumFiles")
      .flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse(AutoCompactMinNumFiles)
    try { compactSmallFiles(spark, path, target, minN); () }
    catch { case NonFatal(_) => () } // best effort
  }

  /** Bin-pack the current version's files under half of `targetBytes`
    * into ~`targetBytes` files once at least `minN` of them exist;
    * every other file carries verbatim. Single attempt: a lost race
    * throws, which the best-effort caller treats as "next trigger's
    * problem". Partitioned layouts (use [[compactWhere]] maintenance)
    * and DV-bearing states (compact folds them explicitly) commit
    * nothing. */
  private def compactSmallFiles(spark: SparkSession, path: String,
                                targetBytes: Long, minN: Int): Long =
    transact(spark, path, "auto-compact", 1,
        Some(s"no committed version at $path")) { t =>
      val st = t.st
      if (st.dvFiles.nonEmpty || partitionColsOf(st.files).nonEmpty)
        Done(t.base)
      else {
        // BOUNDED trigger scan: slivers accrete at the NEW end of the
        // file list (manifest replay order is commit order), and every
        // firing compaction clears them — so examining a bounded newest
        // window finds exactly the accreted smalls while a million-file
        // table never pays a million stat RPCs per commit. A small file
        // older than the window is the previous trigger's leftover at
        // worst (best-effort contract); manual OPTIMIZE covers
        // archaeology.
        val window = math.max(4 * minN, 200)
        val small = st.files.reverseIterator.take(window).filter { r =>
          try t.f.getFileStatus(new Path(resolveRef(path, r))).getLen <
            targetBytes / 2
          catch { case _: java.io.IOException => false }
        }.toSeq
        if (small.size < minN) Done(t.base)
        else subsetRewrite(t, small,
          _.coalesce(fileCountFor(t, small, targetBytes)), Nil, Nil,
          "COMPACT")
      }
    }

  /** THE maintenance rewrite attempt — compaction, Z-order, clustering,
    * partition-scoped and auto compaction all commit through it. Reads
    * `files` of `t`'s base (DV-aware, row ids carried), lays the rows
    * out with `layout`, stages them (physical names on mapped tables)
    * inside the `partCols` layout, and publishes an `op` entry that
    * removes exactly `files`: every other file carries verbatim, so a
    * commit that won the race meanwhile is re-read by the retry, never
    * dropped. Stats cover `statsCols` (physical), else the table's stats
    * schema, else the columns the files already carry. A rewrite of
    * every base file also retires every deletion-vector, bloom and NDV
    * sidecar; a subset rewrite keeps them. A `CLUSTER` rewrite's output
    * is the new clustered set.
    *
    * Expectations do not gate a rewrite: it re-stages EXISTING rows,
    * and a DROP rule declared after they landed would silently delete
    * them during an OPTIMIZE (expectations gate incoming batches;
    * history belongs to CHECK constraints). */
  private def subsetRewrite(t: Txn, files: Seq[String],
                            layout: DataFrame => DataFrame,
                            partCols: Seq[String], statsCols: Seq[String],
                            op: String): Attempt = {
    import t.{path, spark, st}
    val whole = files.toSet == st.files.toSet
    // a table rewritten whole keeps one schema-bearing file even when a
    // partitioned write of zero rows stages none
    val staged = t.stage(
      Some(layout(readStateDf(spark, path,
        st.copy(files = files, schema = st.rowIdSchema)))),
      partCols, st.rewriteStatsCols(statsCols), survives = !whole)
    val schema = st.schema.getOrElse(readStateDf(spark, path, st).schema)
    Publish(deltaJson(t.version, t.ts, staged.adds, files, staged.stats,
        schema = Some(schema),
        dvRemoves = if (whole) st.dvFiles else Nil,
        bloomAdds = staged.bloomAdds,
        bloomRemoves = if (whole) st.bloomFiles else Nil,
        ndvAdds = staged.ndvAdds, ndvRemoves = if (whole) st.ndvFiles else Nil,
        op = Some(op),
        clusteredAdds = if (op == "CLUSTER") staged.adds else Nil),
      staged.cleanup)
  }

  /** Time-based retention (Delta's `VACUUM ... RETAIN n HOURS`
    * contract): resolve the retention horizon against the commit
    * WALL-TIMES already recorded in the log, then delegate to the
    * version-based sweep. Every version committed at-or-after
    * `now − retainHours` survives; versions wholly outside the window
    * drop (the current version always survives — a table never
    * vacuums itself unreadable). Time travel past the horizon then
    * fails loudly, same rule [[restore]] draws.
    */
  def vacuumHours(spark: SparkSession, path: String, retainHours: Double,
                  nowMillis: Long = System.currentTimeMillis()): Seq[Long] =
    vacuum(spark, path, keepForHours(spark, path, retainHours, nowMillis))

  /** [[vacuumHours]] with zero mutation — the dry-run twin. */
  def vacuumHoursDryRun(spark: SparkSession, path: String,
                        retainHours: Double,
                        nowMillis: Long = System.currentTimeMillis())
      : (Seq[Long], Seq[String]) =
    vacuumDryRun(spark, path, keepForHours(spark, path, retainHours, nowMillis))

  /** Newest-N count whose commit timestamps fall inside the retention
    * window (commit times are monotone — versions serialize), floored
    * at 1 so the current version always survives. */
  private def keepForHours(spark: SparkSession, path: String,
                           retainHours: Double, nowMillis: Long): Int = {
    require(retainHours >= 0.0, "retention hours must be non-negative")
    val horizon = nowMillis - (retainHours * 3600.0 * 1000.0).toLong
    math.max(1, versions(spark, path)
      .count(v => commitTimestamp(spark, path, v) >= horizon))
  }

  def vacuum(spark: SparkSession, path: String, keep: Int = 1): Seq[Long] = {
    require(keep >= 1, "must keep at least the current version")
    val f = fs(spark, path)
    val all = versions(spark, path)
    val drop = all.dropRight(keep)
    val kept = all.takeRight(keep)
    // resolve surviving states BEFORE any deletion (they may need the
    // chain being dropped), then pin the floor with a checkpoint
    val keptStates = kept.map(v => resolveState(spark, path, v))
    keptStates.headOption.foreach(writeCheckpoint(spark, path, _))
    val liveDirs: Set[String] =
      keptStates.flatMap(st =>
          st.files ++ st.dvFiles ++ st.bloomFiles ++ st.ndvFiles)
        .map(_.split("/").head).toSet
    drop.foreach { v =>
      f.delete(manifestPath(path, v), false)
      f.delete(checkpointPath(path, v), false): Unit
    }
    // stale checkpoints below the floor (from earlier vacuums/intervals)
    val floor = kept.headOption.getOrElse(Long.MaxValue)
    checkpointVersions(spark, path).filter(_ < floor)
      .foreach(v => f.delete(checkpointPath(path, v), false))
    // Sweep snapshot + DV dirs below the floor that no surviving
    // version references (matched on the dir-name version prefix:
    // snap-<v>[-token] / dv-<v>-<token>)
    f.listStatus(new Path(path))
      .filter { s =>
        val n = s.getPath.getName
        s.isDirectory &&
          (n.startsWith("snap-") || n.startsWith("dv-") ||
            n.startsWith("bloom-") || n.startsWith("ndv-")) && !liveDirs(n) &&
          n.split("-").lift(1).flatMap(_.toLongOption).exists(_ < floor)
      }
      .foreach(s => f.delete(s.getPath, true))
    drop
  }

  // ------------------------------------------------------------------
  // Commit primitive + file helpers
  // ------------------------------------------------------------------

  /** Atomic publish of `tmp` as `dst`, failing (false) if `dst` already
    * exists. HDFS rename has exactly that contract. Local filesystems
    * do NOT (POSIX rename overwrites — two racing writers could both
    * "win"), so the local scheme commits via hard-link creation, which
    * is atomic and raises EEXIST when the destination is present — the
    * classic lock-file primitive.
    */
  @volatile private var logStoreOverride: Option[LogStore] = None

  /** Bind a non-default commit-publish protocol for the JVM (an
    * S3-class deployment binds its conditional-PUT store here once at
    * startup). See [[LogStore]] for the per-store atomicity contract. */
  def setLogStore(store: Option[LogStore]): Unit = logStoreOverride = store

  /** Scoped [[setLogStore]] — run `body` committing through `store`,
    * then restore the default. Test harness for the OCC race suite. */
  def withLogStore[A](store: LogStore)(body: => A): A = {
    val prev = logStoreOverride
    logStoreOverride = Some(store)
    try body finally logStoreOverride = prev
  }

  /** THE commit point: every version publishes through exactly one
    * [[LogStore.putIfAbsent]] — scheme-bound default, overridable. */
  private def conditionalCommit(f: FileSystem, tmp: Path, dst: Path): Boolean =
    logStoreOverride.getOrElse(LogStore.forScheme(f.getScheme))
      .putIfAbsent(f, tmp, dst)

  private def newToken(): String = java.util.UUID.randomUUID.toString.take(8)

  /** Write `json` beside `dst` as a token-named tmp file and publish it
    * through [[conditionalCommit]]. False when `dst` already exists —
    * the tmp is deleted then, so a loser leaves nothing behind. Every
    * manifest and checkpoint file is created here. */
  private def publish(f: FileSystem, dst: Path, token: String,
                      json: String): Boolean = {
    val tmp = new Path(dst.getParent, s"${dst.getName}.$token.tmp")
    val out = f.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    val won = conditionalCommit(f, tmp, dst)
    if (!won) f.delete(tmp, false)
    won
  }

  /** One OCC attempt's view of the table: the base version it builds on
    * (0 = no table yet), the base's resolved state, and the writer
    * token naming everything the attempt stages. */
  private final case class Txn(spark: SparkSession, path: String,
                               f: FileSystem, base: Long, st: TableState,
                               token: String) {
    /** The version this attempt publishes. */
    def version: Long = base + 1L
    /** Monotone commit timestamp (delta's in-commit-timestamps
      * rationale): wall-clock now, clamped STRICTLY AFTER the base
      * version's recorded ts — so timestamp time travel, retention
      * horizons, and history ordering stay correct even when racing
      * writers carry skewed clocks (without the clamp, a behind-clock
      * writer would record a commit "before" its predecessor and
      * `TIMESTAMP AS OF` would silently skip it). The base's ts is the
      * one its resolved state mirrors (checkpoint fallback included;
      * 0 for the empty version), so no commit pays a manifest read or
      * stat for it. Read once per entry. */
    def ts: Long = math.max(System.currentTimeMillis(), st.ts + 1)
    /** This attempt's `<kind>-<version>-<token>` dir (snap, dv, bloom,
      * ndv) — unique per attempt, so a loser's staging never collides. */
    def dir(kind: String): String = s"$path/$kind-$version-$token"
    /** A staged file's table-relative ref. */
    def rel(p: Path): String = relativize(new Path(path), p)
    /** The dirs of the kinds that wrote any refs — a lost race's cleanup. */
    def written(kinds: (String, Seq[String])*): Seq[String] =
      kinds.collect { case (kind, refs) if refs.nonEmpty => dir(kind) }

    /** THE staging step of every verb that writes data files (write,
      * merge, UPDATE/DELETE, replaceWhere, OPTIMIZE): renames `df`'s
      * logical columns to physical ones through `rename` (column-mapped
      * tables only), writes it into this attempt's snap dir
      * (`partitionBy` over the physical `partCols`) and lists the
      * staged files. A partitioned write of zero rows stages no file at
      * all: when no other file `survives` into the version, one flat
      * zero-row, schema-bearing file keeps it readable. `repack` may
      * re-lay the listed files out (the optimized-write pass) before
      * footer stats are read for `statsCols` (physical) and the bloom
      * and NDV sidecars the base declares are built. `df = None` stages
      * nothing (a merge that only adds vectors). */
    def stage(df: Option[DataFrame], partCols: Seq[String],
              statsCols: Seq[String], survives: Boolean,
              rename: String => String = st.phys,
              repack: (DataFrame, Seq[Path]) => Seq[Path] = (_, s) => s)
        : Staged = {
      val snap = dir("snap")
      val files = df.fold(Seq.empty[Path]) { d =>
        val phys =
          if (!st.mapped) d
          else d.select(d.columns.map(n =>
            org.apache.spark.sql.functions.col(n).as(rename(n))).toSeq: _*)
        val w = phys.write.mode("overwrite")
        (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
          .parquet(snap)
        val listed = listDataFiles(f, new Path(snap))
        repack(phys,
          if (listed.nonEmpty || survives) listed
          else {
            phys.limit(0).coalesce(1).write.mode("overwrite").parquet(snap)
            listDataFiles(f, new Path(snap))
          })
      }
      Staged(this, files, stagedFooterStats(spark, path, files, statsCols),
        st.bloom.filter(_.cols.nonEmpty).map(spec =>
          buildBloomSidecar(spark, path, files, spec, version, token))
          .getOrElse(Nil),
        if (st.ndvCols.isEmpty) Nil
        else buildNdvSidecar(spark, path, files, st.ndvCols, version, token))
    }

    /** Write the deletion-vector sidecar `pairs` (the file-name column,
      * then the key columns) as one file in this attempt's dv dir;
      * returns its refs. */
    def stageDv(pairs: DataFrame): Seq[String] = {
      val dv = dir("dv")
      pairs.coalesce(1).write.mode("overwrite").parquet(dv)
      listDataFiles(f, new Path(dv)).map(rel)
    }

    /** Reads resolve ONE deletion-vector key per table: vectors keyed on
      * the logical `keys` may join live ones only under the same key. */
    def requireDvKey(keys: Seq[String]): Unit =
      st.dvKey.filter(_ => st.dvFiles.nonEmpty).foreach(dk =>
        require(dk == keys.map(st.phys).mkString(","),
          s"table $path has live deletion vectors keyed on " +
            s"'${dk.split(",").map(st.logical).mkString(",")}' — vectors " +
            s"keyed on '${keys.mkString(",")}' would corrupt the " +
            "read-side anti-join; compact first"))
  }

  /** What [[Txn.stage]] staged: the data files, their footer stats and
    * index sidecars. The high waters read the staged files (footers
    * first) on first use, so only a verb that can add values pays. */
  private final case class Staged(t: Txn, files: Seq[Path],
                                  stats: Map[String, Map[String, ColStats]],
                                  bloomAdds: Seq[String],
                                  ndvAdds: Seq[String]) {
    def adds: Seq[String] = files.map(t.rel)
    /** Row-id high water past the staged ids. */
    lazy val rowHighWater: Long =
      stagedHighWater(t.spark, files, t.st.rowHighWater)
    /** Identity high water past the staged values (None without an
      * identity column). */
    lazy val identityHighWater: Option[Long] = t.st.identityCol.map(c =>
      stagedColMax(t.spark, files, c, t.st.identityHighWater))
    /** The staging dirs a lost race deletes. */
    def cleanup: Seq[String] =
      t.dir("snap") +: t.written("bloom" -> bloomAdds, "ndv" -> ndvAdds)
  }

  /** What one attempt decided. */
  private sealed trait Attempt
  /** Nothing to publish: the table already holds the verb's result at
    * `version` (a replayed txn, an unchanged property map, no
    * matching row, ...). */
  private final case class Done(version: Long) extends Attempt
  /** Publish `entry` as the attempt's version. On a lost race the
    * `cleanup` dirs are deleted; `autoCompact` runs the post-commit
    * auto-compaction hook after a win. */
  private final case class Publish(entry: String, cleanup: Seq[String] = Nil,
                                   autoCompact: Boolean = false)
      extends Attempt

  /** THE commit seam: the only place a table version is published. Per
    * attempt it lists the current version (none → refuse with
    * `ifAbsent`, or with `None` start from the empty version 0),
    * resolves its state, returns the version that committed
    * `replayTag` when the base already records it (a replay, checked
    * on EVERY attempt — Delta's commit-time txn check — so a verb that
    * loses its race to a replay of itself lands once), gates on the
    * writer protocol ([[assertWritable]]), runs the verb's `attempt`
    * body against that base, and publishes the returned entry as
    * base+1 through [[publish]] — then checkpoints and runs the
    * post-commit hook. A lost race deletes the attempt's staging and
    * re-runs the body against the new base; `maxAttempts` losses give
    * up. */
  private def transact(spark: SparkSession, path: String, op: String,
                       maxAttempts: Int, ifAbsent: Option[String],
                       replayTag: Option[String] = None)
                      (attempt: Txn => Attempt): Long = {
    val f = fs(spark, path)
    var lost = 0
    while (lost < maxAttempts) {
      val base = currentVersion(spark, path).getOrElse(
        ifAbsent.fold(0L)(msg => throw new IllegalStateException(msg)))
      val st = resolveState(spark, path, base)
      replayTag.flatMap(st.tags.get).foreach(v => return v)
      assertWritable(st, path)
      val t = Txn(spark, path, f, base, st, newToken())
      attempt(t) match {
        case Done(v) => return v
        case Publish(entry, cleanup, autoCompact) =>
          if (publish(f, manifestPath(path, t.version), t.token, entry)) {
            maybeCheckpoint(spark, path, t.version)
            if (autoCompact) maybeAutoCompact(spark, path, st.properties)
            return t.version
          }
          cleanup.foreach(d => f.delete(new Path(d), true))
      }
      lost += 1
    }
    throw new IllegalStateException(
      s"$op commit lost $maxAttempts races at $path — giving up")
  }

  private def listDataFiles(f: FileSystem, dir: Path): Seq[Path] = {
    val it = f.listFiles(dir, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
    while (it.hasNext) {
      val s = it.next()
      val name = s.getPath.getName
      if (s.isFile && name.endsWith(".parquet") && !name.startsWith("_")
          && !name.startsWith(".")) buf += s.getPath
    }
    buf.toSeq
  }

  private def relativize(root: Path, file: Path): String = {
    val rootUri = root.toUri.getPath.stripSuffix("/")
    val fileUri = file.toUri.getPath
    require(fileUri.startsWith(rootUri + "/"),
      s"data file $file escapes table root $root")
    fileUri.stripPrefix(rootUri + "/")
  }
}
