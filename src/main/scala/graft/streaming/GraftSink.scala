package graft.streaming

import graft.pipeline.ManifestTable

import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

/** `writeStream.format("graft")` — ManifestTable as a NAMED streaming
  * sink, so exactly-once ACID ingestion needs no hand-rolled
  * `foreachBatch` transaction tag:
  *
  *   df.writeStream
  *     .format(classOf[graft.streaming.GraftSinkProvider].getName)
  *     .option("path", tablePath)          // or "graft:db.t"
  *     .option("checkpointLocation", ckpt)
  *     .start()
  *
  * Exactly-once from at-least-once delivery is the
  * [[EventsStream.streamToManifestBronze]] contract, packaged: every
  * micro-batch commits as ONE transactional tagged append
  * (`<tagPrefix>-<batchId>`), so a batch replayed after a crash
  * between commit and offset checkpoint hits its tag and no-ops —
  * rows are never double-appended. Readers always see complete
  * committed versions and can time-travel across batch boundaries.
  *
  * Options: `path` (storage path or `graft:db.t` catalog name),
  * `tagPrefix` (default "graft-sink" — give each independent query
  * writing to one table its own prefix). Append output mode only:
  * the table's merge/update verbs cover mutation, and an update-mode
  * stream would break the append-only tag contract.
  *
  * Scale shape: per batch, one tag lookup (O(recent manifests) driver
  * metadata) + one O(new files) append commit — nothing scales with
  * table size.
  */
class GraftSinkProvider extends StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft sink needs option(\"path\", <table path or graft:db.t>)"))
    require(outputMode == OutputMode.Append(),
      s"graft sink is append-only (got $outputMode) — aggregate streams " +
        "should sink their APPEND-mode finalized results, or use the " +
        "mergeable-gold foreachBatch patterns for update-in-place state")
    new GraftSink(path, parameters.getOrElse("tagPrefix", "graft-sink"))
  }
}

private[streaming] class GraftSink(pathSpec: String, tagPrefix: String)
    extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    val path = graft.catalog.GraftCatalog.resolvePathSpec(spark, pathSpec)
    val tag = s"$tagPrefix-$batchId"
    // the pre-check spares a replayed batch the rebase and emptiness
    // jobs; the append checks the tag again inside its commit, so two
    // racing replays of one batch still land it once
    if (ManifestTable.committedVersionOfTag(spark, path, tag).isEmpty) {
      // The incoming frame is bound to the streaming (incremental)
      // execution — a batch write on it is refused by analysis. Rebase
      // the SAME physical rows onto a batch frame: one pass over the
      // micro-batch's RDD (InternalRows are buffer-backed and reused,
      // hence the copy), zero extra shuffles.
      val schema = data.schema
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      // cached: the emptiness probe and the append must see ONE
      // evaluation of the micro-batch (re-running an incremental plan
      // would re-read state stores)
      val rows = data.queryExecution.toRdd
        .map(ir => toRow(ir.copy()).asInstanceOf[Row]).cache()
      try {
        if (!rows.isEmpty()) {
          val batch = spark.createDataFrame(rows, schema)
          ManifestTable.appendIdempotent(batch, path, tag): Unit
        }
      } finally rows.unpersist(blocking = false): Unit
    }
  }

  override def toString: String = s"GraftSink[$pathSpec]"
}
