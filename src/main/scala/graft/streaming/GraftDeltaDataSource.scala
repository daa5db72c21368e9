package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SQLContext, SaveMode}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.sources.{GraftDeltaRelation, GraftScanInlining}
import graft.table.DeltaTable

/**
 * Registers `format("graft-delta")` for Structured Streaming reads and
 * writes:
 *
 * {{{
 * spark.readStream.format("graft-delta")
 *   .option("maxFilesPerTrigger", 4)     // admission cap (default 1000)
 *   .option("startingVersion", "latest") // or a version number
 *   .load(tablePath)
 *
 * df.writeStream.format("graft-delta")
 *   .option("checkpointLocation", ckpt)
 *   .start(tablePath)
 * }}}
 *
 * The batch-side entry points stay the library API (`DeltaTable.forPath`);
 * this provider is the streaming bridge, discovered through the standard
 * `DataSourceRegister` service loader.
 */
class GraftDeltaDataSource extends DataSourceRegister
    with StreamSourceProvider with StreamSinkProvider
    with RelationProvider with CreatableRelationProvider {

  override def shortName(): String = "graft-delta"

  /** Batch read: `spark.read.format("graft-delta")` with optional
    * versionAsOf / timestampAsOf time travel. */
  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    GraftSqlBridge.registerOptimization(sqlContext.sparkSession, GraftScanInlining)
    new GraftDeltaRelation(sqlContext,
      GraftDeltaRelation.snapshotFor(sqlContext.sparkSession,
        pathOf(parameters), parameters))
  }

  /** Batch write: `df.write.format("graft-delta").mode(...).save(path)`;
    * honors partitionBy, replaceWhere, mergeSchema, overwriteSchema. */
  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation =
    GraftDeltaRelation.writeAndReturnRelation(sqlContext, mode, parameters,
      data, pathOf(parameters))

  private def pathOf(parameters: Map[String, String]): String =
    graft.sources.GraftDeltaRelation.opt(parameters, "path")
      .getOrElse(throw new IllegalArgumentException(
        "graft-delta requires a table path: .load(path) / .start(path)"))

  /** The table's log is the only schema authority: a user-specified stream
    * schema would be echoed into the plan while every batch materializes
    * with the snapshot schema — a guaranteed mismatch (delta-spark rejects
    * it for the same reason). */
  private def refuseUserSchema(schema: Option[StructType]): Unit =
    require(schema.isEmpty,
      "graft-delta does not support a user-specified schema for streaming " +
        "reads; the table's own schema is used (drop .schema(...))")

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    refuseUserSchema(schema)
    val cdf = graft.sources.GraftDeltaRelation.opt(parameters, "readChangeFeed")
      .exists(_.trim.equalsIgnoreCase("true"))
    // metadata-only snapshot: this call answers ONLY the schema, and the
    // full snapshot (checkpoint Add reads + file index) is built moments
    // later by createSource anyway — materializing it twice doubled the
    // billable startup LISTs/reads on a large table
    val base = new graft.kernel.DeltaLog(sqlContext.sparkSession,
      new org.apache.hadoop.fs.Path(pathOf(parameters))).metadataSnapshot().schema
    (shortName(), if (cdf) GraftDeltaSource.cdfSchema(base) else base)
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source = {
    refuseUserSchema(schema)
    new GraftDeltaSource(sqlContext.sparkSession, pathOf(parameters), parameters,
      metadataPath = Some(metadataPath))
  }

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink =
    new GraftDeltaSink(sqlContext, pathOf(parameters), partitionColumns,
      outputMode, parameters)
}
