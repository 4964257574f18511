package graft.delta.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.delta._

/** `format("graft-delta")` registration: batch read (with time travel
  * options `versionAsOf` / `timestampAsOf`, F4), batch write, streaming
  * source and streaming sink — the Spark-native equivalent of the
  * reference's engine adapters (Flink DeltaSource/DeltaSink builders,
  * Hive storage handler).
  *
  * {{{
  * spark.read.format("graft-delta").option("versionAsOf", 0).load(path)
  * df.write.format("graft-delta").mode("append").save(path)
  * spark.readStream.format("graft-delta").load(path)
  * df.writeStream.format("graft-delta").option("checkpointLocation", c).start(path)
  * }}}
  *
  * Batch reads of a table with deletion vectors need the session built
  * with [[graft.GraftExtensions]] (as SQL `INSERT` does): its analyzer
  * rule drops the rows the vectors hide. Without it the relation reads
  * every physical row. `DeltaTable.toDF` and streaming reads apply the
  * vectors either way.
  */
class DeltaDataSource
  extends RelationProvider
  with CreatableRelationProvider
  with StreamSourceProvider
  with StreamSinkProvider
  with DataSourceRegister {

  override def shortName(): String = "graft-delta"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("'path' is required"))

  // ------------------------------------------------------------ batch read
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val log = DeltaLog.forTable(spark, pathOf(parameters))
    // batch change-feed read: startingVersion/endingVersion bound the
    // changes() frame (endingVersion defaults to the head), same option
    // names as Delta's batch CDF
    if (parameters.getOrElse("readChangeFeed", "false").toBoolean) {
      val start = parameters.get("startingVersion").map(_.toLong)
        .orElse(parameters.get("startingTimestamp").map(ts =>
          log.getVersionAtOrAfterTimestamp(
            TimestampParsing.parseMillis(spark, ts))))
        .getOrElse(throw new IllegalArgumentException(
          "readChangeFeed batch reads require startingVersion or startingTimestamp"))
      val end = parameters.get("endingVersion").map(_.toLong)
        .orElse(parameters.get("endingTimestamp").map(ts =>
          log.getVersionBeforeOrAtTimestamp(
            TimestampParsing.parseMillis(spark, ts))))
        .getOrElse(log.update().version)
      val df = graft.delta.DeltaTable
        .forPath(spark, pathOf(parameters)).changes(start, end)
      return new BaseRelation with TableScan {
        override def sqlContext: SQLContext = spark.sqlContext
        override def schema: StructType = df.schema
        override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
          df.rdd
      }
    }
    val snapshot = (parameters.get("versionAsOf"), parameters.get("timestampAsOf")) match {
      case (Some(v), None) => log.getSnapshotForVersionAsOf(v.toLong)
      case (None, Some(ts)) => log.getSnapshotForTimestampAsOf(
        TimestampParsing.parseMillis(spark, ts))
      case (None, None) => log.update()
      case _ => throw new IllegalArgumentException(
        "Cannot specify both versionAsOf and timestampAsOf")
    }
    snapshot.assertReadable()
    new read.InsertableDeltaRelation(snapshot, pathOf(parameters))
  }

  // ----------------------------------------------------------- batch write
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val path = pathOf(parameters)
    val partitionBy = parameters.get("partitionBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    graft.delta.write.DeltaWriter.write(data, path, mode, partitionBy)
    createRelation(sqlContext, Map("path" -> path))
  }

  // ------------------------------------------------------ streaming source
  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val log = DeltaLog.forTable(sqlContext.sparkSession, pathOf(parameters))
    val meta = log.update().metadata
    val out =
      if (parameters.getOrElse("readChangeFeed", "false").toBoolean)
        graft.delta.read.CdfRelation.cdfSchema(meta) // the ONE CDF shape
      else meta.schema
    (shortName(), out)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val log = DeltaLog.forTable(sqlContext.sparkSession, pathOf(parameters))
    new DeltaSource(sqlContext, log, parameters)
  }

  // -------------------------------------------------------- streaming sink
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append() || outputMode == OutputMode.Complete(),
      s"graft-delta sink supports Append and Complete output modes, got $outputMode")
    new DeltaSink(sqlContext, pathOf(parameters), partitionColumns,
      outputMode, parameters)
  }
}
