package graft.delta.read

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.sources.InsertableRelation

import graft.delta.Snapshot

/** The relation `format("graft-delta")` serves to SQL: reads plan exactly
  * like a [[HadoopFsRelation]] (FileSourceStrategy, vectorized parquet,
  * pushdown through the [[DeltaFileIndex]]), while `INSERT INTO` /
  * `INSERT OVERWRITE` route through [[InsertableRelation.insert]] into the
  * transactional write path. Without this, Spark's V1 fallback plans
  * inserts as a raw file write into the table directory — bypassing the
  * log entirely (invisible rows at best, clobbered table dirs on
  * overwrite).
  *
  * Reference parity: the Flink connector's SQL INSERT surface
  * (`DeltaDynamicTableSink`, SURVEY §2.4 F9) re-expressed on Spark's V1
  * source API.
  *
  * Rows hidden by deletion vectors are dropped from SQL reads by
  * [[graft.GraftExtensions]]' `FilterDeletedRows` rule, through the same
  * filter [[LiveRows]] applies to every other frame.
  */
class InsertableDeltaRelation private (
    base: HadoopFsRelation,
    private[graft] val snapshot: Snapshot,
    val tablePath: String)
  extends HadoopFsRelation(base.location, base.partitionSchema,
    base.dataSchema, base.bucketSpec, base.fileFormat, base.options)(
    base.sparkSession)
  with InsertableRelation {

  /** The relation over `snapshot`, built by [[LiveRows]] like every other
    * scan of this engine. */
  def this(snapshot: Snapshot, tablePath: String) =
    this(LiveRows.relation(snapshot.spark,
      new DeltaFileIndex(snapshot.spark, snapshot),
      snapshot.metadata, snapshot.metadata), snapshot, tablePath)

  /** The DECLARED column order (metadata schema). HadoopFsRelation's own
    * output reorders partition columns last — positional SQL inserts
    * must align against this, not that. */
  private[graft] def tableSchema: org.apache.spark.sql.types.StructType =
    snapshot.metadata.schema

  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    graft.delta.write.DeltaWriter.write(data, tablePath,
      if (overwrite) SaveMode.Overwrite else SaveMode.Append,
      partitionBy =
        if (overwrite) snapshot.metadata.partitionColumns else Nil)
  }
}
