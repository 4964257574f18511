package graft.delta.read

import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.FileSourceConstantMetadataStructField
import org.apache.spark.sql.execution.datasources.{OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** ParquetFileFormat whose WRITE path is disabled, with optional
  * logical→physical column-name mapping for renamed columns.
  *
  * Every relation this engine serves reads through the normal vectorized
  * parquet reader (inherited untouched), but a write planned THROUGH the
  * relation — Spark's V1 `InsertIntoHadoopFsRelationCommand` fallback —
  * would put files straight into the table directory without a log
  * commit, and `INSERT OVERWRITE` would delete the directory contents
  * including `_delta_log`. `prepareWrite` is the first call on that path,
  * so throwing here turns silent corruption into a clear error. The
  * supported route is [[graft.GraftExtensions]], whose analyzer rule
  * re-plans such inserts through the transactional
  * [[InsertableDeltaRelation.insert]].
  *
  * `nameMapping` (logical → physical, from
  * [[graft.delta.ColumnMapping]]) makes ALTER TABLE RENAME COLUMN
  * metadata-only: the reader is handed schemas and pushed filters spelled
  * with the PHYSICAL names the parquet files actually contain; the rows it
  * returns are positional, so the engine above keeps seeing the logical
  * schema. Empty mapping (the common case) short-circuits to the stock
  * reader.
  *
  * `fieldIds` (logical → parquet field id, non-empty only for foreign
  * column-mapping `id`-mode tables) switches parquet column RESOLUTION
  * from names to the field-id attribute: the requested schema's fields
  * carry `parquet.field.id` metadata and the task-side reader conf turns
  * on Spark's field-id matching — so a file whose footer names a column
  * anything at all (the Iceberg-convert case) still binds by id. Spark's
  * own `ParquetFileFormat` never writes that conf key (only
  * `ParquetReadSupport` consults it from the task conf), so setting it
  * here before building the reader is authoritative for this scan.
  *
  * The format declares one metadata field beyond parquet's own:
  * `_metadata.dv_descriptor`, a per-file constant (string, null for a
  * file without a deletion vector) that [[DeltaFileIndex]] fills from
  * each listed file's descriptor. [[LiveRows]]' deletion-vector filter
  * reads it next to `_metadata.row_index`; declaring it here makes it
  * resolve on every relation of this format, SQL ones included. */
class GuardedParquetFileFormat(
    nameMapping: Map[String, String] = Map.empty,
    fieldIds: Map[String, Int] = Map.empty) extends ParquetFileFormat {

  override def prepareWrite(
      sparkSession: SparkSession,
      job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    throw new UnsupportedOperationException(
      "Direct file writes into a Delta table are not allowed (they would " +
        "bypass the transaction log). For SQL INSERT support, build the " +
        "session with graft.GraftExtensions " +
        "(spark.sql.extensions=graft.GraftExtensions) or use " +
        "DeltaTable.write / df.write.format(\"graft-delta\").")
  }

  override def metadataSchemaFields: Seq[StructField] =
    super.metadataSchemaFields :+
      FileSourceConstantMetadataStructField(DvFilter.Field, StringType, nullable = true)

  private def physical(schema: StructType): StructType = {
    // stamp ids FIRST (fieldIds is keyed by dotted LOGICAL paths and
    // recurses into nested structs/arrays/maps), then rename the top
    // level — renames never reach below the top segment
    val stamped =
      if (fieldIds.isEmpty) schema
      else graft.delta.ColumnMapping.stampFieldIds(schema, fieldIds)
    StructType(stamped.fields.map(f =>
      f.copy(name = nameMapping.getOrElse(f.name, f.name))))
  }

  /** Rename the TOP path segment of a pushed attribute (only top-level
    * columns can be renamed; nested fields ride along with their parent). */
  private def physicalAttr(attr: String): String = {
    val dot = attr.indexOf('.')
    if (dot < 0) nameMapping.getOrElse(attr, attr)
    else nameMapping.get(attr.substring(0, dot))
      .map(_ + attr.substring(dot)).getOrElse(attr)
  }

  private def translate(filter: Filter): Filter = filter match {
    case sources.EqualTo(a, v) => sources.EqualTo(physicalAttr(a), v)
    case sources.EqualNullSafe(a, v) => sources.EqualNullSafe(physicalAttr(a), v)
    case sources.GreaterThan(a, v) => sources.GreaterThan(physicalAttr(a), v)
    case sources.GreaterThanOrEqual(a, v) =>
      sources.GreaterThanOrEqual(physicalAttr(a), v)
    case sources.LessThan(a, v) => sources.LessThan(physicalAttr(a), v)
    case sources.LessThanOrEqual(a, v) =>
      sources.LessThanOrEqual(physicalAttr(a), v)
    case sources.In(a, vs) => sources.In(physicalAttr(a), vs)
    case sources.IsNull(a) => sources.IsNull(physicalAttr(a))
    case sources.IsNotNull(a) => sources.IsNotNull(physicalAttr(a))
    case sources.StringStartsWith(a, v) =>
      sources.StringStartsWith(physicalAttr(a), v)
    case sources.StringEndsWith(a, v) => sources.StringEndsWith(physicalAttr(a), v)
    case sources.StringContains(a, v) => sources.StringContains(physicalAttr(a), v)
    case sources.And(l, r) => sources.And(translate(l), translate(r))
    case sources.Or(l, r) => sources.Or(translate(l), translate(r))
    case sources.Not(c) => sources.Not(translate(c))
    case other => other // AlwaysTrue / AlwaysFalse / future filters: no attrs
  }

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration)
    : PartitionedFile => Iterator[InternalRow] = {
    if (nameMapping.isEmpty && fieldIds.isEmpty) {
      super.buildReaderWithPartitionValues(sparkSession, dataSchema,
        partitionSchema, requiredSchema, filters, options, hadoopConf)
    } else {
      if (fieldIds.nonEmpty) {
        hadoopConf.setBoolean("spark.sql.parquet.fieldId.read.enabled", true)
      }
      super.buildReaderWithPartitionValues(sparkSession, physical(dataSchema),
        partitionSchema, physical(requiredSchema), filters.map(translate),
        options, hadoopConf)
    }
  }
}

object GuardedParquetFileFormat {
  /** Spark's field-id metadata key on read-schema fields (the public
    * contract `ParquetReadSupport` matches file columns against). */
  val ParquetFieldIdKey = "parquet.field.id"
}
