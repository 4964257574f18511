package graft.delta.read

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, BinaryExpression, Expression, FileSourceMetadataAttribute, GetStructField, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.delta.{AddFile, DeletionVectorDescriptor, DeltaLog, JsonCodec, Metadata, SerializableHadoopConf, Snapshot}
import graft.delta.dv.{DeletionVectors, RoaringBitmapArray}

/** Filtered file scan with the reference's pushed/residual contract
  * (SURVEY §2.3 S1/S2; ref DeltaScan.java:33-67,
  * FilteredDeltaScanImpl.scala:39-81).
  *
  * `pushedPredicate` (partition-only conjuncts) prunes the file list;
  * `residualPredicate` must be re-applied to the data by the caller —
  * when reading through [[DeltaScanBuilder.buildDF]], Spark re-applies the
  * full filter anyway, so the contract holds by construction.
  */
class DeltaScan(snapshot: Snapshot, filter: Option[Expression]) {

  val (pushedPredicates, residualPredicates): (Seq[Expression], Seq[Expression]) =
    filter match {
      case None => (Nil, Nil)
      case Some(f) => PartitionUtils.splitMetadataAndDataPredicates(
        f, snapshot.metadata.partitionColumns)
    }

  def inputPredicate: Option[Expression] = filter
  def pushedPredicate: Option[Expression] = pushedPredicates.reduceOption(And)
  def residualPredicate: Option[Expression] = residualPredicates.reduceOption(And)

  /** Partition conjuncts IMPLIED by residual predicates on generated-
    * column sources ([[GeneratedPartitionFilters]]) — they prune the file
    * list like pushed predicates but are NOT part of the pushed/residual
    * contract (the caller still re-applies the full residual). */
  private val derivedPredicates: Seq[Expression] =
    GeneratedPartitionFilters.derive(snapshot.metadata, residualPredicates,
      snapshot.deltaLog.spark)

  /** The active files surviving partition pruning (data filters are not
    * applied: the caller re-applies the residual). */
  def getFiles: Seq[AddFile] =
    snapshot.filesMatching(pushedPredicates ++ derivedPredicates)
}

/** A snapshot's table frame for the read APIs (`DeltaTable.toDF`,
  * `graft_table`, time travel): the [[LiveRows]] of the snapshot in the
  * table's declared column order, after the readability gate. Relation,
  * file format and deletion-vector filter are all [[LiveRows]]' choice;
  * this class only adds the caller's filter or the row-tracking columns. */
class DeltaScanBuilder(snapshot: Snapshot) {

  def buildDF(filter: Option[Column]): DataFrame = {
    snapshot.assertReadable()
    val live = LiveRows.snapshot(snapshot)()
    filter.map(live.filter).getOrElse(live)
  }

  /** The scan plus stable row ids (writer feature rowTracking): `_row_id`
    * = the file's `baseRowId` + the row's PHYSICAL position, and
    * `_row_commit_version` = the file's `defaultRowCommitVersion` — both
    * null for files written before the feature. Per-file constants join
    * in on `_metadata.file_path` (broadcast — one small row per FILE);
    * the id derives from `_metadata.row_index`, the physical position,
    * so deletion-vector DML never shifts a survivor's id. */
  def buildDFWithRowIds: DataFrame = {
    snapshot.assertReadable()
    val spark = snapshot.spark
    import spark.implicits._
    val dataPathStr = snapshot.deltaLog.dataPath.toString
    val perFile = snapshot.allFilesDS.map { a =>
      val file = PartitionUtils.inputFileName(
        new org.apache.hadoop.fs.Path(dataPathStr), a.path)
      (file, a.baseRowId, a.defaultRowCommitVersion)
    }.toDF("__rt_file", "__rt_base", "__rt_ver")
    // driver-bounded file lists broadcast (one narrow row per FILE);
    // beyond-driver logs let AQE pick — the join stays file-keyed either way
    val perFileSide =
      if (snapshot.distributedState) perFile else broadcast(perFile)
    LiveRows.snapshot(snapshot)(extra = Seq(
        col("_metadata.file_path").as("__rt_path"),
        col("_metadata.row_index").as("__rt_pos")))
      .join(perFileSide, col("__rt_path") === col("__rt_file"), "left")
      .select(LiveRows.tableColumns(snapshot.metadata) ++ Seq(
        (col("__rt_base") + col("__rt_pos")).as("_row_id"),
        col("__rt_ver").as("_row_commit_version")): _*)
  }
}

/** The one place a set of Delta files becomes rows — every batch read,
  * DML scan, change-feed frame and streaming micro-batch is built here,
  * so the relation, the parquet format and the deletion-vector rule are
  * decided once:
  *
  *  - the relation is a [[HadoopFsRelation]] over a [[DeltaFileIndex]]:
  *    Spark's vectorized parquet reader, whole-stage codegen, filter
  *    pushdown (`PushedFilters` in explain) and partition pruning all
  *    apply natively, and partition values stitch in from the log;
  *  - the format is a [[GuardedParquetFileFormat]] carrying the table's
  *    logical→physical name and field-id mapping;
  *  - rows a deletion vector hides are never returned: each listed file
  *    carries its own descriptor to the task that reads it, and one
  *    deterministic `Filter` drops a row whose `_metadata.row_index` is
  *    in that file's bitmap ([[DvFilter]]). No Spark job reads bitmaps
  *    and nothing joins; a file set that cannot hold a descriptor plans
  *    no filter;
  *  - the frame presents the table schema in declared order (the
  *    relation appends partition columns last), plus any `extra` columns
  *    the caller asks for — evaluated after the filter, so
  *    `_metadata.file_path`/`_metadata.row_index` reach DML that shades by
  *    position.
  *
  * Two faces: [[snapshot]] serves a whole snapshot through the
  * snapshot-backed index (pruning runs where the file state lives, the
  * deleted cardinality comes from the log), [[files]] serves a
  * driver-side file list (DML candidates, compaction groups, CDF ranges,
  * streaming slices). SQL reads of `format("graft-delta")` relations take
  * the same filter through [[filterSqlRead]]. */
object LiveRows {

  /** A snapshot's live rows. `metadata` shapes the frame (a streaming
    * source keeps its initial schema across later snapshots). */
  def snapshot(snapshot: Snapshot)(
      metadata: Metadata = snapshot.metadata,
      streaming: Boolean = false,
      extra: Seq[Column] = Nil): DataFrame = {
    val spark = snapshot.spark
    val scan = LogicalRelation(relation(spark,
      new DeltaFileIndex(spark, snapshot), metadata, metadata), streaming)
    frame(spark,
      if (snapshot.dvCardinality == 0L) scan else DvFilter(scan, snapshot.deltaLog),
      metadata, extra)
  }

  /** The live rows of `files`. `metadata` shapes the relation; `mapping`
    * is the metadata whose column mapping decodes the parquet (the CDF
    * range keeps the table's mapping under its extended schema). */
  def files(deltaLog: DeltaLog, metadata: Metadata, files: Seq[AddFile])(
      mapping: Metadata = metadata,
      streaming: Boolean = false,
      extra: Seq[Column] = Nil): DataFrame = {
    val spark = deltaLog.spark
    val scan = LogicalRelation(relation(spark,
      new DeltaFileIndex(spark, deltaLog.dataPath, metadata, files),
      metadata, mapping), streaming)
    frame(spark,
      if (files.exists(_.deletionVector.isDefined)) DvFilter(scan, deltaLog)
      else scan,
      metadata, extra)
  }

  /** The relation behind every frame, and the superclass arguments of
    * the SQL relation ([[InsertableDeltaRelation]]). */
  private[read] def relation(spark: SparkSession, index: DeltaFileIndex,
                             metadata: Metadata,
                             mapping: Metadata): HadoopFsRelation =
    HadoopFsRelation(
      location = index,
      partitionSchema = metadata.partitionSchema,
      dataSchema = metadata.dataSchema,
      bucketSpec = None,
      fileFormat = new GuardedParquetFileFormat(mapping.columnMapping, mapping.fieldIdMapping),
      options = Map.empty)(spark)

  /** A resolved SQL read of [[InsertableDeltaRelation]] `lr`, minus the
    * rows its snapshot's deletion vectors hide; `lr.output` is kept, so
    * references above stay bound and DML routing still finds the
    * relation among the leaves. A DV-free snapshot, or a read this
    * already filtered, returns `lr` itself. */
  private[graft] def filterSqlRead(lr: LogicalRelation,
                                   rel: InsertableDeltaRelation): LogicalPlan =
    if (rel.snapshot.dvCardinality == 0L || DvFilter.filtered(lr)) lr
    else DvFilter(lr, rel.snapshot.deltaLog)

  /** The table columns in declared order. */
  private[read] def tableColumns(metadata: Metadata): Seq[Column] =
    metadata.schema.fieldNames.toSeq.map(n => col(s"`${n.replace("`", "``")}`"))

  private def frame(spark: SparkSession, plan: LogicalPlan, metadata: Metadata,
                    extra: Seq[Column]): DataFrame = {
    val df = Shims.ofRows(spark, plan)
    val cols = tableColumns(metadata) ++ extra
    if (cols.isEmpty) df else df.select(cols: _*)
  }
}

/** The deletion-vector row filter, private to [[LiveRows]]. Each file a
  * [[DeltaFileIndex]] lists with a deletion vector carries the
  * descriptor (its JSON form) as the constant metadata field
  * `_metadata.dv_descriptor` ([[GuardedParquetFileFormat]] declares it;
  * Spark copies the listing's per-file map into the split). The filter
  * keeps a row when that field is null or when the row's
  * `_metadata.row_index` is not in the file's bitmap. `row_index` is
  * split-correct — Spark computes it against the file's row groups, so
  * parallel splits of one parquet file keep absolute positions, under
  * the vectorized reader and the row reader alike. Bitmaps are read
  * inside the scan task, only for files that survived pruning
  * ([[DvRowIsLive]]). */
private[read] object DvFilter {

  /** The `_metadata` field holding a file's descriptor. */
  val Field = "dv_descriptor"

  private val Filtered = TreeNodeTag[Unit]("graft.dvFiltered")

  /** The listing's per-file metadata map for `add`: its descriptor, or
    * nothing for a file without a deletion vector. */
  def fileMetadata(add: AddFile): Map[String, Any] =
    add.deletionVector.fold(Map.empty[String, Any])(dv =>
      Map(Field -> JsonCodec.mapper.writeValueAsString(dv)))

  def descriptor(json: String): DeletionVectorDescriptor =
    JsonCodec.mapper.readValue(json, classOf[DeletionVectorDescriptor])

  /** Whether `scan` is the relation of a plan [[apply]] built. */
  def filtered(scan: LogicalRelation): Boolean =
    scan.getTagValue(Filtered).isDefined

  /** `Project(scan.output, Filter(<row is live>, scan + _metadata))`. The
    * Hadoop conf ships to executors once, as one broadcast. */
  def apply(scan: LogicalRelation, deltaLog: DeltaLog): LogicalPlan = {
    val withMeta = scan.copy(output =
      scan.output ++ scan.metadataOutput.filterNot(scan.outputSet.contains))
    withMeta.setTagValue(Filtered, ())
    val meta = withMeta.output.collectFirst {
      case FileSourceMetadataAttribute(a) => a
    }.get
    val fields = meta.dataType.asInstanceOf[StructType]
    def field(name: String): Expression =
      GetStructField(meta, fields.fieldIndex(name), Some(name))
    val conf = deltaLog.spark.sparkContext.broadcast(
      new SerializableHadoopConf(deltaLog.hadoopConf))
    Project(scan.output, Filter(
      DvRowIsLive(field(Field), field(ParquetFileFormat.ROW_INDEX),
        deltaLog.dataPath.toString, conf),
      withMeta))
  }
}

/** True when the row at position `rowIndex` of a file with descriptor
  * `descriptor` (JSON, null = no deletion vector) is live. Deterministic,
  * so the caller's other conjuncts still reach parquet as pushed filters.
  * Each task reads a file's bitmap at most once, through
  * [[graft.delta.dv.DeletionVectors.readBitmap]] (size and CRC checks
  * included), and caches it on the descriptor value, so no row parses a
  * descriptor. */
private[read] case class DvRowIsLive(
    descriptor: Expression,
    rowIndex: Expression,
    tablePath: String,
    conf: Broadcast[SerializableHadoopConf])
  extends BinaryExpression with Predicate {

  override def left: Expression = descriptor
  override def right: Expression = rowIndex
  override def nullable: Boolean = false
  override def prettyName: String = "dv_row_is_live"
  override def toString: String = s"$prettyName($descriptor, $rowIndex)"

  // per-task caches (the expression deserializes once per task)
  @transient private lazy val bitmaps =
    new java.util.HashMap[UTF8String, RoaringBitmapArray]()
  @transient private var lastDescriptor: UTF8String = _
  @transient private var lastBitmap: RoaringBitmapArray = _

  /** Whether `pos` is deleted in the file with descriptor `d`. */
  def deleted(d: UTF8String, pos: Long): Boolean = {
    if (!d.equals(lastDescriptor)) {
      // the row's string may point into a reused buffer: key by a copy
      lastDescriptor = d.clone()
      lastBitmap = bitmaps.computeIfAbsent(lastDescriptor, k =>
        DeletionVectors.readBitmap(DvFilter.descriptor(k.toString),
          new Path(tablePath), conf.value.value))
    }
    lastBitmap.contains(pos)
  }

  override def eval(input: InternalRow): Any = {
    val d = descriptor.eval(input)
    d == null ||
      !deleted(d.asInstanceOf[UTF8String], rowIndex.eval(input).asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("dvRowIsLive", this)
    val d = descriptor.genCode(ctx)
    val pos = rowIndex.genCode(ctx)
    ev.copy(code = code"""
      ${d.code}
      boolean ${ev.value} = true;
      if (!${d.isNull}) {
        ${pos.code}
        ${ev.value} = !$self.deleted(${d.value}, ${pos.value});
      }""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DvRowIsLive =
    copy(descriptor = newLeft, rowIndex = newRight)
}
