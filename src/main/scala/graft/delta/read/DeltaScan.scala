package graft.delta.read

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.graft.Shims

import graft.delta.{AddFile, DeltaLog, Encs, Metadata, Snapshot}

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
  *  - rows a deletion vector hides are never returned: a (file,
  *    row-position) ANTI-JOIN against the deleted positions
  *    ([[DvFilter]]). A file set without descriptors plans no join;
  *  - the frame presents the table schema in declared order (the
  *    relation appends partition columns last), plus any `extra` columns
  *    the caller asks for — evaluated after the anti-join, so
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
    val rows = frame(snapshot.spark, new DeltaFileIndex(snapshot.spark, snapshot),
      metadata, metadata, streaming)
    project(dropDeleted(rows, snapshot), metadata, extra)
  }

  /** The live rows of `files`. `metadata` shapes the relation; `mapping`
    * is the metadata whose column mapping decodes the parquet (the CDF
    * range keeps the table's mapping under its extended schema). */
  def files(deltaLog: DeltaLog, metadata: Metadata, files: Seq[AddFile])(
      mapping: Metadata = metadata,
      streaming: Boolean = false,
      extra: Seq[Column] = Nil): DataFrame = {
    val spark = deltaLog.spark
    val rows = frame(spark,
      new DeltaFileIndex(spark, deltaLog.dataPath, metadata, files),
      metadata, mapping, streaming)
    project(DvFilter.forFiles(rows, files, deltaLog.dataPath, deltaLog.hadoopConf),
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
    * references above stay bound and DML routing still finds `lr` among
    * the leaves. A DV-free snapshot returns `lr` itself. */
  private[graft] def filterSqlRead(lr: LogicalRelation,
                                   rel: InsertableDeltaRelation): LogicalPlan =
    if (rel.snapshot.dvCardinality == 0L) lr
    else Project(lr.output,
      dropDeleted(Shims.ofRows(rel.snapshot.spark, lr), rel.snapshot)
        .queryExecution.analyzed)

  /** The table columns in declared order. */
  private[read] def tableColumns(metadata: Metadata): Seq[Column] =
    metadata.schema.fieldNames.toSeq.map(n => col(s"`${n.replace("`", "``")}`"))

  private def frame(spark: SparkSession, index: DeltaFileIndex,
                    metadata: Metadata, mapping: Metadata,
                    streaming: Boolean): DataFrame =
    Shims.relationToDataFrame(spark, relation(spark, index, metadata, mapping),
      streaming)

  private def dropDeleted(df: DataFrame, snapshot: Snapshot): DataFrame =
    if (snapshot.dvCardinality == 0L) df
    else DvFilter(df, snapshot.dvFiles, snapshot.dvCardinality,
      snapshot.deltaLog.dataPath, snapshot.deltaLog.hadoopConf)

  private def project(df: DataFrame, metadata: Metadata,
                      extra: Seq[Column]): DataFrame = {
    val cols = tableColumns(metadata) ++ extra
    if (cols.isEmpty) df else df.select(cols: _*)
  }
}

/** The deletion-vector row filter, private to [[LiveRows]]: anti-join the
  * frame's `(_metadata.file_path, _metadata.row_index)` against the
  * exploded deleted positions, read on EXECUTORS from the descriptors.
  * `_metadata.row_index` is split-correct — Spark computes it against the
  * file's row groups, so parallel splits of one parquet file keep
  * absolute positions. The total deleted cardinality is known from the
  * log alone (descriptor `cardinality` sums), so the broadcast decision
  * needs no data read. */
private object DvFilter {

  /** Positions under ~1M broadcast (a few MB of (path, long) rows); above
    * that the join shuffles — still linear in deleted rows, never in the
    * table. */
  private val BroadcastPositionsMax = 1000000L

  def apply(df: DataFrame,
            dvFiles: org.apache.spark.sql.Dataset[AddFile],
            totalCardinality: Long,
            dataPath: org.apache.hadoop.fs.Path,
            hadoopConf: org.apache.hadoop.conf.Configuration): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dataPathStr = dataPath.toString
    val conf = new graft.delta.SerializableHadoopConf(hadoopConf)
    val deleted = dvFiles.flatMap { add =>
      val tablePath = new org.apache.hadoop.fs.Path(dataPathStr)
      val bitmap = graft.delta.dv.DeletionVectors.readBitmap(
        add.deletionVector.get, tablePath, conf.value)
      // _metadata.file_path spells files the SparkPath way — match it
      // (PartitionUtils.inputFileName scaladoc)
      val file = PartitionUtils.inputFileName(tablePath, add.path)
      bitmap.values.map(pos => (file, pos))
    }.toDF("__dv_file", "__dv_pos")
    val right =
      if (totalCardinality <= BroadcastPositionsMax) broadcast(deleted)
      else deleted
    df.join(right,
        col("_metadata.file_path") === col("__dv_file") &&
          col("_metadata.row_index") === col("__dv_pos"),
        "left_anti")
  }

  /** Driver-side-file-list face: only files carrying a descriptor join. */
  def forFiles(df: DataFrame, files: Seq[AddFile],
               dataPath: org.apache.hadoop.fs.Path,
               hadoopConf: org.apache.hadoop.conf.Configuration): DataFrame = {
    val withDv = files.filter(_.deletionVector.isDefined)
    if (withDv.isEmpty) df
    else {
      implicit val addEnc = Encs.addFile
      apply(df, df.sparkSession.createDataset(withDv),
        withDv.iterator.flatMap(_.deletionVector).map(_.cardinality).sum,
        dataPath, hadoopConf)
    }
  }
}
