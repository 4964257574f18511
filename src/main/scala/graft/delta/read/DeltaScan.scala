package graft.delta.read

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation

import graft.delta.{AddFile, Encs, Snapshot}

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

/** Assembles the snapshot's DataFrame through a [[DeltaFileIndex]]-backed
  * HadoopFsRelation: Spark's vectorized parquet reader, whole-stage
  * codegen, filter pushdown (`PushedFilters` in explain) and partition
  * pruning all apply natively (S4 via Spark instead of row-at-a-time
  * parquet4s).
  *
  * Files carrying a deletion vector get their deleted rows dropped by a
  * (file, row-position) ANTI-JOIN against the materialized bitmaps:
  * `_metadata.file_path`/`_metadata.row_index` identify every row's
  * position (split-correct — Spark computes the index against the file's
  * row groups, so parallel splits of one parquet file keep absolute
  * positions), and the bitmap side explodes to one row per deleted
  * position, read on EXECUTORS from the descriptors. The total deleted
  * cardinality is known from the log alone (descriptor `cardinality`
  * sums), so the broadcast decision needs no data read; scans of DV-free
  * tables — and DV-free snapshots of DV-capable tables — take none of
  * these steps. */
class DeltaScanBuilder(snapshot: Snapshot) {

  def buildDF(filter: Option[Column]): DataFrame = {
    snapshot.assertReadable()
    val df = baseDF
    val undeleted =
      if (snapshot.dvCardinality == 0L) df else antiJoinDeletedRows(df)
    // present columns in the table-schema order (partition columns are
    // appended last by HadoopFsRelation)
    val projected = projectTableOrder(undeleted, Nil)
    filter.map(projected.filter).getOrElse(projected)
  }

  /** The scan plus stable row ids (writer feature rowTracking): `_row_id`
    * = the file's `baseRowId` + the row's PHYSICAL position, and
    * `_row_commit_version` = the file's `defaultRowCommitVersion` — both
    * null for files written before the feature. Per-file constants join
    * in on `_metadata.file_path` (broadcast — one small row per FILE),
    * and the id derives from `_metadata.row_index` BEFORE the DV
    * anti-filter, so deletion-vector DML never shifts a survivor's id. */
  def buildDFWithRowIds: DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
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
    val withIds = baseDF
      .join(perFileSide,
        col("_metadata.file_path") === col("__rt_file"), "left")
      .withColumn("_row_id", col("__rt_base") + col("_metadata.row_index"))
      .withColumn("_row_commit_version", col("__rt_ver"))
    val undeleted =
      if (snapshot.dvCardinality == 0L) withIds
      else antiJoinDeletedRows(withIds)
    projectTableOrder(undeleted, Seq("_row_id", "_row_commit_version"))
  }

  private def baseDF: DataFrame = {
    val spark = snapshot.spark
    val index = new DeltaFileIndex(spark, snapshot)
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = snapshot.metadata.partitionSchema,
      dataSchema = snapshot.metadata.dataSchema,
      bucketSpec = None,
      fileFormat = new graft.delta.read.GuardedParquetFileFormat(snapshot.metadata.columnMapping, snapshot.metadata.fieldIdMapping),
      options = Map.empty)(spark)
    spark.baseRelationToDataFrame(relation)
  }

  private def projectTableOrder(df: DataFrame, extra: Seq[String]): DataFrame = {
    val ordered = snapshot.metadata.schema.fieldNames.toSeq ++ extra
    if (ordered.nonEmpty)
      df.select(ordered.map(org.apache.spark.sql.functions.col): _*)
    else df
  }

  private def antiJoinDeletedRows(df: DataFrame): DataFrame = {
    DvFilter(df, snapshot.dvFiles, snapshot.dvCardinality,
      snapshot.deltaLog.dataPath, snapshot.deltaLog.hadoopConf)
  }
}

/** The deletion-vector row filter shared by the batch scan and the
  * streaming source: anti-join the frame's `(_metadata.file_path,
  * _metadata.row_index)` against the exploded deleted positions, read on
  * EXECUTORS from the descriptors. */
object DvFilter {

  /** Positions under ~1M broadcast (a few MB of (path, long) rows); above
    * that the join shuffles — still linear in deleted rows, never in the
    * table. */
  private val BroadcastPositionsMax = 1000000L

  def apply(df: DataFrame,
            dvFiles: org.apache.spark.sql.Dataset[AddFile],
            totalCardinality: Long,
            dataPath: org.apache.hadoop.fs.Path,
            hadoopConf: org.apache.hadoop.conf.Configuration): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
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

  /** Driver-side-file-list face (streaming micro-batches, DML scans). */
  def forFiles(df: DataFrame, files: Seq[AddFile],
               dataPath: org.apache.hadoop.fs.Path,
               hadoopConf: org.apache.hadoop.conf.Configuration): DataFrame = {
    val withDv = files.filter(_.deletionVector.isDefined)
    if (withDv.isEmpty) df
    else {
      implicit val addEnc = Encs.addFile
      val spark = df.sparkSession
      apply(df, spark.createDataset(withDv),
        withDv.iterator.flatMap(_.deletionVector).map(_.cardinality).sum,
        dataPath, hadoopConf)
    }
  }
}
