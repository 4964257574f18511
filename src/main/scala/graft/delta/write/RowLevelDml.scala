package graft.delta.write

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.delta._
import graft.delta.txn.OptimisticTransaction

/** The row-level DML kernel. DELETE, UPDATE and MERGE are one
  * transaction shape (Delta Lake, VLDB 2020): find the touched files,
  * shade or rewrite them, commit adds and removes with the read set the
  * caller tracked. The caller decides which rows each clause hits;
  * everything after that happens here, once:
  *
  *  1. Tag. The input is the candidate `files` and a frame of their live
  *     rows, aliased `t`, tagged with [[ActionCol]]: `-1` carries the row
  *     unchanged, `i` fires `clauses(i)` (a SET map updates, `None`
  *     deletes). When shading, the frame carries [[DvShade.Positions]].
  *  2. Persist. The tagged frame is persisted only when two or more
  *     consumers read it (the shade, the write, each change image), and
  *     unpersisted in a `finally`.
  *  3. Shade or rewrite. Shading (`delta.enableDeletionVectors`) records
  *     every hit row's position in a deletion vector and writes only the
  *     updated rows; rewriting writes the carried and updated rows and
  *     removes every candidate file. An updated row takes its clause's
  *     SET values, and the generated columns it did not SET are
  *     re-derived. Updated rows and `inserts` go out in one write job.
  *  4. Images. With the change data feed on, updated rows give
  *     `update_preimage`/`update_postimage` rows, deleted rows `delete`
  *     rows and inserts `insert` rows, written as one change-file batch.
  *  5. Commit. The protocol upgrade (on a table's first shade), the
  *     caller's `extra` actions, the change files, the adds and the
  *     removes land in one commit. Nothing is committed when no file
  *     would change.
  */
private[delta] object RowLevelDml {

  /** The tag column: `-1` = carry unchanged, else the firing clause. */
  val ActionCol = "__graft_action"

  /** What one run changed, for each operation to report under its own
    * metric names. `dvsAdded` is set when the run shaded. */
  case class Counts(addedFiles: Int, addedBytes: Long, removedFiles: Int,
                    dvsAdded: Option[Int], shadedRows: Long)

  /** Does DML on this table shade rows instead of rewriting files? */
  def shades(metadata: Metadata): Boolean =
    DeltaConfigs.ENABLE_DELETION_VECTORS.fromMetadata(metadata)

  /** The files whose partition values or stats admit a match for
    * `resolved`. A condition on a generated partition column's source
    * (`ts` under `day = date(ts)`) prunes partitions too. */
  def candidates(spark: org.apache.spark.sql.SparkSession, snapshot: Snapshot,
                 resolved: org.apache.spark.sql.catalyst.expressions.Expression)
    : Seq[AddFile] = {
    val metadata = snapshot.metadata
    val (metaPreds, dataPreds) = read.PartitionUtils
      .splitMetadataAndDataPredicates(resolved, metadata.partitionColumns)
    snapshot.filesMatching(
      metaPreds ++ read.GeneratedPartitionFilters.derive(metadata, dataPreds, spark),
      dataPreds)
  }

  /** The live rows of `files`, aliased `t`, with positions when the
    * table shades. */
  def target(deltaLog: DeltaLog, metadata: Metadata,
             files: Seq[AddFile]): DataFrame =
    read.LiveRows.files(deltaLog, metadata, files)(
      extra = if (shades(metadata)) DvShade.Positions else Nil).alias("t")

  /** Shade or rewrite `files` per the clauses `tagged` fires (None when
    * no target row can change), write `inserts`, and commit as
    * `operation`; see the object doc for the steps. */
  def run(txn: OptimisticTransaction,
          files: Seq[AddFile],
          tagged: Option[DataFrame],
          clauses: Seq[Option[Map[String, Column]]],
          inserts: Option[DataFrame],
          operation: String,
          predicate: String,
          extra: Seq[Action] = Nil)(
          metrics: Counts => Map[String, String]): Long = {
    val deltaLog = txn.deltaLog
    val metadata = txn.metadata
    val schema = metadata.schema
    val shading = tagged.isDefined && shades(metadata)
    val cdc = CdcWriter.enabled(metadata)
    val updates = clauses.zipWithIndex.collect { case (Some(set), i) => (i, set) }
    val deletes = clauses.zipWithIndex.collect { case (None, i) => i }
    def fires(idx: Seq[Int]): Column =
      if (idx.isEmpty) lit(false) else col(ActionCol).isin(idx.map(Int.box): _*)

    // shade, write, and one read per change image (pre and post count
    // apart: a union scans its input once per branch)
    val consumers = Seq(shading, !shading || updates.nonEmpty,
      cdc && updates.nonEmpty, cdc && updates.nonEmpty,
      cdc && deletes.nonEmpty).count(identity)
    val frame = tagged.map(t =>
      if (consumers >= 2) t.persist(StorageLevel.MEMORY_AND_DISK) else t)

    // the target schema with the firing clause's SET winning per column
    // (one projection, never withColumn: a MERGE frame carries ambiguous
    // names from both sides), then generated columns re-derived for rows
    // whose clause did not SET them (a SET on a generation source must
    // not trip the write-time guard)
    def updated(df: DataFrame): DataFrame = {
      val base = df.select((schema.fieldNames.map { name =>
        updates.foldRight(col(s"t.$name")) { case ((i, set), els) =>
          set.get(name).fold(els)(v =>
            when(col(ActionCol) === i, v.cast(schema(name).dataType)).otherwise(els))
        }.as(name)
      } :+ col(ActionCol)).toIndexedSeq: _*)
      GeneratedColumns.expressions(schema).foldLeft(base) {
        case (acc, (g, genExpr)) =>
          val setters = updates.collect { case (i, set) if set.contains(g) => i }
          acc.withColumn(g, when(col(ActionCol) === -1 || fires(setters), col(s"`$g`"))
            .otherwise(expr(genExpr).cast(schema(g).dataType)))
      }.drop(ActionCol)
    }
    def targetRows(df: DataFrame): DataFrame =
      df.select(schema.fieldNames.map(n => col(s"t.$n").as(n)).toIndexedSeq: _*)

    try {
      val shade = if (!shading) None else frame.map(t => DvShade.shade(deltaLog,
        t.filter(col(ActionCol) =!= -1)
          .select(col("t.__file").as("__file"), col("t.__pos").as("__pos")),
        files))
      val rewritten = frame.collect {
        case t if !shading => updated(t.filter(!fires(deletes)))
        case t if updates.nonEmpty && shade.exists(!_.isEmpty) =>
          updated(t.filter(fires(updates.map(_._1))))
      }
      val adds = (rewritten ++ inserts).reduceOption(_.unionByName(_))
        .map(df => DeltaWriter.writeFiles(Invariants.enforce(df, metadata),
          deltaLog, metadata.partitionColumns, metadata.columnMapping,
          Some(metadata)))
        .getOrElse(Nil)
      val removes: Seq[Action] = shade.map(_.actions).getOrElse(
        if (frame.isDefined) files.map(_.remove(deltaLog.clock())) else Nil)
      if (adds.isEmpty && removes.isEmpty) return txn.snapshot.version

      val images: Seq[DataFrame] = if (!cdc) Nil else {
        def image(df: DataFrame, kind: String) =
          df.withColumn(CdcWriter.ChangeTypeCol, lit(kind))
        frame.toSeq.flatMap { t =>
          val hit = t.filter(fires(updates.map(_._1)))
          (if (updates.isEmpty) Nil
            else Seq(image(targetRows(hit), "update_preimage"),
              image(updated(hit), "update_postimage"))) ++
          (if (deletes.isEmpty) Nil
            else Seq(image(targetRows(t.filter(fires(deletes))), "delete")))
        } ++ inserts.map(image(_, "insert"))
      }
      val changeFiles: Seq[Action] = images.reduceOption(_.unionByName(_))
        .map(CdcWriter.writeChangeFiles(_, deltaLog, metadata.columnMapping,
          metadata.fieldIdMapping))
        .getOrElse(Nil)
      val upgrade =
        if (shade.exists(!_.isEmpty)) DvShade.protocolUpgrade(txn.snapshot) else Nil
      txn.commit(upgrade ++ extra ++ changeFiles ++ adds ++ removes, operation,
        operationMetrics = metrics(Counts(adds.size, adds.map(_.size).sum,
          shade.fold(removes.size)(_.numRemovedOutright),
          shade.map(_.numDvsAdded), shade.fold(0L)(_.numShadedRows))),
        // delta-spark renders DML predicates as a JSON array of strings
        operationParameters = Map("predicate" -> Seq(predicate)))
    } finally {
      if (consumers >= 2) frame.foreach(_.unpersist(blocking = false))
    }
  }
}
