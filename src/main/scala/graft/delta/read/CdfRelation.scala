package graft.delta.read

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.delta._
import graft.delta.write.CdcWriter

/** Single-relation change-data-feed reads.
  *
  * A CDF range read serves three file classes: recorded change parquet
  * (AddCDCFile — `_change_type` lives in the DATA), derived inserts
  * (plain dataChange adds) and derived deletes (metadata-only removes,
  * bytes still on disk). The naive formulation unions one DataFrame per
  * COMMIT — a backfill across thousands of versions then plans
  * thousands of union nodes and planning cost grows superlinearly.
  *
  * Here the whole range plans as AT MOST TWO scan relations, however
  * wide it is: `_commit_version` (and, for derived files,
  * `_change_type`) attach per FILE through [[DeltaFileIndex]]'s
  * partition-value stitching — the same mechanism that serves
  * log-supplied partition values, so the synthetic columns also take
  * partition pruning (a version- or type-bounded filter prunes files
  * before any byte is read). Ref: the reference's CDCReader builds one
  * relation over index batches the same way (file → version map in
  * hand at planning time).
  */
object CdfRelation {

  val VersionCol = "_commit_version"

  /** Tag one commit's change-relevant files for the range read: returns
    * (cdc files, derived insert/delete files), each carrying its
    * synthetic partition values. A rewrite commit without change files
    * cannot be reconstructed and errors, like Delta's own CDF read. */
  def tagFiles(v: Long, actions: Seq[Action],
               context: String): (Seq[AddFile], Seq[AddFile]) = {
    val typeCol = CdcWriter.ChangeTypeCol
    val cdc = actions.collect { case c: AddCDCFile => c }
    if (cdc.nonEmpty) {
      // carry the RECORDED partition values: foreign writers partition
      // the change parquet and keep partition columns OUT of the data,
      // so dropping c.partitionValues would null every partition column
      // in their change rows (frame() routes such files to a stitched
      // relation; our own CdcWriter writes them in-data with an empty
      // map, served by the data-column relation)
      (cdc.map(c => AddFile(path = c.path,
        partitionValues = c.partitionValues + (VersionCol -> v.toString),
        size = c.size)), Nil)
    } else {
      val adds = actions.collect { case a: AddFile if a.dataChange => a }
      val removes = actions.collect { case r: RemoveFile if r.dataChange => r }
      if (adds.nonEmpty && removes.nonEmpty) {
        throw new UnsupportedOperationException(
          s"Version $v rewrote data without change files; enable " +
            s"delta.enableChangeDataFeed before running DML to $context " +
            "changes across it")
      }
      (Nil,
        adds.map(a => a.copy(partitionValues = a.partitionValues +
          (typeCol -> "insert") + (VersionCol -> v.toString))) ++
          removes.map(r => AddFile(path = r.path,
            partitionValues = r.partitionValues.getOrElse(Map.empty) +
              (typeCol -> "delete") + (VersionCol -> v.toString),
            size = r.size.getOrElse(0L),
            // a removed SHADED file derives deletes for its LIVE rows
            // only — the old shade's positions were already dead and
            // re-emitting them would over-report the delete
            deletionVector = r.deletionVector)))
    }
  }

  /** The CDF output schema: table columns + _change_type + _commit_version. */
  def cdfSchema(metadata: Metadata): StructType =
    StructType(metadata.schema.fields :+
      StructField(CdcWriter.ChangeTypeCol, StringType) :+
      StructField(VersionCol, LongType))

  /** Assemble the range's frame from tagged files — one relation over
    * the change parquet (type in data, version stitched) plus one over
    * the derived files (type AND version stitched). None for an empty
    * range (callers own the empty-frame shape). */
  def frame(deltaLog: DeltaLog, metadata: Metadata,
            cdcFiles: Seq[AddFile], derivedFiles: Seq[AddFile],
            streaming: Boolean): Option[DataFrame] = {
    val typeCol = CdcWriter.ChangeTypeCol
    val extended = cdfSchema(metadata)

    // the ORIGINAL mapping: synthetic columns are never read from
    // parquet, data columns decode by their physical names; derived files
    // that carried a shade contribute LIVE rows only
    def rel(meta: Metadata, files: Seq[AddFile]): DataFrame =
      LiveRows.files(deltaLog, meta, files)(mapping = metadata,
        streaming = streaming)

    // change parquet comes in two shapes: our CdcWriter stores partition
    // columns IN THE DATA (empty partitionValues), foreign writers
    // partition the files and record the values in AddCDCFile — those
    // must STITCH from partitionValues or they read as null. Still O(1)
    // relations (at most three), never per-commit.
    val (cdcStitched, cdcInData) = cdcFiles.partition(f =>
      metadata.partitionColumns.nonEmpty &&
        metadata.partitionColumns.forall(f.partitionValues.contains))
    val cdcFrames = Seq(
      cdcInData -> Seq(VersionCol),
      cdcStitched -> (metadata.partitionColumns :+ VersionCol)
    ).collect { case (files, partCols) if files.nonEmpty =>
      rel(metadata.copy(schemaString = Some(extended.json),
        partitionColumns = partCols), files)
    }
    val derivedFrame =
      if (derivedFiles.isEmpty) None
      else Some(rel(metadata.copy(schemaString = Some(extended.json),
        partitionColumns = metadata.partitionColumns ++ Seq(typeCol, VersionCol)),
        derivedFiles))
    (cdcFrames ++ derivedFrame).reduceOption(_ unionByName _)
  }
}
