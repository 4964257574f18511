package graft.delta.write

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, collect_list}

import graft.delta._

/** Shared merge-on-read shading machinery (deletion vectors): DELETE,
  * UPDATE and MERGE all reduce "these target rows stop being live" to the
  * same step — record the rows' positions as per-file bitmaps and commit
  * `remove(path, oldDv) + add(path, newDv)` without moving data bytes.
  *
  * Scale shape: per-file bitmaps are built and serialized on EXECUTORS
  * (grouped by file); only the compressed bitmap bytes reach the driver —
  * bounded by shaded-FILE count, never by shaded-row count. A file whose
  * every physical row is shaded drops outright (no descriptor). New
  * bitmaps merge into any existing shade: hit positions come from a scan
  * that already filtered the old shade, so the union is disjoint by
  * construction.
  *
  * Protocol: the first shading commit upgrades the table to (3, 7) with
  * the `deletionVectors` feature on both lists, preserving every
  * legacy-version-implied feature (see [[TableFeatures.upgradedWith]]).
  */
private[delta] object DvShade {

  /** Shade actions plus the operation metrics they contribute.
    * `numShadedRows` counts NEWLY dead rows only (existing-shade rows are
    * excluded), which is what DELETE/UPDATE/MERGE report as row counts. */
  case class Result(actions: Seq[Action], numDvsAdded: Int,
                    numRemovedOutright: Int, numShadedRows: Long) {
    def isEmpty: Boolean = actions.isEmpty
  }

  /** The `__file` / `__pos` columns [[shade]] reads: a scan's
    * `_metadata.file_path` and `_metadata.row_index`, requested as
    * `extra` columns of [[graft.delta.read.LiveRows]]. */
  val Positions: Seq[org.apache.spark.sql.Column] = Seq(
    col("_metadata.file_path").as("__file"),
    col("_metadata.row_index").as("__pos"))

  /** Build shade actions for the rows in `hits` — a frame exposing
    * [[Positions]] — against `candidates`, the AddFiles the hits were
    * scanned from. */
  def shade(deltaLog: DeltaLog, hits: DataFrame,
            candidates: Seq[AddFile]): Result = {
    val spark = hits.sparkSession
    import spark.implicits._
    // per-file NEW-hit bitmaps, serialized on executors; only (file,
    // bytes, cardinality) reaches the driver
    val newBitmaps: Seq[(String, Array[Byte])] = hits
      .select(col("__file"), col("__pos"))
      .groupBy(col("__file")).agg(collect_list(col("__pos")).as("ps"))
      .as[(String, Array[Long])]
      .map { case (f, ps) => (f, dv.RoaringBitmapArray.fromUnsorted(ps).serialize()) }
      .collect().toSeq
    if (newBitmaps.isEmpty) return Result(Nil, 0, 0, 0L)

    val byInputName = candidates
      .map(a => read.PartitionUtils.inputFileName(deltaLog.dataPath, a.path) -> a)
      .toMap
    val shaded = Seq.newBuilder[Action]
    var removedOutright = 0
    var shadedRows = 0L
    val toStore = Seq.newBuilder[(AddFile, dv.RoaringBitmapArray)]
    newBitmaps.sortBy(_._1).foreach { case (fileName, bytes) =>
      val add = byInputName.getOrElse(fileName,
        throw new IllegalStateException(s"hit an unmatched file $fileName"))
      // merge with the file's EXISTING shade (hit positions exclude it by
      // construction, so this is a disjoint union)
      val merged = dv.RoaringBitmapArray.deserialize(bytes)
      add.deletionVector.foreach { old =>
        merged.union(dv.DeletionVectors.readBitmap(
          old, deltaLog.dataPath, deltaLog.hadoopConf))
      }
      shadedRows += merged.cardinality - add.deletionVector.fold(0L)(_.cardinality)
      val totalRows = read.DataSkipping.withParsedStats(add)
        .stats_parsed.flatMap(_.numRecords)
      if (totalRows.contains(merged.cardinality)) {
        // every row of the file is now dead: drop it outright
        shaded += add.remove(deltaLog.clock())
        removedOutright += 1
      } else {
        toStore += ((add, merged))
      }
    }
    val stored = toStore.result()
    if (stored.nonEmpty) {
      val descriptors = dv.DeletionVectors.writeDvFile(
        deltaLog.dataPath, deltaLog.hadoopConf, stored.map(_._2))
      stored.zip(descriptors).foreach { case ((add, _), desc) =>
        shaded += add.copy(deletionVector = Some(desc), dataChange = true)
        shaded += add.remove(deltaLog.clock())
      }
    }
    Result(shaded.result(), stored.size, removedOutright, shadedRows)
  }

  /** The protocol action the first shading commit must carry (empty once
    * the table already advertises the feature). */
  def protocolUpgrade(snapshot: Snapshot): Seq[Action] = {
    val proto = snapshot.protocol
    if (proto.minReaderVersion == 3 &&
      proto.readerFeatures.exists(_.contains("deletionVectors"))) Nil
    else Seq(TableFeatures.upgradedWith(proto,
      Seq("deletionVectors"), Seq("deletionVectors")))
  }
}
