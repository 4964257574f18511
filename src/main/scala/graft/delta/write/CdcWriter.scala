package graft.delta.write

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.delta._

/** Change-data-file writer (the producer side of the protocol's
  * `AddCDCFile` action, ref actions.scala:164-172).
  *
  * Change rows are the table schema plus `_change_type`
  * (insert / delete / update_preimage / update_postimage). They land as
  * parquet under `_change_data/` — an underscore directory, so table
  * scans and VACUUM's data-file walk never see them — and are committed
  * as AddCDCFile actions (never part of table state, `dataChange=false`).
  */
object CdcWriter {

  val ChangeTypeCol = "_change_type"
  val ChangeDir = "_change_data"

  /** Write `changes` (table columns + _change_type) and return the
    * AddCDCFile actions for the commit. The per-commit
    * `_change_data/batch-<uuid>/` directory is the files' FINAL location
    * — no per-file promotion renames (object-store renames are copies);
    * visibility comes from the AddCDCFile actions, not the layout.
    * Renamed columns write their PHYSICAL name ([[ColumnMapping]]) so
    * change files decode like data files; on id-mode tables they also
    * stamp parquet field ids (the CDF scan resolves by id there —
    * `_change_type` carries no id and falls back to name matching). */
  def writeChangeFiles(changes: DataFrame, deltaLog: DeltaLog,
                       mapping: Map[String, String] = Map.empty,
                       fieldIds: Map[String, Int] = Map.empty): Seq[AddCDCFile] = {
    val fs = deltaLog.dataPath.getFileSystem(deltaLog.hadoopConf)
    val batchName = s"batch-${java.util.UUID.randomUUID().toString.take(12)}"
    val batchDir = new Path(new Path(deltaLog.dataPath, ChangeDir), batchName)
    try {
      // shared projection + ref-counted conf flip (DeltaWriter) so the
      // change-file path cannot diverge from the data-file path
      val phys = DeltaWriter.physicalProjection(changes, mapping, fieldIds)
      val committedNames = graft.tools.PhaseTimers.time("write.cdc") {
        DirectWriteCommitProtocol.write(phys.sparkSession, batchDir.toString) {
          DeltaWriter.withFieldIdWrite(phys.sparkSession, fieldIds.nonEmpty) {
            phys.write.mode(SaveMode.Overwrite).parquet(batchDir.toString)
          }
        }
      }
      // an empty change set under the direct-commit protocol creates no
      // batch dir at all
      if (!fs.exists(batchDir)) return Seq.empty
      fs.listStatus(batchDir)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .filter(f => committedNames.forall(_(f.getPath.getName)))
        .toSeq.map { st =>
          AddCDCFile(path = s"$ChangeDir/$batchName/${st.getPath.getName}",
            size = st.getLen)
        }
    } catch {
      case scala.util.control.NonFatal(e) =>
        fs.delete(batchDir, true)
        throw e
    }
  }

  /** Is change-data capture enabled for this table? */
  def enabled(metadata: Metadata): Boolean =
    DeltaConfigs.ENABLE_CHANGE_DATA_FEED.fromMetadata(metadata)
}
