package graft.delta

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Encoders, SparkSession}

/** A `sidecar` action inside a V2 checkpoint's main file (PROTOCOL.md
  * "V2 Checkpoints" / "Sidecar Files"): names one parquet file of
  * add/remove actions, relative to `_delta_log/_sidecars/` unless
  * absolute. */
case class SidecarFile(
    path: String,
    @com.fasterxml.jackson.databind.annotation.JsonDeserialize(
      contentAs = classOf[java.lang.Long])
    sizeInBytes: Option[Long] = None,
    @com.fasterxml.jackson.databind.annotation.JsonDeserialize(
      contentAs = classOf[java.lang.Long])
    modificationTime: Option[Long] = None)

/** The `checkpointMetadata` action a V2 checkpoint must carry exactly
  * once (PROTOCOL.md "V2 Checkpoints"): the checkpoint's own version. */
case class CheckpointMetadata(
    version: Long,
    tags: Option[Map[String, String]] = None)

/** Read-side support for V2 (uuid-named) checkpoints — PROTOCOL.md
  * "V2 Checkpoints", reader feature `v2Checkpoint`.
  *
  * A V2 checkpoint is a single `V.checkpoint.<uuid>.{json|parquet}` file
  * holding every non-file action (protocol, metadata, txns, its own
  * `checkpointMetadata`) plus EITHER the file actions inline OR a list of
  * `sidecar` actions naming parquet files under `_delta_log/_sidecars/`
  * that carry all add/remove actions. This engine reads both layouts and
  * writes the sidecar layout when `delta.checkpointPolicy=v2`
  * ([[Checkpoints.writeV2Checkpoint]]); classic-policy tables keep
  * classic checkpoints.
  *
  * Scale shape: the main file is sidecar-count-bounded when sidecars are
  * present (the spec keeps all file actions out of it), so the driver
  * parse here is small; the sidecars themselves are read through the
  * same light/full/distributed state paths, with the same column pruning,
  * as classic checkpoint parts. */
object V2Checkpoints {

  /** Driver-parsed main file: its actions (non-file actions, plus inline
    * file actions when the checkpoint has no sidecars) and the sidecar
    * list. */
  case class Main(actions: Seq[Action], sidecars: Seq[SidecarFile])

  /** Envelope for the `sidecar` field of a json main file (the regular
    * action fields parse through [[JsonCodec.actionFromJson]]). */
  private case class SidecarEnvelope(sidecar: Option[SidecarFile] = None)

  /** Parquet main-file row: the state-bearing action columns plus
    * `sidecar`; `checkpointMetadata` and commitInfo-like extras are
    * deliberately not decoded (never state-bearing). Visibility is
    * `private[delta]`, not `private` — Spark's generated deserializer
    * must reach the constructor or every decode falls back to the
    * interpreter. */
  private[delta] case class V2StateAction(
      txn: Option[SetTransaction] = None,
      add: Option[AddFile] = None,
      remove: Option[RemoveFile] = None,
      metaData: Option[Metadata] = None,
      protocol: Option[Protocol] = None,
      sidecar: Option[SidecarFile] = None,
      domainMetadata: Option[DomainMetadata] = None) {
    def unwrap: Action =
      txn.orElse(add).orElse(remove).orElse(metaData).orElse(protocol)
        .orElse(domainMetadata).orNull
  }

  def isV2Segment(segment: LogSegment): Boolean =
    segment.checkpoint.exists(f => FileNames.isV2CheckpointFile(f.getPath))

  /** Resolve a sidecar reference: absolute paths verbatim, otherwise
    * relative to `_delta_log/_sidecars/`. */
  def sidecarPath(logPath: Path, sf: SidecarFile): Path = {
    val p = new Path(sf.path)
    if (p.isAbsolute || p.toUri.getScheme != null) p
    else new Path(new Path(logPath, "_sidecars"), sf.path)
  }

  /** Parse the main V2 checkpoint file on the driver. */
  def readMain(spark: SparkSession, logPath: Path, file: FileStatus,
               hadoopConf: Configuration): Main = {
    val name = file.getPath.getName
    if (name.endsWith(".json")) {
      val store = storage.LogStore.forPath(logPath, hadoopConf)
      val lines = store.read(file.getPath, hadoopConf)
        .filter(_.trim.nonEmpty).toVector
      Main(
        lines.map(JsonCodec.actionFromJson).filter(_ != null),
        lines.flatMap(l => JsonCodec.mapper
          .readValue(l, classOf[SidecarEnvelope]).sidecar))
    } else {
      // a main file is KB-sized metadata: read driver-side where
      // LocalParquet allows it, instead of paying a Spark job per read
      val rows = write.LocalParquet.readArtifacts(spark,
        file.getPath.getFileSystem(hadoopConf), Seq(file.getPath),
        Some(file.getLen), Encs.v2StateAction)
      Main(
        rows.iterator.map(_.unwrap).filter(_ != null).toVector,
        rows.iterator.flatMap(_.sidecar).toVector)
    }
  }
}
