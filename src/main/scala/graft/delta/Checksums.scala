package graft.delta

import com.fasterxml.jackson.databind.annotation.JsonDeserialize

/** Per-version table checksum (`_delta_log/<version>.crc` — the
  * delta-spark VERSION CHECKSUM convention): one small JSON recording the
  * post-commit table totals and P&M, written next to each commit.
  * Readers use it two ways: a CHEAP P&M source for the version, and an
  * integrity check — a replayed state whose file count / byte total
  * disagrees with the recorded checksum means the log was corrupted or
  * the replay is wrong, and silently serving that state would be worse
  * than failing.
  *
  * Scale shape: the totals update INCREMENTALLY — previous version's crc
  * plus this commit's own adds/removes (O(commit), no state
  * materialization); when the chain has a gap (foreign commits without
  * crc, enablement mid-history) the next checkpoint re-seeds it from the
  * state the checkpoint had to materialize anyway. */
case class VersionChecksum(
    tableSizeBytes: Long,
    numFiles: Long,
    numMetadata: Long = 1L,
    numProtocol: Long = 1L,
    metadata: Metadata,
    protocol: Protocol,
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    inCommitTimestampOpt: Option[Long] = None,
    txnId: Option[String] = None)

object Checksums {

  /** The totals delta contributed by one commit's file actions. A
    * same-version remove(path,oldDv)+add(path,newDv) DV re-shade nets to
    * zero files and zero bytes — the arithmetic needs no dv-aware keying
    * because both actions carry the same physical size. */
  private def fold(prev: VersionChecksum, actions: Seq[Action],
                   metadata: Metadata, protocol: Protocol,
                   ict: Option[Long]): Option[VersionChecksum] = {
    var files = prev.numFiles
    var bytes = prev.tableSizeBytes
    var exact = true
    actions.foreach {
      case a: AddFile => files += 1; bytes += a.size
      case r: RemoveFile =>
        files -= 1
        // a remove without a recorded size (foreign minimal tombstone)
        // makes the byte total unknowable incrementally — better NO crc
        // (checkpoint re-seeds) than one that later fails an honest state
        r.size match {
          case Some(s) => bytes -= s
          case None => exact = false
        }
      case _ =>
    }
    if (exact) Some(VersionChecksum(bytes, files, 1L, 1L, metadata, protocol, ict))
    else None
  }

  /** Write `<version>.crc` after a successful commit, extending the
    * previous version's checksum. Skips silently when the chain has a
    * gap (no previous crc) on a non-initial version — the next
    * checkpoint re-seeds. Never throws: the checksum is an integrity
    * AID; failing a commit over it would invert the dependency. */
  def writeAfterCommit(log: DeltaLog, version: Long,
                       actions: Seq[Action]): Unit = {
    try {
      val metadata = actions.collectFirst { case m: Metadata => m }
      val protocol = actions.collectFirst { case p: Protocol => p }
      val ict = actions.collectFirst {
        case ci: CommitInfo => ci.inCommitTimestamp }.flatten
      val prev: Option[VersionChecksum] =
        if (version == 0) Some(VersionChecksum(0L, 0L, 1L, 1L, null, null))
        else read(log, version - 1)
      prev.foreach { p =>
        fold(p, actions,
          metadata.getOrElse(p.metadata), protocol.getOrElse(p.protocol), ict)
          .filter(c => c.metadata != null && c.protocol != null)
          .foreach(write(log, version, _))
      }
    } catch { case _: Exception => }
  }

  /** Re-seed the chain from a snapshot's state (checkpoint time — the
    * checkpoint already paid for the file totals). */
  def writeFromState(snapshot: Snapshot): Unit = {
    try {
      write(snapshot.deltaLog, snapshot.version,
        VersionChecksum(snapshot.sizeInBytes, snapshot.numOfFiles, 1L, 1L,
          snapshot.metadata, snapshot.protocol,
          snapshot.inCommitTimestampOpt))
    } catch { case _: Exception => }
  }

  def write(log: DeltaLog, version: Long, crc: VersionChecksum): Unit =
    log.store.write(FileNames.checksumFile(log.logPath, version),
      Iterator(JsonCodec.mapper.writeValueAsString(crc)),
      overwrite = true, log.hadoopConf)

  def read(log: DeltaLog, version: Long): Option[VersionChecksum] =
    try {
      val lines = log.store.read(
        FileNames.checksumFile(log.logPath, version), log.hadoopConf)
      lines.headOption.filter(_.trim.nonEmpty)
        .map(JsonCodec.mapper.readValue(_, classOf[VersionChecksum]))
    } catch { case _: Exception => None }

  /** Conf gating reader-side checksum validation on every snapshot
    * refresh (off by default: it forces the state materialization the
    * read may otherwise prune). */
  val ValidateConfKey = "spark.graft.delta.checksum.validate"

  /** Validate a snapshot's replayed state against its recorded checksum
    * (no-op when none exists). Throws on divergence — a corrupt log or a
    * replay bug, either of which must not serve answers silently. */
  def validate(snapshot: Snapshot): Unit = {
    read(snapshot.deltaLog, snapshot.version).foreach { crc =>
      val (files, bytes) = (snapshot.numOfFiles, snapshot.sizeInBytes)
      if (files != crc.numFiles || bytes != crc.tableSizeBytes) {
        throw new IllegalStateException(
          s"Version checksum mismatch at version ${snapshot.version}: " +
            s"replayed state has $files files / $bytes bytes but " +
            s"${FileNames.checksumFile(snapshot.deltaLog.logPath, snapshot.version).getName} " +
            s"records ${crc.numFiles} files / ${crc.tableSizeBytes} bytes " +
            "- the log is corrupted or was modified non-transactionally")
      }
      require(crc.protocol == snapshot.protocol,
        s"Version checksum protocol mismatch at version ${snapshot.version}")
    }
  }
}
