package graft.delta

import java.io.FileNotFoundException

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.delta.storage.LogStore

/** The transaction log of one Delta table (SURVEY §2.1).
  *
  * Holds the current [[Snapshot]], refreshes it by listing the log from the
  * last checkpoint (M2/M6/M8), serves time travel (M9–M11), the change feed
  * (M13), history (M12), and begins transactions (T1). Reference semantics:
  * `DeltaLogImpl.scala:239-264`, `SnapshotManagement.scala:37-300`.
  */
class DeltaLog private (
    val spark: SparkSession,
    val logPath: Path,
    val dataPath: Path) {

  val hadoopConf: Configuration = spark.sessionState.newHadoopConf()
  private val baseStore: LogStore = LogStore.forPath(logPath, hadoopConf)

  /** The log store, coordinated-commits-aware: a table whose metadata
    * declares `delta.coordinatedCommits.commitCoordinator` routes every
    * log write through [[storage.CoordinatedLogStore]] with the named
    * registered coordinator — the delta-spark table-property face of
    * the coordinator seam. An UNKNOWN name still reads (coordinated
    * commits are backfilled for plain readers) but refuses writes
    * loudly. Bootstrap reads (no snapshot yet) use the plain per-scheme
    * store; the coordinator takes over from the first loaded snapshot. */
  def store: LogStore = coordinatorName match {
    case None => baseStore
    case Some(n) => storage.CommitCoordinator.forName(n) match {
      case Some(c) => new storage.CoordinatedLogStore(c, backfillCadence)
      case None => new storage.UnknownCoordinatorLogStore(n, baseStore)
    }
  }
  /** Resolved once per snapshot refresh (NOT on each store access: the
    * snapshot's own lazy state reads the log through `store`, so
    * consulting snapshot.metadata there would recurse). */
  @volatile private var coordinatorName: Option[String] = None
  /** Resolved with [[coordinatorName]]: the coordinated-commits backfill
    * cadence from table metadata (1 = publish inline). */
  @volatile private var backfillCadence: Int = 1

  /** Commit mutual exclusion within this JVM (cross-process exclusion is
    * the LogStore's atomic rename). Ref: DeltaLogImpl.scala:78,190-197. */
  private[delta] val deltaLogLock = new Object

  // ------------------------------------------------------------ configs
  def metadata: Metadata =
    if (currentSnapshot == null || currentSnapshot.version < 0) Metadata()
    else currentSnapshot.metadata

  def checkpointInterval: Int =
    DeltaConfigs.CHECKPOINT_INTERVAL.fromMetadata(metadata)
  def tombstoneRetentionMillis: Long =
    DeltaConfigs.TOMBSTONE_RETENTION.fromMetadata(metadata)
  def logRetentionMillis: Long =
    DeltaConfigs.LOG_RETENTION.fromMetadata(metadata)
  def enableExpiredLogCleanup: Boolean =
    DeltaConfigs.ENABLE_EXPIRED_LOG_CLEANUP.fromMetadata(metadata)
  def isAppendOnly: Boolean =
    DeltaConfigs.IS_APPEND_ONLY.fromMetadata(metadata)

  def minFileRetentionTimestamp: Long =
    clock() - tombstoneRetentionMillis

  /** Injectable clock for retention tests (ref: util/ManualClock). */
  @volatile private[delta] var clock: () => Long = () => System.currentTimeMillis()

  // --------------------------------------------------- snapshot management
  @volatile private var currentSnapshot: Snapshot = _

  def snapshot: Snapshot = {
    if (currentSnapshot == null) update()
    currentSnapshot
  }

  private[delta] def snapshotOrNull: Snapshot = currentSnapshot

  /** Refresh to the latest version (M6). Thread-safe; snapshots immutable.
    * A missing/empty log yields the initial version=-1 snapshot so that a
    * first transaction can create the table. */
  def update(): Snapshot = synchronized { graft.tools.PhaseTimers.time("log.update") {
    var attempts = 0
    var done = false
    while (!done) {
      val routingUsed = coordinatorName
      val segment =
        try {
          getLogSegmentForVersion(
            Checkpoints.lastCheckpoint(this).map(_.version), None)
        } catch { case _: FileNotFoundException => LogSegment.empty(logPath) }
      if (currentSnapshot == null || segment.version != currentSnapshot.version) {
        // incremental path: the segment EXTENDS the superseded snapshot
        // (same checkpoint, strictly later version) — hand over its folded
        // states so the successor replays only the new commits instead of
        // re-reading the checkpoint and re-parsing the whole tail
        val base = Option(currentSnapshot).filter { s =>
          segment.checkpointVersion == s.logSegment.checkpointVersion &&
            segment.version > s.version && s.version >= 0
        }.map(_.folded)
        if (currentSnapshot != null) currentSnapshot.uncache()
        currentSnapshot = new Snapshot(spark, this, segment.version, segment,
          minFileRetentionTimestamp, segment.lastCommitTimestamp,
          cacheable = true, baseStates = base)
        // reader-side integrity gate (opt-in): the recorded version checksum
        // must agree with the state this snapshot replays, or the log was
        // corrupted / modified non-transactionally
        if (currentSnapshot.version >= 0 &&
            spark.conf.get(Checksums.ValidateConfKey, "false").toBoolean) {
          Checksums.validate(currentSnapshot)
        }
        // re-resolve the coordinated-commits routing for the NEW metadata
        // (this read goes through the PREVIOUS routing — the delta-spark
        // handover: the enablement commit itself uses the old store, the
        // coordinator takes over from the next)
        // cadence FIRST: a concurrent store access between the two
        // assignments must never pair the new coordinator with a stale
        // cadence (an eager backfill is safe; the reverse is not needed)
        backfillCadence =
          if (currentSnapshot.version < 0) 1
          else DeltaConfigs.backfillBatchSize(currentSnapshot.metadata)
        coordinatorName =
          if (currentSnapshot.version < 0) None
          else DeltaConfigs.commitCoordinatorName(currentSnapshot.metadata)
      }
      attempts += 1
      // A fresh DeltaLog bootstraps its first listing through the plain
      // per-scheme store. If that snapshot reveals the table coordinates
      // its commits through a coordinator REGISTERED in this process,
      // re-list once through the coordinated store: its recover() pass
      // publishes any claimed-but-unpublished commit a crashed writer
      // left behind, so this update already observes the healed tip.
      done = attempts >= 2 || coordinatorName == routingUsed ||
        coordinatorName.flatMap(storage.CommitCoordinator.forName).isEmpty
    }
    currentSnapshot
  } }

  def tableExists: Boolean = update().version >= 0

  /** List the log and assemble the segment for `versionToLoad` (or head).
    * Ref: SnapshotManagement.scala:116-214 incl. the contiguity check. */
  private[delta] def getLogSegmentForVersion(
      startCheckpoint: Option[Long],
      versionToLoad: Option[Long]): LogSegment = {
    val startVersion = startCheckpoint.getOrElse(0L)
    // list from the version PREFIX: "N." sorts before both "N.checkpoint..."
    // and "N.json", so the checkpoint file itself is included
    val listStart = new Path(logPath, f"$startVersion%020d.")
    val files =
      try {
        store.listFrom(listStart, hadoopConf)
          .filter(f => FileNames.isDeltaFile(f.getPath) ||
                       FileNames.isCompactedFile(f.getPath) ||
                       FileNames.isCheckpointFile(f.getPath))
          .toVector
      } catch {
        case _: FileNotFoundException if startCheckpoint.isDefined =>
          // corrupted _last_checkpoint hint → full relisting (M8 fallback)
          return getLogSegmentForVersion(None, versionToLoad)
        case e: FileNotFoundException =>
          throw new FileNotFoundException(
            s"No delta log found at $logPath (${e.getMessage})")
      }
    if (files.isEmpty && startCheckpoint.isDefined) {
      return getLogSegmentForVersion(None, versionToLoad)
    }
    if (files.isEmpty) {
      throw new FileNotFoundException(s"Empty delta log at $logPath")
    }

    val checkpoints = files.filter(f => FileNames.isCheckpointFile(f.getPath))
      .filter(f => versionToLoad.forall(
        FileNames.checkpointVersion(f.getPath) <= _))
    val deltas = files.filter(f => FileNames.isDeltaFile(f.getPath))
      .filter(f => versionToLoad.forall(FileNames.deltaVersion(f.getPath) <= _))

    // latest COMPLETE checkpoint: group by (version, instance kind) — a
    // multi-part group counts only with all its parts present (ref
    // Checkpoints.scala getLatestCompleteCheckpointFromList /
    // CheckpointInstance ordering), a V2 (uuid-named) checkpoint is
    // complete by itself, and each distinct uuid is its own instance. At
    // one version, prefer a classic instance over a V2 one (both define
    // the same state; classic reads without the sidecar indirection).
    val completeGroups: Map[Long, Vector[org.apache.hadoop.fs.FileStatus]] =
      checkpoints
        .groupBy { f =>
          val kind =
            if (FileNames.isV2CheckpointFile(f.getPath)) "v2:" + f.getPath.getName
            else FileNames.checkpointParts(f.getPath)
              .map(p => s"parts:${p._2}").getOrElse("classic")
          (FileNames.checkpointVersion(f.getPath), kind)
        }
        .collect {
          case ((v, kind), fs) if kind.startsWith("v2:") => (v, kind, fs)
          case ((v, "classic"), fs) if fs.size == 1 => (v, "classic", fs)
          case ((v, kind), fs)
              if kind.startsWith("parts:") &&
                fs.map(f => FileNames.checkpointParts(f.getPath).get._1)
                  .toSet == (1 to kind.stripPrefix("parts:").toInt).toSet =>
            (v, kind, fs)
        }.toSeq
        .groupBy(_._1)
        .map { case (v, instances) =>
          val best = instances.minBy { case (_, kind, _) =>
            (if (kind.startsWith("v2:")) 1 else 0, kind)
          }
          v -> best._3.toVector
        }
    val latestCheckpoint = completeGroups.keys.toSeq.sorted.lastOption
    // the hinted checkpoint is incomplete (e.g. a lost multi-part file):
    // recover by relisting the whole log (ref Checkpoints.scala
    // findLastCompleteCheckpoint backward search)
    if (latestCheckpoint.isEmpty && startCheckpoint.isDefined) {
      return getLogSegmentForVersion(None, versionToLoad)
    }
    // Log compaction files (delta PROTOCOL.md "Log Compaction Files"):
    // READ tolerance for `{start}.{end}.compacted.json` written by other
    // engines — a compacted range substitutes for its constituent commits
    // (its content is the newest-wins reconciliation of start..end, so
    // state(e) = state(s-1) ⊕ compacted(s..e) by construction). Ranges
    // must start at or after the first needed version; straddlers and
    // ranges past versionToLoad are ignored.
    val needStart = latestCheckpoint.map(_ + 1).getOrElse(0L)
    val singleByV: Map[Long, org.apache.hadoop.fs.FileStatus] =
      deltas.map(f => FileNames.deltaVersion(f.getPath) -> f).toMap
        .filter(_._1 >= needStart)
    val rangesByStart: Map[Long, Vector[(Long, org.apache.hadoop.fs.FileStatus)]] =
      files.filter(f => FileNames.isCompactedFile(f.getPath))
        .map(f => (FileNames.compactedRange(f.getPath), f))
        .filter { case ((s, e), _) =>
          s >= needStart && e >= s && versionToLoad.forall(e <= _)
        }
        .groupBy(_._1._1)
        .map { case (s, fs) => s -> fs.map { case ((_, e), f) => (e, f) }.toVector }
    // the version line ANCHORS on real commits (and the checkpoint);
    // compacted ranges may extend it only by chaining contiguously off
    // the anchor (start == anchor + 1, repeatedly). A stray or premature
    // {s}.{e}.compacted.json that merely OVERLAPS existing commits (a
    // compactor that crashed after writing the file optimistically)
    // must never advance the table version past the newest real commit.
    val target: Option[Long] = {
      var anchor: Long =
        (singleByV.keys ++ latestCheckpoint.toSeq).foldLeft(-1L)(math.max)
      var extended = true
      while (extended) {
        extended = false
        rangesByStart.get(anchor + 1).foreach { rs =>
          val e = rs.map(_._1).max
          if (e > anchor) { anchor = e; extended = true }
        }
      }
      if (anchor < 0) None else Some(anchor)
    }
    // cover needStart..target with the FEWEST reads: at each version take
    // the longest compacted range starting there, else the plain commit
    val picked = Vector.newBuilder[org.apache.hadoop.fs.FileStatus]
    var cursor = needStart
    target.foreach { t =>
      while (cursor <= t) {
        rangesByStart.get(cursor)
          .flatMap(_.filter(_._1 <= t).sortBy(-_._1).headOption) match {
          case Some((e, fs)) => picked += fs; cursor = e + 1
          case None =>
            singleByV.get(cursor) match {
              case Some(fs) => picked += fs; cursor += 1
              case None =>
                throw new IllegalArgumentException(
                  s"Versions not contiguous in $logPath: no commit or " +
                    s"compacted range covers version $cursor " +
                    s"(need $needStart..$t)")
            }
        }
      }
    }
    val coveringDeltas = picked.result()
    if (latestCheckpoint.isEmpty) {
      require(coveringDeltas.nonEmpty,
        s"Log at $logPath does not start at version 0")
    }

    val version = target.orElse(latestCheckpoint).getOrElse(
      throw new IllegalStateException(s"No snapshot version derivable at $logPath"))
    versionToLoad.foreach { v =>
      require(version == v,
        s"Cannot time travel to version $v; latest reconstructable is $version")
    }
    val cpFiles = latestCheckpoint
      .map(cp => completeGroups(cp).sortBy(_.getPath.getName))
      .getOrElse(Nil)
    // commit-time stamp from the plain commit AT the segment version when
    // present. When only a compacted range covers the tail (the plain
    // commits were cleaned up), a compacted file's mtime is COMPACTION
    // time, not commit time — use the END commit's CommitInfo timestamp
    // that compactLog deliberately preserves inside the file instead, so
    // TIMESTAMP AS OF / history on non-ICT tables stays commit-anchored.
    val lastTs = singleByV.get(version).map(_.getModificationTime)
      .orElse(coveringDeltas.lastOption.map { f =>
        if (FileNames.isCompactedFile(f.getPath))
          compactedTailCommitTimestamp(f.getPath)
            .getOrElse(f.getModificationTime)
        else f.getModificationTime
      })
      .orElse(singleByV.maxByOption(_._1).map(_._2.getModificationTime))
      .orElse(cpFiles.headOption.map(_.getModificationTime)).getOrElse(0L)
    LogSegment(logPath, version, coveringDeltas, cpFiles, latestCheckpoint,
      lastTs)
  }

  /** The END commit's CommitInfo timestamp preserved inside a compacted
    * file (compactLog writes it first; foreign compactors may place it
    * anywhere or omit it). Memoized per (path, mtime, length) — segment
    * assembly re-runs on every update() and the file does not change. */
  private val compactedTsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Option[Long]]()
  private def compactedTailCommitTimestamp(
      p: org.apache.hadoop.fs.Path): Option[Long] = {
    val fs = p.getFileSystem(hadoopConf)
    val st = try fs.getFileStatus(p) catch { case _: java.io.IOException => return None }
    compactedTsCache.computeIfAbsent(
      (p.toString, st.getModificationTime, st.getLen),
      _ => try {
        store.read(p, hadoopConf).iterator
          .filter(_.contains("\"commitInfo\""))
          .flatMap(l => JsonCodec.fromJson(l).commitInfo)
          .flatMap(_.timestamp)
          .toSeq.headOption
      } catch { case scala.util.control.NonFatal(_) => None })
  }

  // ------------------------------------------------------------ txn (T1)
  def startTransaction(): txn.OptimisticTransaction = {
    update()
    new txn.OptimisticTransaction(this, snapshot)
  }

  // ------------------------------------------------------- time travel
  /** M9: snapshot pinned at an exact version. */
  def getSnapshotForVersionAsOf(version: Long): Snapshot = {
    val segment = getLogSegmentForVersion(None, Some(version))
    new Snapshot(spark, this, version, segment,
      minFileRetentionTimestamp, segment.lastCommitTimestamp)
  }

  /** M10: latest commit with timestamp <= ts, with monotonized commit
    * timestamps (clock-skew repair, ref DeltaHistoryManager.scala:202-242). */
  def getSnapshotForTimestampAsOf(ts: Long): Snapshot = {
    val commits = listCommitTimestamps()
    require(commits.nonEmpty, s"No commits at $logPath")
    require(ts >= commits.head._2,
      s"Timestamp $ts is before the earliest commit ${commits.head._2}")
    val version = commits.takeWhile(_._2 <= ts).last._1
    getSnapshotForVersionAsOf(version)
  }

  def getVersionBeforeOrAtTimestamp(ts: Long): Long = {
    val commits = listCommitTimestamps().takeWhile(_._2 <= ts)
    require(commits.nonEmpty, s"No version before or at $ts")
    commits.last._1
  }

  def getVersionAtOrAfterTimestamp(ts: Long): Long = {
    val commits = listCommitTimestamps().dropWhile(_._2 < ts)
    require(commits.nonEmpty, s"No version at or after $ts")
    commits.head._1
  }

  /** (version, monotonized timestamp) for every commit file. Tables with
    * `delta.enableInCommitTimestamps` substitute each commit's recorded
    * inCommitTimestamp from its enablement version on — file modification
    * times are not authoritative there (object stores rewrite them,
    * clocks skew); earlier versions keep mtimes, per the protocol's
    * enablement split. The per-commit reads are driver-side and bounded
    * by the log retention window, same cost class as `history()`. */
  private[delta] def listCommitTimestamps(): Vector[(Long, Long)] = {
    val raw = store.listFrom(FileNames.deltaFile(logPath, 0), hadoopConf)
      .filter(f => FileNames.isDeltaFile(f.getPath))
      .map(f => (FileNames.deltaVersion(f.getPath), f.getModificationTime))
      .toVector.sortBy(_._1)
    val meta = snapshot.metadata
    val withIct =
      if (!DeltaConfigs.ENABLE_IN_COMMIT_TIMESTAMPS.fromMetadata(meta)) raw
      else {
        val enableV = meta.configuration
          .get(DeltaConfigs.IctEnablementVersionKey).map(_.toLong)
          .getOrElse(0L)
        raw.map { case (v, t) =>
          if (v < enableV) (v, t)
          else (v, getCommitInfoAt(v).inCommitTimestamp.getOrElse(t))
        }
      }
    // monotonize: a commit's timestamp is at least its predecessor's + 1ms
    var prev = Long.MinValue
    withIct.map { case (v, t) =>
      val adj = math.max(t, prev + 1)
      prev = adj
      (v, adj)
    }
  }

  // ---------------------------------------------------------- changes (M13)
  /** Per-version action feed from `startVersion` (inclusive).
    * Ref: DeltaLogImpl.scala:106-130. */
  def getChanges(startVersion: Long,
                 failOnDataLoss: Boolean = false,
                 endVersion: Option[Long] = None,
                 knownLatest: Option[Long] = None): Iterator[(Long, Seq[Action])] = {
    val files = listChangeFiles(startVersion, failOnDataLoss, endVersion,
      knownLatest)
    files.iterator.map { fs =>
      val v = FileNames.deltaVersion(fs.getPath)
      val actions = store.read(fs.getPath, hadoopConf)
        .filter(_.trim.nonEmpty).map(JsonCodec.actionFromJson).filter(_ != null)
      (v, actions)
    }
  }

  /** The contiguity-checked commit-file listing behind [[getChanges]] and
    * the streaming source walk. */
  private[delta] def listChangeFiles(
      startVersion: Long,
      failOnDataLoss: Boolean = false,
      endVersion: Option[Long] = None,
      knownLatest: Option[Long] = None): Vector[org.apache.hadoop.fs.FileStatus] = {
    // loud-failure contract: the table head must be established BEFORE
    // the listing — a commit landing between a listing and a later head
    // sample would read as a spurious trailing gap (TOCTOU). Callers
    // that already resolved a snapshot pass its version via knownLatest,
    // so the common path costs no extra listing.
    val headOpt: Option[Long] =
      if (!failOnDataLoss) None
      else Some(knownLatest.getOrElse(update().version))
    val files = store.listFrom(
        FileNames.deltaFile(logPath, startVersion), hadoopConf)
      .filter(f => FileNames.isDeltaFile(f.getPath))
      .filter(f => endVersion.forall(FileNames.deltaVersion(f.getPath) <= _))
      .toVector.sortBy(f => FileNames.deltaVersion(f.getPath))
    headOpt.foreach { head =>
      // ANY commit inside [startVersion, min(endVersion, head)] that no
      // longer exists (cleaned up, or subsumed by a log compaction file
      // whose originals were removed) throws — per-version changes are
      // not reconstructible from a reconciled range, so silently
      // skipping is data loss. The check is bounded to the REQUESTED
      // range: a hole past endVersion is not this read's problem.
      val vs = files.map(f => FileNames.deltaVersion(f.getPath))
      val bound = endVersion.fold(head)(e => math.min(e, head))
      if (vs.isEmpty) {
        // nothing at/after start: fine only when nothing SHOULD be there
        if (bound >= startVersion) throw new IllegalStateException(
          s"Requested changes from $startVersion but no commit files " +
            s"remain in [$startVersion, $bound] (cleaned up or compacted " +
            "away); per-version changes cannot be served")
      } else {
        if (vs.head != startVersion) throw new IllegalStateException(
          s"Requested changes from $startVersion but earliest available " +
            s"is ${vs.head} (log truncated)")
        vs.zip(vs.drop(1)).foreach { case (a, b) =>
          if (b != a + 1) throw new IllegalStateException(
            s"Changes between versions $a and $b are missing from the " +
              "log (cleaned up or compacted away); per-version changes " +
              "cannot be served")
        }
        // trailing gap WITHIN the bound: versions after the last listed
        // file but at/below min(endVersion, head) were cleaned
        if (vs.last < bound) throw new IllegalStateException(
          s"Changes between versions ${vs.last} and $bound are missing " +
            "from the log (cleaned up or compacted away); per-version " +
            "changes cannot be served")
      }
    }
    files
  }

  /** Open a commit file for streaming/seeking reads, resolving a
    * coordinated table's DEFERRED commits: a logical `<v>.json` that is
    * not yet backfilled opens through its staged payload (identical
    * bytes — the backfill is a copy — so recorded byte offsets stay
    * valid either way). The fallback triggers only on the miss, so the
    * common backfilled path pays zero extra IO. */
  private[delta] def openCommitStream(
      path: Path): org.apache.hadoop.fs.FSDataInputStream = {
    val fs = path.getFileSystem(hadoopConf)
    try fs.open(path)
    catch {
      case e: FileNotFoundException =>
        val staged = store match {
          case c: storage.CoordinatedLogStore => c.stagedPathFor(path)
          case _ => None
        }
        staged match {
          case Some(t) =>
            // the staged object vanishing means a concurrent backfill
            // published the final path — one retry settles the race
            try fs.open(t)
            catch { case _: FileNotFoundException => fs.open(path) }
          case None => throw e
        }
    }
  }

  /** Logical-name → staged-path map for the deferred commits of a
    * coordinated table (empty otherwise) — resolved ONCE for executor-
    * side jobs that cannot fall back per-file. */
  private[delta] def stagedCommitPaths(): Map[String, Path] = store match {
    case c: storage.CoordinatedLogStore =>
      c.pendingCommitPaths(logPath)
    case _ => Map.empty
  }

  /** Stream one commit file's actions through `f` without ever holding
    * the whole commit on the driver — the reader for tail-commit walkers
    * that must survive a 500k-add CONVERT/backfill commit
    * (the recurring driver-materialization bug shape; see
    * FileCountScaleSpec). The iterator is single-pass and only valid
    * inside `f`; the stream closes on exit either way. */
  private[delta] def streamCommitActions[T](path: Path)(
      f: Iterator[Action] => T): T = {
    val in = openCommitStream(path)
    try f(scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.trim.nonEmpty)
      .map(JsonCodec.actionFromJson)
      .filter(_ != null))
    finally in.close()
  }

  // ---------------------------------------------------------- history (M12)
  def getCommitInfoAt(version: Long): CommitInfo = {
    // STREAM the file and STOP at the first commitInfo line — both the
    // read and the parse must short-circuit: this engine (and
    // delta-spark) writes CommitInfo first, and a backfill commit can
    // carry 100k+ add lines, so a store.read here would still pay the
    // full file's IO and String allocation on the driver even with lazy
    // parsing (the distributed history() branch streams the same way)
    val p = FileNames.deltaFile(logPath, version)
    val in = openCommitStream(p)
    val ci =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.trim.nonEmpty)
        .flatMap(l => JsonCodec.fromJson(l).commitInfo)
        .nextOption()
      finally in.close()
    ci.map(_.copy(version = Some(version)))
      .getOrElse(CommitInfo(version = Some(version)))
  }

  /** Newest-first commit infos for the commit files that still EXIST —
    * after log cleanup (M14) the early tail is gone, so we list rather
    * than iterate 0..latest (the reference computes the earliest
    * reproducible version first, DeltaHistoryManager.scala:40-66).
    *
    * Scale shape: past a handful of commits the per-version reads run as
    * ONE Spark job (a 30-day log at high commit rates is thousands of
    * serial object-store round-trips on the driver otherwise); each task
    * emits only its file's single commitInfo LINE, so the collect is
    * bounded by the same commit count as the return value. */
  def history(): Seq[CommitInfo] = {
    val versions =
      try {
        store.listFrom(FileNames.deltaFile(logPath, 0), hadoopConf)
          .filter(f => FileNames.isDeltaFile(f.getPath))
          .map(f => FileNames.deltaVersion(f.getPath))
          .toVector.sorted
      } catch { case _: FileNotFoundException => Vector.empty }
    if (versions.size <= DeltaLog.HistoryDriverReadMax)
      return versions.reverseIterator.map(getCommitInfoAt).toVector
    import spark.implicits._
    val sconf = new SerializableHadoopConf(hadoopConf)
    // executor tasks cannot fall back per-file: resolve deferred
    // (coordinated, unbackfilled) commits to their staged paths up front
    val staged = stagedCommitPaths()
    val pairs = versions.map { v =>
      val logical = FileNames.deltaFile(logPath, v)
      (v, staged.getOrElse(logical.getName, logical).toString)
    }
    val raw = spark.createDataset(pairs)
      .repartition(math.max(1, math.min(pairs.size / 4, 64)))
      .map { case (v, pathStr) =>
        val p = new Path(pathStr)
        val fs = p.getFileSystem(sconf.value)
        val in = fs.open(p)
        // STREAM with early stop: CommitInfo is the first line in every
        // commit this engine (and delta-spark) writes, and a backfill
        // commit can carry 100k+ add lines this task has no use for
        val ciLine =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .filter(_.trim.nonEmpty).find { l =>
              try JsonCodec.fromJson(l).commitInfo.isDefined
              catch { case _: Exception => false }
            }
          finally in.close()
        (v, ciLine.getOrElse(""))
      }.collect()
    raw.sortBy(-_._1).iterator.map { case (v, line) =>
      if (line.isEmpty) CommitInfo(version = Some(v))
      else JsonCodec.fromJson(line).commitInfo
        .map(_.copy(version = Some(v)))
        .getOrElse(CommitInfo(version = Some(v)))
    }.toVector
  }

  // ------------------------------------------------------------- cleanup (M14)
  /** WRITE a log compaction file `{start}.{end}.compacted.json`
    * (PROTOCOL.md "Log Compaction Files"): the newest-wins reconciliation
    * of commits start..end, readable by this engine (and by delta-spark)
    * IN PLACE of the originals — log-segment assembly then makes one
    * read where it made end-start+1. For frequent-commit tables this
    * cuts tail-replay cost between checkpoints without moving the
    * checkpoint itself.
    *
    * Content: the range's latest Protocol/Metadata (if any changed),
    * latest SetTransaction per appId, latest DomainMetadata per domain,
    * the newest file action per (path, dv) key — adds live, removes as
    * tombstones — and the LAST commit's CommitInfo (so an ICT table's
    * tail timestamp still resolves from the compacted entry). AddCDCFile
    * actions are deliberately EXCLUDED: the change feed reads per-version
    * commits, never compacted ranges.
    *
    * Idempotent: the write is put-if-absent; losing to an existing file
    * of the same name is success. */
  def compactLog(start: Long, end: Long): Path = {
    require(start >= 0 && end > start,
      s"compactLog needs a range of at least two commits, got $start..$end")
    var lastProtocol: Option[Protocol] = None
    var lastMetadata: Option[Metadata] = None
    var lastCommitInfo: Option[CommitInfo] = None
    val txns = mutable.LinkedHashMap.empty[String, SetTransaction]
    val domains = mutable.LinkedHashMap.empty[String, DomainMetadata]
    // keyed by the SAME canonical path form replay uses — real writers
    // mix '/x', 'file:/x', 'file:///x' for one file (the golden
    // canonicalized-paths fixtures), and a raw-string key would keep two
    // entries whose replay order then resurrects or kills the wrong one
    val canonical = LogReplay.canonicalizer(
      logPath.getFileSystem(hadoopConf).getUri)
    val filesByKey = mutable.LinkedHashMap.empty[(String, String), Action]
    (start to end).foreach { v =>
      val lines = store.read(FileNames.deltaFile(logPath, v), hadoopConf)
      lines.iterator.filter(_.trim.nonEmpty).foreach { line =>
        JsonCodec.actionFromJson(line) match {
          case null =>
            // a commit written by a newer engine may carry action types
            // this engine cannot model; readers PREFER compacted ranges
            // over the originals, so writing a file that drops such a
            // line would silently lose it — abort instead (compaction is
            // an optimization; the per-version commits stay authoritative)
            throw new IllegalStateException(
              s"compactLog: commit $v contains an action this engine " +
                s"cannot model; refusing to write a lossy compacted " +
                s"file: ${line.take(200)}")
          case p: Protocol => lastProtocol = Some(p)
          case m: Metadata => lastMetadata = Some(m)
          case t: SetTransaction => txns(t.appId) = t
          case d: DomainMetadata => domains(d.domain) = d
          case a: AddFile => filesByKey((canonical(a.path), a.dvId)) = a
          case r: RemoveFile => filesByKey((canonical(r.path), r.dvId)) = r
          case ci: CommitInfo => if (v == end) lastCommitInfo = Some(ci)
          case _: AddCDCFile => () // per-version by design: CDF never reads compacted ranges
        }
      }
    }
    val actions: Seq[Action] =
      lastCommitInfo.toSeq ++ lastProtocol.toSeq ++ lastMetadata.toSeq ++
        domains.values.toSeq ++ txns.values.toSeq ++ filesByKey.values.toSeq
    val target = FileNames.compactedFile(logPath, start, end)
    try store.write(target, actions.map(JsonCodec.toJson).iterator,
      overwrite = false, hadoopConf)
    catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: org.apache.hadoop.fs.FileAlreadyExistsException => () // done
    }
    target
  }

  /** Delete commit/checkpoint files older than the retention window that
    * precede a newer checkpoint (ref MetadataCleanup.scala:32-97; day
    * truncation matches the reference). */
  def cleanUpExpiredLogs(): Int = {
    val latestCheckpoint = Checkpoints.lastCheckpoint(this).map(_.version)
      .getOrElse(return 0)
    val cal = java.util.Calendar.getInstance(java.util.TimeZone.getTimeZone("UTC"))
    cal.setTimeInMillis(clock() - logRetentionMillis)
    cal.set(java.util.Calendar.HOUR_OF_DAY, 0)
    cal.set(java.util.Calendar.MINUTE, 0)
    cal.set(java.util.Calendar.SECOND, 0)
    cal.set(java.util.Calendar.MILLISECOND, 0)
    val cutoff = cal.getTimeInMillis
    val fs = logPath.getFileSystem(hadoopConf)
    var deleted = 0
    val survivingV2 = Vector.newBuilder[org.apache.hadoop.fs.FileStatus]
    // list from the "00…0." PREFIX (not "00…0.json"): a compacted file
    // "00…0.00…N.compacted.json" sorts BEFORE "00…0.json" and must be
    // visible to cleanup too
    val listing = store.listFrom(new Path(logPath, f"${0L}%020d."), hadoopConf)
      .toVector
    def versionOf(p: Path): Long =
      if (FileNames.isDeltaFile(p)) FileNames.deltaVersion(p)
      else if (FileNames.isChecksumFile(p)) FileNames.checksumVersion(p)
      else FileNames.checkpointVersion(p)
    // checkpointProtection: the log prefix below the protected version
    // may be cleaned ONLY all-at-once against a retained checkpoint at
    // or past the boundary — the early history of such tables (e.g.
    // converted coordinated-commits) is not reconstructible from
    // surviving commits, so a partial deletion could orphan versions
    // that only a protected checkpoint can serve
    val requireBefore =
      DeltaConfigs.REQUIRE_CHECKPOINT_PROTECTION.fromMetadata(metadata)
    val protectedCleanable = requireBefore <= 0 ||
      (latestCheckpoint >= requireBefore && listing.forall { f =>
        val p = f.getPath
        !(FileNames.isDeltaFile(p) || FileNames.isCheckpointFile(p) ||
            FileNames.isChecksumFile(p)) ||
          versionOf(p) >= requireBefore || f.getModificationTime < cutoff
      })
    listing.foreach { f =>
      val p = f.getPath
      val isDelta = FileNames.isDeltaFile(p)
      val isCp = FileNames.isCheckpointFile(p)
      val isCrc = FileNames.isChecksumFile(p)
      if ((isDelta || isCp || isCrc) && f.getModificationTime < cutoff) {
        val v = versionOf(p)
        // only files strictly before the newest checkpoint are reproducible
        if (v < latestCheckpoint && (v >= requireBefore || protectedCleanable)
            && fs.delete(p, false)) deleted += 1
        else if (FileNames.isV2CheckpointFile(p)) survivingV2 += f
      } else if (FileNames.isCompactedFile(p) &&
          f.getModificationTime < cutoff &&
          FileNames.compactedRange(p)._2 < latestCheckpoint &&
          (FileNames.compactedRange(p)._1 >= requireBefore ||
            protectedCleanable)) {
        // a compacted range wholly below the newest checkpoint expires by
        // the same rule as the commits it reconciles
        if (fs.delete(p, false)) deleted += 1
      } else if (FileNames.isV2CheckpointFile(p)) survivingV2 += f
    }
    // staged coordinated commits orphaned in _staged_commits: the
    // rename-backfill consumes staged files on publish, so a survivor is
    // a crash remnant (payload written, claim never taken — the healed
    // claimed case renames it away) or a foreign writer's copy-backfill
    // leftover. Expired ones whose version is already served by the main
    // log (backfilled, or below the newest checkpoint) are garbage.
    val stagedDir = FileNames.stagedCommitDir(logPath)
    if (fs.exists(stagedDir)) {
      fs.listStatus(stagedDir).foreach { sf =>
        try {
          val name = sf.getPath.getName
          // a dot-prefixed stray (checksum sidecar, abandoned temp) splits
          // to an EMPTY first segment, which vacuously passes forall —
          // require nonEmpty so toLong can't abort the whole cleanup pass
          val version = name.split('.').headOption
            .filter(s => s.nonEmpty && s.forall(_.isDigit)).map(_.toLong)
          val served = version.exists(v => v < latestCheckpoint ||
            fs.exists(FileNames.deltaFile(logPath, v)))
          if (sf.getModificationTime < cutoff && served &&
              fs.delete(sf.getPath, false)) deleted += 1
        } catch { case scala.util.control.NonFatal(_) => } // one odd name
      }
    }
    // sidecars orphaned by deleted V2 checkpoints: an expired sidecar not
    // referenced by any SURVIVING v2 checkpoint is garbage (the surviving
    // mains are few — one read each)
    val sidecarDir = FileNames.sidecarDir(logPath)
    if (fs.exists(sidecarDir)) {
      val referenced = try Some(survivingV2.result().flatMap { f =>
        V2Checkpoints.readMain(spark, logPath, f, hadoopConf)
          .sidecars.map(s => V2Checkpoints.sidecarPath(logPath, s).getName)
      }.toSet) catch { case _: Exception => None } // unreadable: keep all
      referenced.foreach(refs => fs.listStatus(sidecarDir).foreach { sf =>
        if (sf.getModificationTime < cutoff &&
            !refs.contains(sf.getPath.getName) &&
            fs.delete(sf.getPath, false)) deleted += 1
      })
    }
    // a checkpoint whose process died mid-write leaves its staging
    // directory, claim marker or reclaim ticket behind; all are
    // dot-named, so the listing above never sees them. Past the cutoff
    // (days, against a claim grace of minutes) no live writer owns one.
    Checkpoints.RemnantGlobs.flatMap(g => fs.globStatus(new Path(logPath, g)))
      .foreach { st =>
        if (st.getModificationTime < cutoff && fs.delete(st.getPath, true)) deleted += 1
      }
    deleted
  }
}

object DeltaLog {
  /** history() reads at most this many commit files serially on the
    * driver; above it the reads batch into one Spark job. */
  private[delta] val HistoryDriverReadMax = 16

  private val cache = mutable.HashMap.empty[String, DeltaLog]

  /** M1: locate `_delta_log` under the table path; one cached DeltaLog per
    * qualified path per JVM (ref DeltaLogImpl.scala:239-264). */
  def forTable(spark: SparkSession, path: String): DeltaLog = synchronized {
    val dataPath = new Path(path)
    val fs = dataPath.getFileSystem(spark.sessionState.newHadoopConf())
    val qualified = fs.makeQualified(dataPath)
    cache.getOrElseUpdate(qualified.toString,
      new DeltaLog(spark, new Path(qualified, "_delta_log"), qualified))
  }

  private[graft] def clearCache(): Unit = synchronized {
    cache.values.foreach(log => Option(log.snapshotOrNull).foreach(_.uncache()))
    cache.clear()
  }

  /** Evict ONE table's cached DeltaLog (and release its persisted file
    * state). DDL that invalidates a single path — DROP/RENAME — must not
    * cost every other table its cached snapshot. */
  private[graft] def invalidate(spark: SparkSession, path: String): Unit = synchronized {
    val dataPath = new Path(path)
    val fs = dataPath.getFileSystem(spark.sessionState.newHadoopConf())
    val qualified = fs.makeQualified(dataPath).toString
    cache.remove(qualified)
      .foreach(log => Option(log.snapshotOrNull).foreach(_.uncache()))
  }
}
