package graft.delta

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression

/** The contiguous slice of the log that defines one table version:
  * an optional checkpoint plus every commit after it.
  * Ref: SnapshotManagement.scala:316-328. */
case class LogSegment(
    logPath: Path,
    version: Long,
    deltas: Seq[FileStatus],
    checkpoint: Seq[FileStatus],
    checkpointVersion: Option[Long],
    lastCommitTimestamp: Long)

object LogSegment {
  def empty(logPath: Path): LogSegment =
    LogSegment(logPath, -1, Nil, Nil, None, 0L)
}

/** Immutable table state at one version (ref: SnapshotImpl.scala:67-346).
  *
  * State is reconstructed in two tiers so the driver never has to hold
  * what it doesn't need:
  *
  *  - '''light state''' — protocol, metadata, set-transactions and
  *    tombstones. The checkpoint parquet is read selecting only the
  *    `protocol`/`metaData`/`txn`/`remove` columns, so the `add` column
  *    (>99% of a large checkpoint's bytes) is never decoded. This is the
  *    columnar equivalent of the reference's P&M short-circuit
  *    (SnapshotImpl.scala:161-246): metadata-only callers — `history()`,
  *    config lookups, schema reads — touch no AddFile.
  *  - '''file state''' — the active-file list. Below
  *    `spark.graft.snapshot.driverStateMaxBytes` of checkpoint plus log
  *    (default 128 MB ≈ low millions of files) it is folded on the
  *    driver; above it, [[DistributedLogReplay]] computes it as a Spark
  *    job.
  *
  * This class is the only code that decides where the file state lives.
  * Consumers ask [[filesMatching]] (partition + stats pruning),
  * [[filesWhere]] (any serializable predicate), [[allFilesDS]] (a
  * Dataset for jobs), [[dvFiles]] (files with deletion vectors) or
  * [[numOfFiles]]/[[sizeInBytes]]; each accessor runs where the state
  * lives and, in distributed mode, brings only its answer to the driver.
  * Whether a checkpoint artifact is read on the driver is decided by
  * [[write.LocalParquet.readArtifacts]], from its size and the
  * filesystem's resolved scheme.
  *
  * JSON commits after the checkpoint are driver-side: there are at most
  * `checkpointInterval` of them, bounded-size by construction.
  */
class Snapshot(
    val spark: SparkSession,
    val deltaLog: DeltaLog,
    val version: Long,
    val logSegment: LogSegment,
    val minFileRetentionTimestamp: Long,
    val timestamp: Long,
    /** Only the log's MAIN snapshot may cache its distributed file state
      * (update() uncaches the snapshot it replaces; nobody manages the
      * lifetime of time-travel snapshots, so they never cache). */
    private[delta] val cacheable: Boolean = false,
    /** Already-folded states of the snapshot this one supersedes (same
      * checkpoint, strictly earlier version): the INCREMENTAL update path.
      * A seeded fold appends only the commits after the base version —
      * no checkpoint parquet re-read, no re-parse of older commits — so a
      * commit loop costs O(1) log I/O per commit instead of O(interval).
      * `None` (time travel, first load, checkpoint advanced) folds fresh. */
    private[delta] val baseStates: Option[Snapshot.Folded] = None) {

  /** Per-commit parse cache: each JSON commit file is read at most once
    * per snapshot, and a seeded fold never touches commits at or below
    * its base version. */
  private val commitCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Seq[Action]]

  /** Keyed by the entry's HIGHEST version — (v, v) for a plain commit,
    * the declared end for a compacted range file (whose content is the
    * reconciled actions of its range: folding it at `end` is exact,
    * since state(end) = state(start-1) ⊕ reconciled(start..end) and the
    * fold is newest-wins). */
  private lazy val deltaVersions: Seq[(Long, FileStatus)] =
    logSegment.deltas.map(fs =>
      (FileNames.deltaVersionRange(fs.getPath)._2, fs))

  /** Commits with version strictly above `after`, parsed via the cache.
    * A compacted range straddling `after` still folds exactly
    * (⊕ idempotency above), so the end-version filter stays correct for
    * seeded folds too. Driver-fold use only — streaming consumers (the
    * light fold, the V2 carry-over planner) go through
    * [[lightCommitActionsAfter]] so a huge tail never pins its parsed
    * AddFiles here. */
  private[delta] def commitActionsAfter(after: Long): Seq[(Long, Seq[Action])] =
    deltaVersions.filter(_._1 > after).map { case (v, fs) =>
      (v, commitCache.computeIfAbsent(v, _ => readCommit(fs).toVector))
    }

  /** A base usable for this snapshot: at or past the checkpoint, strictly
    * before this version (update() guarantees it; re-checked for safety). */
  private def usableBase(version: Long): Boolean =
    version >= logSegment.checkpointVersion.getOrElse(-1L) &&
      version < this.version

  /** Which version the last state fold was seeded from (observability for
    * specs; None = full fold from the checkpoint). */
  @volatile private[delta] var seededFrom: Option[Long] = None

  /** V2 (uuid-named) checkpoint: the main file parsed once per snapshot —
    * non-file actions plus the sidecar list (None for classic
    * checkpoints; see [[V2Checkpoints]]). */
  private[delta] lazy val v2Main: Option[V2Checkpoints.Main] =
    logSegment.checkpoint.headOption
      .filter(f => FileNames.isV2CheckpointFile(f.getPath))
      .map(f => V2Checkpoints.readMain(
        spark, deltaLog.logPath, f, deltaLog.hadoopConf))

  /** Rows of the checkpoint's parquet files — a V2 checkpoint's
    * sidecars, or the classic parts — decoded through `enc`'s columns
    * ([[write.LocalParquet.readArtifacts]] picks driver or job; a V2
    * sidecar of undeclared size forces the job). */
  private def readCheckpointParquet[T](enc: Encoder[T]): Vector[T] = {
    val (paths, bytes) = v2Main match {
      case Some(m) =>
        (m.sidecars.map(V2Checkpoints.sidecarPath(deltaLog.logPath, _)),
          if (m.sidecars.exists(_.sizeInBytes.isEmpty)) None
          else Some(m.sidecars.flatMap(_.sizeInBytes).sum))
      case None =>
        (logSegment.checkpoint.map(_.getPath),
          Some(logSegment.checkpoint.map(_.getLen).sum))
    }
    write.LocalParquet.readArtifacts(spark,
      deltaLog.logPath.getFileSystem(deltaLog.hadoopConf), paths, bytes, enc)
  }

  /** Above this many state bytes the file list stays distributed.
    * For a V2 checkpoint the state bytes live in the SIDECARS — count
    * their declared sizes, not the (tiny) main file. The JSON tail
    * counts too: a checkpoint-less log whose commits carry beyond-bound
    * adds (one CONVERT / backfill commit can hold 100k+) would otherwise
    * fold driver-side — exactly the materialization the bound exists to
    * prevent (caught by the file-count scale harness, FileCountScale). */
  private[delta] lazy val distributedState: Boolean = {
    val max = spark.conf.getOption(Snapshot.DriverStateMaxBytesKey)
      .map(_.toLong).getOrElse(Snapshot.DriverStateMaxBytesDefault)
    val cpBytes = v2Main match {
      case Some(m) => m.sidecars.flatMap(_.sizeInBytes).sum +
        logSegment.checkpoint.map(_.getLen).sum
      case None => logSegment.checkpoint.map(_.getLen).sum
    }
    cpBytes + logSegment.deltas.map(_.getLen).sum > max
  }

  /** Reference path canonicalization bound to this table's filesystem. */
  private[delta] lazy val canonicalPath: String => String =
    LogReplay.canonicalizer(
      deltaLog.logPath.getFileSystem(deltaLog.hadoopConf).getUri)

  // -------------------------------------------------------- light state
  /** Whether the light fold ran (exposed to the successor via folded()). */
  @volatile private[delta] var lightStateComputed = false

  /** Replay of everything EXCEPT the checkpoint's AddFiles (M5). In
    * distributed mode adds are folded for their tombstone-cancel side
    * effect only and never retained (retainAdds=false), so the light
    * fold is O(tombstones + txns) driver memory no matter how many
    * AddFiles the tail carries. */
  private lazy val lightState: State = {
    lightStateComputed = true
    val replay = new InMemoryLogReplay(minFileRetentionTimestamp,
      canonicalPath, retainAdds = !distributedState)
    val from = baseStates.collect {
      case Snapshot.Folded(v, Some(light), _) if usableBase(v) =>
        replay.seed(v, light)
        seededFrom = Some(v)
        v
    }.getOrElse {
      logSegment.checkpointVersion.foreach { cpVersion =>
        replay.append(cpVersion, readCheckpointLightActions())
      }
      -1L
    }
    lightCommitActionsAfter(from).foreach { case (v, as) =>
      replay.append(v, as)
    }
    replay.state
  }

  /** Tail commits for the LIGHT fold. Driver mode shares [[commitCache]]
    * (the full fold will need the same actions — one parse, one copy);
    * distributed mode never runs the full driver fold, so it STREAMS
    * each commit through the fold instead (one commit's parse buffer at
    * a time, nothing retained — the fold itself drops adds, so caching
    * them would pin the whole tail's file metadata on the driver; a
    * CONVERT / backfill commit can carry 500k+ adds, see
    * FileCountScaleSpec). lightState is a once-computed lazy val, so
    * there is no repeated-fold cost to memoize. `private[delta]`: the V2
    * sidecar carry-over planner walks the checkpoint interval through
    * the same streaming path — it needs only action types and paths, and
    * caching a backfill tail's parsed AddFiles just to plan a checkpoint
    * would be the same driver materialization. */
  private[delta] def lightCommitActionsAfter(
      after: Long): Iterator[(Long, Iterator[Action])] =
    if (!distributedState) {
      commitActionsAfter(after).iterator.map { case (v, as) =>
        (v, as.iterator)
      }
    } else deltaVersions.iterator.filter(_._1 > after).map { case (v, fs) =>
      val full = commitCache.get(v) // reuse if someone already paid for it
      (v, if (full != null) full.iterator else readCommit(fs))
    }

  /** Checkpoint actions with the `add` column pruned at the parquet layer.
    * V2 checkpoints: the driver-parsed main file supplies every non-file
    * action, and only the light columns of the sidecars are decoded
    * (tombstones; same columnar pruning as the classic path). */
  private def readCheckpointLightActions(): Iterator[Action] =
    v2Main.fold(Iterator.empty[Action])(
      _.actions.iterator.filter(!_.isInstanceOf[AddFile])) ++
      readCheckpointParquet(Encs.lightAction).iterator.map(_.unwrap)

  // --------------------------------------------------------- file state
  /** Whether the full driver-side fold ran (observable so specs can prove
    * metadata-only access never materializes the file list). */
  @volatile private[delta] var fullStateComputed = false

  private lazy val inMemoryState: State = {
    fullStateComputed = true
    val replay = new InMemoryLogReplay(minFileRetentionTimestamp, canonicalPath)
    val from = baseStates.collect {
      case Snapshot.Folded(v, _, Some(full)) if usableBase(v) =>
        replay.seed(v, full)
        seededFrom = Some(v)
        v
    }.getOrElse {
      // Checkpoint first — it IS the folded state at checkpointVersion.
      // Read ONLY the state-bearing columns: checkpoints written by other
      // Delta implementations carry extra fields with incompatible types
      // (e.g. commitInfo.timestamp as a parquet TIMESTAMP where the JSON
      // model uses millis) that state reconstruction must never touch.
      logSegment.checkpointVersion.foreach { cpVersion =>
        // V2 checkpoints: driver-parsed main actions (incl. inline file
        // actions when no sidecars) + the sidecar parquets; classic:
        // the checkpoint part files themselves
        replay.append(cpVersion,
          v2Main.fold(Iterator.empty[Action])(_.actions.iterator) ++
            readCheckpointParquet(Encs.stateAction).iterator.map(_.unwrap))
      }
      -1L
    }
    commitActionsAfter(from).foreach { case (v, as) =>
      replay.append(v, as.iterator)
    }
    replay.state
  }

  /** The folded states this snapshot can hand its successor — only folds
    * that already ran are offered (seeding must never FORCE a fold the
    * workload didn't need). */
  private[delta] def folded: Snapshot.Folded = Snapshot.Folded(
    version,
    if (lightStateComputed) Some(lightState) else None,
    if (fullStateComputed) Some(inMemoryState) else None)

  /** This snapshot's own commit's inCommitTimestamp, when its commit
    * file is part of the segment and records one (ICT tables) — the
    * monotonicity floor for the next commit. */
  private[delta] lazy val inCommitTimestampOpt: Option[Long] =
    deltaVersions.find(_._1 == version).flatMap { case (v, fs) =>
      // reuse a parse someone already paid for, else STREAM: only the
      // CommitInfo line is needed and the tip commit can be huge
      // (CONVERT / backfill) — caching it here would pin every tail
      // AddFile on the driver just to read one timestamp
      val actions: Iterator[Action] =
        Option(commitCache.get(v)).map(_.iterator).getOrElse(readCommit(fs))
      actions
        .collectFirst { case ci: CommitInfo => ci.inCommitTimestamp }.flatten
    }

  private def readCommit(fs: FileStatus): Iterator[Action] =
    deltaLog.store.read(fs.getPath, deltaLog.hadoopConf).iterator
      .filter(_.trim.nonEmpty)
      .map(JsonCodec.actionFromJson)
      .filter(_ != null)

  def protocol: Protocol = lightState.protocol
  def metadata: Metadata = lightState.metadata
  /** Live domain metadata: `domain -> configuration` (M-state). */
  def domainMetadata: Map[String, String] =
    lightState.domains.map(d => d.domain -> d.configuration).toMap
  private[delta] def domainActions: Seq[DomainMetadata] = lightState.domains
  def tombstones: Seq[RemoveFile] = lightState.tombstones
  def setTransactions: Seq[SetTransaction] = lightState.setTransactions

  /** Whether the full file list was ever collected to the driver
    * (observable so specs can prove scans stay distributed). */
  @volatile private[delta] var filesMaterialized = false

  /** The active files, materialized on the driver. In distributed mode
    * this collects the DISTRIBUTED replay's result — callers that can
    * stay distributed use the accessors below. */
  lazy val allFiles: Seq[AddFile] = {
    filesMaterialized = true
    if (distributedState) allFilesDistributed.collect().toVector
    else inMemoryState.activeFiles
  }

  private lazy val filesCountAndBytes: (Long, Long) =
    if (distributedState) {
      import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
      val row = allFilesDistributed
        .agg(count(lit(1)), coalesce(sum("size"), lit(0L))).head()
      (row.getLong(0), row.getLong(1))
    } else {
      (inMemoryState.numOfFiles, inMemoryState.sizeInBytes)
    }
  def numOfFiles: Long = filesCountAndBytes._1
  def sizeInBytes: Long = filesCountAndBytes._2

  /** Stream-idempotence lookup (ref: SnapshotImpl.scala txn map). */
  def transactionVersion(appId: String): Option[Long] =
    lightState.setTransactions.find(_.appId == appId).map(_.version)

  /** Total deleted-row count across the active files' deletion vectors,
    * computed from the DESCRIPTORS alone (no bitmap I/O) — 0 means the
    * scan path skips DV filtering entirely. */
  lazy val dvCardinality: Long =
    if (distributedState) {
      import org.apache.spark.sql.functions.{coalesce, lit, sum}
      allFilesDistributed
        .agg(coalesce(sum("deletionVector.cardinality"), lit(0L)))
        .head().getLong(0)
    } else {
      allFiles.iterator.flatMap(_.deletionVector).map(_.cardinality).sum
    }

  // ------------------------------------------------ file-state accessors
  // The only code that chooses between the driver list and the
  // distributed Dataset. Callers state what they need; each accessor
  // runs it where the state lives, and in distributed mode only the
  // answer reaches the driver (never through `allFiles`).

  /** Active files whose partition values and stats admit the filters
    * (partition conjuncts over partition columns, data conjuncts over
    * file stats). */
  def filesMatching(partitionFilters: Seq[Expression],
                    dataFilters: Seq[Expression] = Nil): Seq[AddFile] = {
    val m = metadata
    if (distributedState) read.FilePruning.prune(allFilesDistributed,
      m.partitionSchema, partitionFilters, dataFilters, m.dataSchema)
      .collect().toSeq
    else read.FilePruning.pruneLocal(allFiles,
      m.partitionSchema, partitionFilters, dataFilters, m.dataSchema)
  }

  /** Active files satisfying `keep`, which must be serializable (in
    * distributed mode it runs in a Spark job). */
  def filesWhere(keep: AddFile => Boolean): Seq[AddFile] =
    if (distributedState) allFilesDistributed.filter(keep).collect().toSeq
    else allFiles.filter(keep)

  /** Active files as a Dataset: the distributed replay past the state
    * bound, the driver list otherwise. */
  def allFilesDS: Dataset[AddFile] =
    if (distributedState) allFilesDistributed
    else spark.createDataset(allFiles)(Encs.addFile)

  /** Active files carrying a deletion vector (filtered before the
    * driver list becomes a Dataset). */
  def dvFiles: Dataset[AddFile] =
    if (distributedState) allFilesDistributed.filter(_.deletionVector.isDefined)
    else spark.createDataset(
      allFiles.filter(_.deletionVector.isDefined))(Encs.addFile)

  /** The file state in the container it lives in, for consumers that
    * serve both (a [[read.DeltaFileIndex]] over this snapshot). */
  private[delta] def fileState: Either[Seq[AddFile], Dataset[AddFile]] =
    if (distributedState) Right(allFilesDistributed) else Left(allFiles)

  private var cachedFilesDS: Option[Dataset[AddFile]] = None

  /** Active files via the distributed replay (M3) — same answer as
    * [[allFiles]], computed as a Spark job for beyond-driver-memory logs.
    * In distributed-state mode the main-line snapshot persists the folded
    * Dataset so repeated scans don't re-replay the checkpoint; update()
    * unpersists it when the snapshot is superseded. */
  def allFilesDistributed: Dataset[AddFile] = synchronized {
    if (!(cacheable && distributedState)) DistributedLogReplay.activeFiles(this)
    else cachedFilesDS.getOrElse {
      // parse stats ONCE while the state is being persisted: files from
      // commits AFTER the last checkpoint carry raw JSON only, and every
      // pruning query against the cached state would re-walk it
      implicit val enc = Encs.addFile
      val ds = DistributedLogReplay.activeFiles(this)
        .map(read.DataSkipping.withParsedStats(_))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cachedFilesDS = Some(ds)
      ds
    }
  }

  /** Release the persisted file state (called when superseded). */
  private[delta] def uncache(): Unit = synchronized {
    cachedFilesDS.foreach(_.unpersist())
    cachedFilesDS = None
  }

  /** Assemble the DataFrame for this snapshot (scan path, SURVEY §2.3). */
  def toDF: org.apache.spark.sql.DataFrame =
    new read.DeltaScanBuilder(this).buildDF(None)

  /** Validate we can read this table (ref: SnapshotImpl protocol check).
    *
    * Reader 2's single feature is COLUMN MAPPING, and both its modes are
    * in: `name` mode (and trivially `none`) reads through the
    * physical-name machinery that serves our own renamed columns; `id`
    * mode reads resolve parquet columns by the field-id attribute
    * ([[read.GuardedParquetFileFormat]]), which requires every mapped
    * field to actually declare an id. Reader ≥3 features are unknown. */
  def assertReadable(): Unit = {
    val mode = metadata.configuration
      .getOrElse(ColumnMapping.DeltaModeKey, "none")
    if (protocol.minReaderVersion <= 3 && mode == "id") {
      // recursive: nested fields must carry ids too, or their parquet
      // columns would silently resolve by NAME against arbitrary foreign
      // physical names (the Iceberg-convert regime) and misbind
      val missing = ColumnMapping.missingFieldIdPaths(metadata.schema)
      require(missing.isEmpty,
        s"Column mapping mode 'id' but columns ${missing.mkString(", ")} " +
          "declare no delta.columnMapping.id — the table metadata is " +
          "corrupt or from a future protocol")
    }
    // reader 3 = table features: readable exactly when every advertised
    // reader feature is implemented — refusals NAME what is missing
    // (e.g. deletionVectors), not just a version number
    if (protocol.minReaderVersion == 3) {
      val missing = TableFeatures.unsupportedReader(protocol)
      require(missing.isEmpty,
        s"Cannot read: table requires reader table feature(s) " +
          s"${missing.mkString(", ")} this engine does not implement " +
          s"(supported: ${TableFeatures.supportedReader.toSeq.sorted.mkString(", ")})")
    } else require(protocol.minReaderVersion <= 2,
      s"Unsupported reader protocol version ${protocol.minReaderVersion}; " +
        "this engine implements reader 1, reader 2 (column mapping, name " +
        "and id modes) and reader 3 tables whose features it supports")
  }
}

object Snapshot {
  val DriverStateMaxBytesKey = "spark.graft.snapshot.driverStateMaxBytes"
  val DriverStateMaxBytesDefault: Long = 128L * 1024 * 1024

  /** A superseded snapshot's already-computed folds, offered to its
    * successor for incremental replay (see the `baseStates` ctor param). */
  private[delta] case class Folded(
      version: Long, light: Option[State], full: Option[State])

  /** Projection of [[SingleAction]] without the `add` column — reading
    * a checkpoint through this schema skips the AddFile bytes entirely
    * (columnar analogue of the reference's backward P&M scan). */
  private[delta] case class LightAction(
      txn: Option[SetTransaction] = None,
      remove: Option[RemoveFile] = None,
      metaData: Option[Metadata] = None,
      protocol: Option[Protocol] = None,
      domainMetadata: Option[DomainMetadata] = None) {
    def unwrap: Action =
      txn.orElse(remove).orElse(metaData).orElse(protocol)
        .orElse(domainMetadata).orNull
  }

  /** The five state-bearing [[SingleAction]] columns (everything except
    * commitInfo/cdc, which never participate in state reconstruction and
    * whose foreign-written checkpoint types may not match ours). */
  private[delta] case class StateAction(
      txn: Option[SetTransaction] = None,
      add: Option[AddFile] = None,
      remove: Option[RemoveFile] = None,
      metaData: Option[Metadata] = None,
      protocol: Option[Protocol] = None,
      domainMetadata: Option[DomainMetadata] = None) {
    def unwrap: Action =
      txn.orElse(add).orElse(remove).orElse(metaData).orElse(protocol)
        .orElse(domainMetadata).orNull
  }
}
