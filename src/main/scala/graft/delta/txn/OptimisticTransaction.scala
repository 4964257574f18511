package graft.delta.txn

import java.nio.file.FileAlreadyExistsException

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.delta._
import graft.delta.read.PartitionUtils

// ------------------------------------------------------------- exceptions
/** Concurrent-modification exceptions (ref: the 8 exception classes under
  * standalone/src/main/java/io/delta/standalone/exceptions). */
class ConcurrentModificationException(msg: String) extends RuntimeException(msg)
class ConcurrentWriteException(msg: String) extends ConcurrentModificationException(msg)
class ProtocolChangedException(msg: String) extends ConcurrentModificationException(msg)
class MetadataChangedException(msg: String) extends ConcurrentModificationException(msg)
class ConcurrentAppendException(msg: String) extends ConcurrentModificationException(msg)
class ConcurrentDeleteReadException(msg: String) extends ConcurrentModificationException(msg)
class ConcurrentDeleteDeleteException(msg: String) extends ConcurrentModificationException(msg)
class ConcurrentTransactionException(msg: String) extends ConcurrentModificationException(msg)

/** A post-commit hook (symlink-manifest refresh) failed AFTER the commit
  * became durable. Distinct from every commit-path exception so callers can
  * tell "the write is in the table, a side artifact is stale" from "the
  * write did not happen" — catching this and retrying the operation would
  * double-apply it. */
class PostCommitHookException(val version: Long, cause: Throwable)
  extends RuntimeException(
    s"Commit succeeded as version $version but a post-commit hook failed: " +
      s"${cause.getMessage}", cause)

/** Isolation levels (ref isolationLevels.scala:17-25). */
sealed trait IsolationLevel { def name: String }
case object Serializable extends IsolationLevel { val name = "Serializable" }
case object SnapshotIsolation extends IsolationLevel { val name = "SnapshotIsolation" }

/** Optimistic read-check-write transaction (SURVEY §2.2; ref
  * OptimisticTransactionImpl.scala:41-572).
  *
  * State machine: pin a snapshot → record reads (predicates, files,
  * app-ids) → `commit(actions, op)` which prepares the action list, writes
  * `N.json` via the LogStore's atomic put-if-absent, and on collision
  * re-checks conflicts against each winning commit and retries at the next
  * version.
  */
class OptimisticTransaction(
    val deltaLog: DeltaLog,
    val snapshot: Snapshot) {

  def readVersion: Long = snapshot.version

  private var newMetadata: Option[Metadata] = None

  /** The metadata this transaction will commit against: the in-flight
    * update if one was made, else the read snapshot's. */
  def metadata: Metadata = newMetadata.getOrElse(snapshot.metadata)
  private var readTheWholeTable = false
  private val readPredicates = ArrayBuffer.empty[Expression]
  private val readFiles = scala.collection.mutable.HashSet.empty[String]
  private val readTxnIds = scala.collection.mutable.HashSet.empty[String]
  private var committed = false
  /** Lost-race count of the last [[commit]]: how many times the log write
    * hit FileAlreadyExists and re-validated against the winner. Observable
    * so cross-process race tests can PROVE a collision actually happened
    * (a race that never collides proves nothing). */
  @volatile private var retriesObserved = 0
  def commitRetries: Int = retriesObserved
  /** Set when this commit re-adds already-live files without paired
    * removes (row-tracking backfill): the incremental checksum fold
    * would overcount, so the crc is written from the replayed state. */
  private var crcFromState = false
  /** Set when this commit's actions embed a copy of the read snapshot's
    * file list (row-tracking backfill): such a commit must keep
    * Serializable isolation even though every action is dataChange=false,
    * or a concurrent append/remove invalidates the embedded list. */
  private var backfilledWholeTable = false

  // ------------------------------------------------------------ reads (T6)
  /** Record a predicate read; prunes with the partition-only conjuncts and
    * returns the matching files (the residual is conservative: files it
    * would filter are still counted as read). */
  def markFilesAsRead(predicate: Column): Seq[AddFile] = {
    if (readVersion < 0) return Nil
    val resolved = PartitionUtils.resolveFilter(
      deltaLog.spark, snapshot.metadata.schema, predicate)
    val (meta, data) = PartitionUtils.splitMetadataAndDataPredicates(
      resolved, snapshot.metadata.partitionColumns)
    // a data-column conjunct can match rows in ANY file — without per-file
    // stats we must be conservative and treat it as a whole-table read
    if (data.nonEmpty && meta.isEmpty) readTheWholeTable = true
    val matched = snapshot.filesMatching(meta)
    readPredicates ++= meta
    readFiles ++= matched.map(_.path)
    matched
  }

  def readWholeTable(): Unit = readTheWholeTable = true

  /** Record a read of SPECIFIC table files by path, without a predicate
    * and without widening to a whole-table read. The decision the caller
    * derives from those files (FSCK: "this path's bytes are gone") is
    * then invalidated only by a winning commit touching those paths — a
    * winning remove (delete/read), a winning re-add (append check's path
    * clause) — while unrelated concurrent appends commute. */
  def markPathsAsRead(paths: Iterable[String]): Unit = readFiles ++= paths

  /** Replace the pending metadata AFTER [[updateMetadata]] was (possibly)
    * already called — identity high-water marks advance once the write
    * job reports the values it actually produced, which is necessarily
    * later than any schema-evolution metadata update. Re-verified like
    * any metadata change. */
  private[graft] def amendMetadata(metadata: Metadata): Unit = {
    var m = metadata
    if (readVersion == -1) {
      m = if (m.createdTime.isEmpty) m.copy(createdTime = Some(deltaLog.clock())) else m
    } else {
      m = m.copy(id = snapshot.metadata.id)
    }
    verifyNewMetadata(m, allowColumnRemoval = false)
    newMetadata = Some(m)
  }

  /** Streaming idempotence: latest committed version for `appId`; records
    * the read so a concurrent commit of the same appId conflicts. */
  def txnVersion(appId: String): Long = {
    readTxnIds += appId
    if (readVersion < 0) -1L
    else snapshot.transactionVersion(appId).getOrElse(-1L)
  }

  // --------------------------------------------------- metadata update (T7)
  def updateMetadata(metadata: Metadata): Unit =
    updateMetadata(metadata, allowColumnRemoval = false)

  /** `allowColumnRemoval = true` is reserved for explicit DDL (ALTER TABLE
    * DROP COLUMN): writes must never lose columns silently, but a drop the
    * user ASKED for may — the catalog quarantines the dropped physical
    * name so later adds can't resurrect its bytes. */
  private[graft] def updateMetadata(metadata: Metadata,
                                    allowColumnRemoval: Boolean): Unit = {
    require(newMetadata.isEmpty, "Cannot change the metadata more than once in a transaction")
    var m = metadata
    if (readVersion == -1) {
      // brand-new table keeps its generated id
      m = if (m.createdTime.isEmpty) m.copy(createdTime = Some(deltaLog.clock())) else m
    } else {
      m = m.copy(id = snapshot.metadata.id)
    }
    verifyNewMetadata(m, allowColumnRemoval)
    newMetadata = Some(m)
  }

  private def verifyNewMetadata(m: Metadata,
                                allowColumnRemoval: Boolean = false): Unit = {
    val schema = m.schema
    // duplicate column check, case-insensitive (ref SchemaMergingUtils.scala:38-91)
    val names = schema.fields.map(_.name.toLowerCase)
    require(names.distinct.length == names.length,
      s"Found duplicate column(s) in schema: ${names.diff(names.distinct).mkString(", ")}")
    // PHYSICAL names must be distinct too: adding a column named like a
    // renamed column's original name would collide inside the parquet files
    val phys = schema.fields.map(f => ColumnMapping.physicalName(f).toLowerCase)
    require(phys.distinct.length == phys.length,
      s"Physical column name collision: ${phys.diff(phys.distinct).mkString(", ")} " +
        "(a renamed column keeps its original parquet name)")
    // partition columns ⊆ schema and at least one data column
    // (ref SchemaUtils.scala:31-88)
    val fieldNames = schema.fieldNames.toSet
    m.partitionColumns.foreach { pc =>
      require(fieldNames.contains(pc),
        s"Partition column $pc not found in schema ${schema.treeString}")
    }
    require(m.partitionColumns.size < schema.size || schema.isEmpty,
      "Cannot use all columns for partition columns")
    // schema write-compat vs the existing table (ref SchemaUtils.scala:90-145);
    // numOfFiles (an aggregation in distributed mode) — NOT allFiles, which
    // would materialize the whole file list just to test emptiness
    if (readVersion >= 0 && snapshot.metadata.schemaString.isDefined &&
        snapshot.numOfFiles > 0) {
      require(isWriteCompatible(snapshot.metadata.schema, schema, allowColumnRemoval),
        "New schema is not write-compatible with the table's existing schema; " +
          s"existing: ${snapshot.metadata.schema.simpleString}, new: ${schema.simpleString}")
      // a NEW column must never bind to a quarantined (dropped) physical
      // name — old files still hold the deleted bytes, and decoding them
      // under a new column resurrects data the user deleted. The catalog's
      // ADD COLUMNS assigns fresh physical names; any other path (append-
      // time evolution, direct metadata update) is rejected here.
      val quarantined = ColumnMapping.droppedPhysical(m.configuration)
      if (quarantined.nonEmpty) {
        val oldPhys = snapshot.metadata.schema.fields
          .map(ColumnMapping.physicalName).toSet
        schema.fields
          .filterNot(f => oldPhys.contains(ColumnMapping.physicalName(f)))
          .foreach { f =>
            require(!quarantined.contains(ColumnMapping.physicalName(f)),
              s"Column ${f.name} would resurrect dropped physical column " +
                s"${ColumnMapping.physicalName(f)} from old files; re-add " +
                "it through ALTER TABLE ADD COLUMNS (fresh physical name)")
          }
      }
      // a DROPPED column must not be referenced by surviving CHECK
      // constraints or generation expressions (they would dangle and fail
      // every future write) — drop the constraint / generated column first
      if (allowColumnRemoval) {
        val kept = schema.fieldNames.toSet
        val dropped = snapshot.metadata.schema.fieldNames.filterNot(kept)
        if (dropped.nonEmpty) {
          val exprs =
            m.configuration.collect {
              case (k, v) if k.startsWith("delta.constraints.") =>
                s"constraint ${k.stripPrefix("delta.constraints.")}" -> v
            } ++
            schema.fields.collect {
              case f if f.metadata.contains("delta.generationExpression") =>
                s"generated column ${f.name}" ->
                  f.metadata.getString("delta.generationExpression")
            }
          dropped.foreach { c =>
            val pat = ("(?i)\\b" + java.util.regex.Pattern.quote(c) + "\\b").r
            exprs.foreach { case (what, e) =>
              // string literals can't reference columns — strip them so
              // 'yyyy-MM-dd' doesn't falsely block dropping a column mm
              val noLiterals = e.replaceAll("'[^']*'", " ")
              require(pat.findFirstIn(noLiterals).isEmpty,
                s"Cannot drop column $c: referenced by $what ($e)")
            }
          }
        }
      }
    }
  }

  /** New schema must keep every existing column with the same type; it may
    * add nullable columns, relax nullability, RENAME a column (identity is
    * the PHYSICAL name, [[ColumnMapping]]), or add nullable NESTED fields
    * to a struct (ref SchemaUtils.isWriteCompatible). */
  private[delta] def isWriteCompatible(
      existing: org.apache.spark.sql.types.StructType,
      newSchema: org.apache.spark.sql.types.StructType,
      allowColumnRemoval: Boolean = false): Boolean = {
    // top-level identity = physical name, so a metadata-only rename keeps
    // "the same column"; nested fields have no mapping (no nested renames)
    val newByPhys = newSchema.fields.map(f => ColumnMapping.physicalName(f) -> f).toMap
    existing.fields.forall { old =>
      newByPhys.get(ColumnMapping.physicalName(old)) match {
        case None => allowColumnRemoval // DDL drop only, never a write
        case Some(nf) =>
          // a type change is legal exactly when it is a protocol widening
          // the new field's delta.typeChanges metadata DECLARES — an
          // undeclared change (accidental evolution) stays an error
          (compatibleType(old.dataType, nf.dataType) ||
            TypeWidening.declaredWidening(old.dataType, nf)) &&
            (!old.nullable || nf.nullable)
      }
    } && newSchema.fields.forall { nf =>
      existing.fields.exists(of =>
        ColumnMapping.physicalName(of) == ColumnMapping.physicalName(nf)) || nf.nullable
    }
  }

  /** Types are compatible when equal, or when both are structs and the new
    * struct keeps every old field (recursively compatible, nullability
    * only relaxing) while any NEW nested field is nullable — old files
    * decode it as null. */
  private def compatibleType(
      oldT: org.apache.spark.sql.types.DataType,
      newT: org.apache.spark.sql.types.DataType): Boolean = (oldT, newT) match {
    case (o: org.apache.spark.sql.types.StructType,
          n: org.apache.spark.sql.types.StructType) =>
      val nByName = n.fields.map(f => f.name -> f).toMap
      o.fields.forall { of =>
        nByName.get(of.name).exists(nf =>
          compatibleType(of.dataType, nf.dataType) && (!of.nullable || nf.nullable))
      } && {
        val oldNames = o.fieldNames.toSet
        n.fields.filterNot(f => oldNames.contains(f.name)).forall(_.nullable)
      }
    case (o, n) => o == n
  }

  // ------------------------------------------------------------ commit (T2)
  /** `operationParameters` are the operation's INPUTS (predicate, mode,
    * partitionBy, …) as DESCRIBE HISTORY renders them; values are
    * JSON-encoded per the protocol (strings quoted, lists as arrays —
    * delta-spark's own convention). `operationMetrics` are its OUTPUTS
    * (file/byte/row counts), names from the reference's
    * Operation.java:110-338 vocabulary. */
  def commit(actions: Seq[Action], op: String,
             engineInfo: String = "graft-spark/0.1.0",
             operationMetrics: Map[String, String] = Map.empty,
             operationParameters: Map[String, Any] = Map.empty): Long = {
    require(!committed, "Transaction already committed")
    // writer-protocol gate: refuse to write a table requiring features
    // this engine does not implement (v3 = CHECK constraints, v4 = CDF +
    // generated columns, v5 = column mapping — all implemented here; the
    // write path substitutes physical names from Metadata.columnMapping)
    if (readVersion >= 0) {
      val p = snapshot.protocol
      if (p.minWriterVersion == 7) {
        // writer 7 = table features: writable exactly when every
        // advertised writer feature is implemented; the refusal names
        // the missing feature (e.g. deletionVectors) so the user knows
        // WHAT the table needs, not just a version number
        val missing = TableFeatures.unsupportedWriter(p)
        require(missing.isEmpty, {
          val tolerated = missing.filter(TableFeatures.readToleratedWriter)
          s"Cannot write: table requires writer table feature(s) " +
            s"${missing.mkString(", ")} this engine does not implement" +
            (if (tolerated.isEmpty) "" else
              s" (${tolerated.mkString(", ")}: the writer must maintain " +
                "mirrored Iceberg metadata; the table remains READABLE here)")
        })
      } else require(p.minWriterVersion <= 6,
        s"Cannot write: table requires writer protocol ${p.minWriterVersion}; " +
          "this engine implements up to 6 and writer-7 tables whose " +
          "features it supports")
    }
    // extract a Metadata action if the caller passed one inline
    val metadataActions = actions.collect { case m: Metadata => m }
    require(metadataActions.size <= 1, "Cannot commit multiple Metadata actions")
    metadataActions.headOption.foreach(updateMetadata)
    var finalActions: Seq[Action] =
      actions.filterNot(_.isInstanceOf[Metadata]) ++ newMetadata.toSeq

    finalActions = prepareCommit(finalActions)

    // Domain metadata (PROTOCOL.md, writer feature domainMetadata): a
    // commit carrying DomainMetadata actions auto-upgrades the writer
    // protocol with the feature (reader side untouched — domains don't
    // change how data reads)
    if (finalActions.exists(_.isInstanceOf[DomainMetadata])) {
      val current = finalActions.collectFirst { case p: Protocol => p }
        .orElse(if (readVersion >= 0) Some(snapshot.protocol) else None)
        .getOrElse(Protocol())
      val hasFeature = current.minWriterVersion == 7 &&
        current.writerFeatures.exists(_.contains("domainMetadata"))
      if (!hasFeature) {
        val upgraded = TableFeatures.upgradedWithWriter(
          current, Seq("domainMetadata"))
        finalActions =
          if (finalActions.exists(_.isInstanceOf[Protocol]))
            finalActions.map { case _: Protocol => upgraded; case a => a }
          else upgraded +: finalActions
      }
    }

    // In-commit timestamps (PROTOCOL.md, writer feature inCommitTimestamp):
    // when `delta.enableInCommitTimestamps` holds for THIS commit's
    // metadata, its CommitInfo carries a monotonic timestamp — computed
    // per retry attempt so a lost race still lands strictly after the
    // winner. Enabling the property on an existing table stamps the
    // enablement version/timestamp into the same Metadata action and
    // carries the writer feature in the protocol.
    val ictEnabled =
      DeltaConfigs.ENABLE_IN_COMMIT_TIMESTAMPS.fromMetadata(metadata)
    val ictNewlyEnabled = ictEnabled && readVersion >= 0 &&
      !DeltaConfigs.ENABLE_IN_COMMIT_TIMESTAMPS.fromMetadata(snapshot.metadata)
    if (ictEnabled) {
      finalActions = withWriterFeatures(finalActions,
        Seq("inCommitTimestamp"))
    }

    // Row tracking (PROTOCOL.md, writer feature rowTracking): when the
    // table enables `delta.enableRowTracking` — or its protocol already
    // carries the feature, which obliges every writer to keep assigning —
    // each AddFile reserves [baseRowId, baseRowId + numRecords) from the
    // delta.rowTracking domain's high-water mark. Assignment runs per
    // retry attempt (like the ICT floor) so a lost race reassigns past
    // the winner's reservations instead of aborting either writer.
    val rtConfigOn = DeltaConfigs.ENABLE_ROW_TRACKING.fromMetadata(metadata)
    val rowTrackingOn = rtConfigOn || {
      val p = finalActions.collectFirst { case p: Protocol => p }
        .orElse(if (readVersion >= 0) Some(snapshot.protocol) else None)
      p.exists(pp => pp.minWriterVersion == 7 &&
        pp.writerFeatures.exists(_.contains("rowTracking")))
    }
    if (rowTrackingOn) {
      finalActions = withWriterFeatures(finalActions,
        Seq("rowTracking", "domainMetadata"))
      // enabling on a table with history: backfill — re-commit the active
      // files that lack a row-id range (dataChange=false) so every live
      // row gets an id in the SAME commit that enables the feature
      if (rtConfigOn && readVersion >= 0 &&
          !DeltaConfigs.ENABLE_ROW_TRACKING.fromMetadata(snapshot.metadata)) {
        val committedPaths =
          finalActions.collect { case a: AddFile => a.path }.toSet
        val backfill = snapshot.allFiles
          .filter(a => a.baseRowId.isEmpty && !committedPaths(a.path))
          .map(_.copy(dataChange = false))
        finalActions = finalActions ++ backfill
        // these re-adds REPLACE live entries (newest-wins replay), so the
        // incremental crc fold would overcount numFiles — this commit's
        // checksum must come from the replayed state instead
        if (backfill.nonEmpty) {
          crcFromState = true
          // the backfill list is a function of the ENTIRE read snapshot:
          // a concurrent append's files would silently escape backfill
          // (live rows without ids) and a concurrent remove's files would
          // be resurrected by our re-add. Register a whole-table read and
          // refuse the SnapshotIsolation downgrade below so a lost race
          // fails the concurrent-append / deleted-file-read checks loudly
          // instead of committing either wrong state.
          readWholeTable()
          backfilledWholeTable = true
        }
      }
    }

    // Coordinated commits: declaring a commit coordinator obliges the
    // writer feature — auto-declared with the enabling commit (which
    // itself still goes through the OLD store; the coordinator takes
    // over from the next commit, the delta-spark handover)
    if (DeltaConfigs.commitCoordinatorName(metadata).isDefined) {
      finalActions = withWriterFeatures(finalActions,
        Seq("coordinatedCommits"))
    }

    // Column defaults (PROTOCOL.md "Default Columns"): any column
    // declaring a CURRENT_DEFAULT obliges the allowColumnDefaults writer
    // feature — auto-declared on first use, the delta-spark behavior
    if (TableFeatures.containsColumnDefaults(metadata.schema)) {
      finalActions = withWriterFeatures(finalActions,
        Seq("allowColumnDefaults"))
    }

    // Variant columns (PROTOCOL.md "Variant Data Type"): a schema carrying
    // VARIANT obliges the variantType feature on BOTH protocol sides —
    // Spark's parquet reader/writer handle the physical representation
    // natively, so the feature is a declaration foreign engines key on.
    // TIMESTAMP_NTZ is the same shape (PROTOCOL.md "Timestamp without
    // timezone"): reader+writer feature obliged by the schema alone.
    def withReaderWriterFeature(feature: String, aliases: Set[String]): Unit = {
      val current = finalActions.collectFirst { case p: Protocol => p }
        .orElse(if (readVersion >= 0) Some(snapshot.protocol) else None)
        .getOrElse(Protocol())
      val hasFeature = current.minReaderVersion == 3 &&
        current.minWriterVersion == 7 &&
        current.readerFeatures.exists(_.exists(aliases)) &&
        current.writerFeatures.exists(_.exists(aliases))
      if (!hasFeature) {
        val upgraded = TableFeatures.upgradedWith(
          current, Seq(feature), Seq(feature))
        finalActions =
          if (finalActions.exists(_.isInstanceOf[Protocol]))
            finalActions.map { case _: Protocol => upgraded; case a => a }
          else upgraded +: finalActions
      }
    }
    if (TableFeatures.containsVariant(metadata.schema)) {
      withReaderWriterFeature("variantType",
        Set("variantType", "variantType-preview"))
    }
    if (TableFeatures.containsTimestampNtz(metadata.schema)) {
      withReaderWriterFeature("timestampNtz", Set("timestampNtz"))
    }
    // a v2 checkpoint policy obliges the reader+writer feature — a
    // foreign reader must know the uuid-named checkpoint form is in play
    if (DeltaConfigs.CHECKPOINT_POLICY.fromMetadata(metadata) == "v2") {
      withReaderWriterFeature("v2Checkpoint", Set("v2Checkpoint"))
    }

    // Features-form conformance: a writer-7 protocol must LIST every
    // metadata-obliged legacy feature — a foreign writer keys enforcement
    // (constraints, CDF, generation) off the list, not off the metadata.
    // Legacy-version protocols imply them by version, so this only
    // applies once a table is at writer 7.
    {
      val current = finalActions.collectFirst { case p: Protocol => p }
        .orElse(if (readVersion >= 0) Some(snapshot.protocol) else None)
      if (current.exists(_.minWriterVersion == 7)) {
        val obliged = Seq(
          "checkConstraints" ->
            graft.delta.write.Invariants.constraints(metadata).nonEmpty,
          "changeDataFeed" ->
            DeltaConfigs.ENABLE_CHANGE_DATA_FEED.fromMetadata(metadata),
          "generatedColumns" ->
            graft.delta.write.GeneratedColumns.expressions(metadata.schema).nonEmpty,
          "identityColumns" -> metadata.schema.fields.exists(
            _.metadata.contains(graft.delta.write.IdentityColumns.StartKey)),
          "appendOnly" -> DeltaConfigs.IS_APPEND_ONLY.fromMetadata(metadata)
        ).collect { case (f, true) => f }
        if (obliged.nonEmpty)
          finalActions = withWriterFeatures(finalActions, obliged)
      }
    }

    val isBlindAppend = {
      val onlyAdds = finalActions.collect { case f: FileAction => f }
        .forall(_.isInstanceOf[AddFile])
      onlyAdds && !readTheWholeTable && readPredicates.isEmpty
    }
    // SnapshotIsolation suffices iff the commit changes no data
    // (ref OptimisticTransactionImpl.scala:115-123); a row-tracking
    // backfill is the exception — its dataChange=false re-adds DEPEND on
    // the read file list, so it must see concurrent appends/removes
    val noDataChanged = finalActions.collect { case f: FileAction => f }
      .forall(!_.dataChange)
    val isolation: IsolationLevel =
      if (noDataChanged && !backfilledWholeTable) SnapshotIsolation
      else Serializable

    val commitInfo = CommitInfo(
      timestamp = Some(deltaLog.clock()),
      operation = Some(op),
      readVersion = Some(readVersion).filter(_ >= 0),
      isolationLevel = Some(isolation.name),
      isBlindAppend = Some(isBlindAppend),
      // delta-spark's rendering convention (see the golden logs'
      // commitInfo): STRING values verbatim, structured/numeric values
      // JSON-encoded ("mode":"Append" but "partitionBy":"[\"day\"]")
      operationParameters = Some(operationParameters.map { case (k, v) =>
        k -> (v match {
          case s: String => s
          case other => JsonCodec.mapper.writeValueAsString(other)
        })
      }).filter(_.nonEmpty),
      operationMetrics = Some(operationMetrics).filter(_.nonEmpty),
      engineInfo = Some(engineInfo))

    val actionsAtIct: (Long, Long) => Seq[Action] =
      if (!ictEnabled) { (_, _) => commitInfo +: finalActions }
      else { (attemptVersion, ict) =>
        val stamped =
          if (!ictNewlyEnabled) finalActions
          else finalActions.map {
            case m: Metadata => m.copy(configuration = m.configuration ++ Map(
              DeltaConfigs.IctEnablementVersionKey -> attemptVersion.toString,
              DeltaConfigs.IctEnablementTimestampKey -> ict.toString))
            case a => a
          }
        commitInfo.copy(inCommitTimestamp = Some(ict)) +: stamped
      }
    // type-widening ALTERs record the change with a pending tableVersion:
    // stamp the ACTUAL attempt version (a lost race must not record a
    // version where the ALTER did not happen)
    val actionsAtTw: (Long, Long) => Seq[Action] = (v, ict) =>
      actionsAtIct(v, ict).map {
        case m: Metadata => TypeWidening.stampPending(m, v)
        case a => a
      }
    val actionsAt: (Long, Long, Long) => Seq[Action] =
      if (!rowTrackingOn) { (v, ict, _) => actionsAtTw(v, ict) }
      else { (attemptVersion, ict, rowFloor) =>
        val (stamped, hwm) = RowTracking.assign(
          actionsAtTw(attemptVersion, ict), attemptVersion, rowFloor)
        if (hwm == rowFloor) stamped
        else stamped :+ DomainMetadata(
          RowTracking.Domain, RowTracking.renderHwm(hwm), removed = false)
      }
    val version =
      try graft.tools.PhaseTimers.time("commit.log") {
        doCommitRetryIteratively(commitInfo +: finalActions, isolation,
          actionsAt)
      }
      catch {
        // the marker type means the commit IS durable: the transaction
        // must still flip to committed (a re-commit on this txn object
        // would double-apply) before the failure surfaces
        case t: PostCommitHookException => committed = true; throw t
      }
    committed = true
    graft.tools.PhaseTimers.time("commit.post") {
      postCommit(version, finalActions)
    }
    version
  }

  /** The feature auto-upgrade every metadata-driven writer feature
    * shares: ensure the commit's protocol (the staged Protocol action if
    * any, else the table's, else a fresh one) CARRIES `features`,
    * replacing or prepending the Protocol action when it does not. */
  private def withWriterFeatures(actions: Seq[Action],
                                 features: Seq[String]): Seq[Action] = {
    val current = actions.collectFirst { case p: Protocol => p }
      .orElse(if (readVersion >= 0) Some(snapshot.protocol) else None)
      .getOrElse(Protocol())
    val has = current.minWriterVersion == 7 &&
      current.writerFeatures.exists(fs => features.forall(fs.contains))
    if (has) actions
    else {
      val upgraded = TableFeatures.upgradedWithWriter(current, features)
      if (actions.exists(_.isInstanceOf[Protocol]))
        actions.map { case _: Protocol => upgraded; case a => a }
      else upgraded +: actions
    }
  }

  /** First-commit Protocol/Metadata injection, path relativization,
    * partition-column consistency, append-only enforcement
    * (ref OptimisticTransactionImpl.scala:242-310). */
  private def prepareCommit(actions: Seq[Action]): Seq[Action] = {
    var finalActions = actions
    if (readVersion == -1) {
      require(newMetadata.isDefined,
        "A table's first commit must contain Metadata (use updateMetadata)")
      if (!finalActions.exists(_.isInstanceOf[Protocol])) {
        finalActions = Protocol() +: finalActions
      }
    }
    val partCols = newMetadata.map(_.partitionColumns)
      .getOrElse(if (readVersion >= 0) snapshot.metadata.partitionColumns else Nil)
    val appendOnly =
      if (readVersion >= 0) deltaLog.isAppendOnly
      else newMetadata.exists(DeltaConfigs.IS_APPEND_ONLY.fromMetadata)

    finalActions.map {
      case a: AddFile =>
        require(a.partitionValues.keySet == partCols.toSet,
          s"AddFile ${a.path} has partition values ${a.partitionValues.keySet} " +
            s"but the table partitions by $partCols")
        a.copy(path = relativize(a.path))
      case r: RemoveFile =>
        if (r.dataChange && appendOnly) {
          throw new UnsupportedOperationException(
            "This table is append-only (delta.appendOnly=true); deletes are not allowed")
        }
        r.copy(path = relativize(r.path))
      case p: Protocol =>
        // legacy versions up to (2, 6), or features protocols whose
        // advertised features are all implemented (e.g. CLONE of a
        // supported reader-3/writer-7 table re-commits its protocol)
        val rOk = p.minReaderVersion <= 2 ||
          (p.minReaderVersion == 3 && TableFeatures.unsupportedReader(p).isEmpty)
        val wOk = p.minWriterVersion <= 6 ||
          (p.minWriterVersion == 7 && TableFeatures.unsupportedWriter(p).isEmpty)
        require(rOk && wOk,
          s"Unsupported protocol $p; this engine implements up to (2, 6) " +
            "and features protocols it fully supports")
        p
      case other => other
    }
  }

  /** T12: store paths relative to the table root when they live under it. */
  private def relativize(path: String): String = {
    val p = new Path(path)
    if (!p.isAbsolute) return path
    val base = deltaLog.dataPath.toUri.getPath
    val child = p.toUri.getPath
    if (child.startsWith(base + "/")) child.stripPrefix(base + "/") else path
  }

  /** T3: write-or-retry loop under the per-JVM lock; cross-process mutual
    * exclusion is the LogStore's atomic rename. `checkActions` feeds the
    * conflict checks (its CommitInfo/Metadata stamps are irrelevant
    * there); `actionsAt(attemptVersion, ict)` produces the actual lines —
    * the ICT floor ratchets past every winning commit so in-commit
    * timestamps stay strictly monotonic under races. */
  private def doCommitRetryIteratively(
      checkActions: Seq[Action],
      isolation: IsolationLevel,
      actionsAt: (Long, Long, Long) => Seq[Action]): Long = {
    var attemptVersion = readVersion + 1
    var ictFloor =
      if (readVersion < 0) 0L
      else snapshot.inCommitTimestampOpt
        .getOrElse(snapshot.logSegment.lastCommitTimestamp)
    // row-id floor: ratchets past every winning racer's reservations so
    // retried assignments never overlap a winner's ranges
    var rowFloor =
      if (readVersion < 0) -1L
      else RowTracking.highWaterMark(snapshot.domainMetadata)
    val maxRetries = 10000000
    var attempts = 0
    deltaLog.deltaLogLock.synchronized {
      while (attempts < maxRetries) {
        try {
          val ict = math.max(deltaLog.clock(), ictFloor + 1)
          val written = actionsAt(attemptVersion, ict, rowFloor)
          deltaLog.store.write(
            FileNames.deltaFile(deltaLog.logPath, attemptVersion),
            written.map(a => JsonCodec.toJson(a)).iterator,
            overwrite = false, deltaLog.hadoopConf)
          // DURABILITY POINT: the commit exists from here on. A failure
          // in the snapshot refresh below (e.g. a transient listing
          // error, or the opt-in checksum validation gate inside
          // update()) must NOT escape as a generic exception — the
          // caller would retry a commit that already won, and a blind
          // append retried past its own FileAlreadyExists collision
          // double-applies. Same post-durability marker as postCommit.
          try {
            val updated = deltaLog.update()
            if (crcFromState) Checksums.writeFromState(updated)
            else Checksums.writeAfterCommit(deltaLog, attemptVersion, written)
          } catch {
            case scala.util.control.NonFatal(t) =>
              throw new PostCommitHookException(attemptVersion, t)
          }
          return attemptVersion
        } catch {
          case _: FileAlreadyExistsException |
               _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            val (latest, winnerIct, winnerHwm) =
              checkForConflicts(attemptVersion, checkActions, isolation)
            attemptVersion = latest + 1
            ictFloor = math.max(ictFloor, winnerIct)
            rowFloor = math.max(rowFloor, winnerHwm)
            attempts += 1
            retriesObserved = attempts
        }
      }
    }
    throw new ConcurrentWriteException(
      s"Commit failed after $maxRetries attempts at ${deltaLog.dataPath}")
  }

  /** T4: validate our intent against every commit that won the race;
    * returns the latest winning version (we retry right after it), the
    * largest inCommitTimestamp any winner recorded (0 when none), and the
    * largest row-id any winner reserved (-1 when none — from its
    * delta.rowTracking domain update, defensively maxed with its adds'
    * declared ranges in case a writer skipped the domain). */
  private def checkForConflicts(attemptVersion: Long, actions: Seq[Action],
                                isolation: IsolationLevel): (Long, Long, Long) = {
    // STREAM each winning commit through a per-version checker — a retry
    // racing a 500k-add CONVERT/backfill commit must not pin the whole
    // winner on the driver (the recurring tail-walker materialization
    // shape; the checker folds actions into bounded conflict state)
    val files = deltaLog.listChangeFiles(attemptVersion)
    require(files.nonEmpty,
      s"Commit $attemptVersion collided but no winning commit is readable")
    var winnerIct = 0L
    var winnerHwm = -1L
    var lastVersion = attemptVersion
    files.foreach { fstat =>
      val v = FileNames.deltaVersion(fstat.getPath)
      lastVersion = v
      val checker = new ConflictChecker(this, Nil, v, isolation, actions)
      deltaLog.streamCommitActions(fstat.getPath) { it =>
        it.foreach { a =>
          checker.observe(a)
          a match {
            case ci: CommitInfo =>
              winnerIct = math.max(winnerIct, ci.inCommitTimestamp.getOrElse(0L))
            case d: DomainMetadata
                if d.domain == RowTracking.Domain && !d.removed =>
              winnerHwm =
                math.max(winnerHwm, RowTracking.parseHwm(d.configuration))
            case ad: AddFile if ad.baseRowId.isDefined =>
              winnerHwm = math.max(winnerHwm, ad.baseRowId.get +
                math.max(RowTracking.numRecordsOpt(ad).getOrElse(1L), 1L) - 1L)
            case _ =>
          }
        }
      }
      checker.finish()
    }
    (lastVersion, winnerIct, winnerHwm)
  }

  /** Checkpoint cadence + log cleanup (ref :393-405, Checkpoints.scala:122-135). */
  private def postCommit(version: Long, actions: Seq[Action]): Unit = {
    // symlink-manifest auto-update (delta-spark's post-commit hook): a
    // data-changing commit on an opted-in table refreshes ONLY the
    // manifests of the partitions it touched. The commit is already
    // durable — a hook failure (e.g. the table acquired deletion
    // vectors) must neither read as a failed commit nor starve the
    // checkpoint-cadence block below, so it is captured here and
    // rethrown as a typed [[PostCommitHookException]] only after
    // checkpointing and log cleanup have run.
    val hookFailure: Option[Throwable] =
      if (metadata.configuration.get(SymlinkManifest.AutoUpdateKey)
            .contains("true") &&
          actions.exists(a =>
            a.isInstanceOf[AddFile] || a.isInstanceOf[RemoveFile])) {
        try { SymlinkManifest.updateIncremental(deltaLog.spark, deltaLog, actions); None }
        catch { case scala.util.control.NonFatal(t) => Some(t) }
      } else None
    // if checkpointing/cleanup ALSO fails, neither signal may be lost:
    // the checkpoint error propagates (it is the later, still-actionable
    // failure) with the hook failure attached as suppressed — but ALWAYS
    // behind the post-durability marker type: the commit IS durable at
    // this point, and a raw exception would be indistinguishable from a
    // failed commit, inviting a caller retry that double-applies the
    // write (delta-spark instead logs checkpoint failures and continues;
    // we surface them, typed, so callers can choose)
    // minor log compaction (opt-in cadence): purely an optimization —
    // a failure here (including an invalid stored interval on a foreign
    // table) must neither fail the durable commit nor block the
    // checkpoint block below, so the WHOLE block is best-effort
    try {
      val compactionInterval =
        DeltaConfigs.LOG_COMPACTION_INTERVAL.fromMetadata(metadata)
      if (compactionInterval > 0 && version >= compactionInterval &&
          version % compactionInterval == 0) {
        deltaLog.compactLog(version - compactionInterval + 1, version)
      }
    } catch { case scala.util.control.NonFatal(t) =>
      System.err.println(
        s"graft: minor log compaction at $version failed (ignored): $t")
    }
    try {
      if (version != 0 && version % deltaLog.checkpointInterval == 0) {
        val snap = deltaLog.update()
        val parts = DeltaConfigs.CHECKPOINT_PARTS.fromMetadata(deltaLog.metadata)
        Checkpoints.writeCheckpoint(snap, parts)
        // re-seed the checksum chain from the totals the checkpoint just
        // computed (heals gaps left by foreign commits without crc)
        Checksums.writeFromState(snap)
        if (deltaLog.enableExpiredLogCleanup) deltaLog.cleanUpExpiredLogs()
      }
    } catch {
      case scala.util.control.NonFatal(t) =>
        hookFailure.foreach(t.addSuppressed)
        throw new PostCommitHookException(version, t)
    }
    hookFailure.foreach(t => throw new PostCommitHookException(version, t))
  }

  // exposed to ConflictChecker
  private[txn] def readPredicatesSnapshot: Seq[Expression] = readPredicates.toSeq
  private[txn] def readFilePaths: Set[String] = readFiles.toSet
  private[txn] def readTxnIdsSnapshot: Set[String] = readTxnIds.toSet
  private[txn] def readWholeTableFlag: Boolean = readTheWholeTable
}

/** The six conflict checks, run against one winning commit
  * (ref ConflictChecker.scala:78-232) — as a STREAMING observer: feed
  * every winning action through [[observe]], then [[finish]] throws in
  * the same precedence order the batch [[check]] always had. The
  * observer folds actions into BOUNDED state (flags, <=3 example paths,
  * small id/domain sets, and a capped predicate-evaluation batch), so a
  * retry against a 500k-add backfill commit never pins the winner's
  * action list on the driver. `winningActions` is the batch
  * convenience: [[check]] streams it through the observer (the conflict
  * fuzz oracle's entry point); the commit path passes Nil and drives
  * [[observe]] straight off the commit-file line stream. */
class ConflictChecker(
    txn: OptimisticTransaction,
    winningActions: Seq[Action],
    winningVersion: Long,
    isolation: IsolationLevel,
    ourActions: Seq[Action]) {

  def check(): Unit = {
    winningActions.foreach(observe)
    finish()
  }

  // ---- bounded fold state ----
  private var protocolChanged = false
  private var metadataChanged = false
  private var sawAnyAdd = false
  private var removedAny = false
  private val removedExamples = scala.collection.mutable.ArrayBuffer.empty[String]
  private val readRemoveHits = scala.collection.mutable.ArrayBuffer.empty[String]
  private val deleteDeleteHits = scala.collection.mutable.ArrayBuffer.empty[String]
  private val appendExamples = scala.collection.mutable.ArrayBuffer.empty[String]
  private var appendHit = false
  private val txnHits = scala.collection.mutable.LinkedHashSet.empty[String]
  private val domainHits = scala.collection.mutable.LinkedHashSet.empty[String]

  private val ourRemovePaths =
    ourActions.collect { case r: RemoveFile => r.path }.toSet
  // txn.readFilePaths is a def that rebuilds the Set on every call;
  // observe() consults it once per winning RemoveFile and flushAddBatch
  // once per AddFile, so at 500k-action winning commits the rebuild is
  // O(winningActions x readFiles) — cache it once per check
  private val txnReadFilePaths = txn.readFilePaths
  private val ourTxnAppIds =
    ourActions.collect { case t: SetTransaction => t.appId }.toSet ++
      txn.readTxnIdsSnapshot
  private val ourDomains =
    ourActions.collect { case d: DomainMetadata => d.domain }.toSet

  // appends are predicate-checked in bounded batches: expression binding
  // amortizes across the batch while memory stays capped
  private val AddBatchSize = 10000
  private val addBatch = scala.collection.mutable.ArrayBuffer.empty[AddFile]
  private lazy val partitionSchema =
    if (txn.readVersion >= 0) txn.snapshot.metadata.partitionSchema
    else new org.apache.spark.sql.types.StructType()

  private def appendCheckRelevant: Boolean =
    isolation != SnapshotIsolation &&
      (txn.readWholeTableFlag || txn.readPredicatesSnapshot.nonEmpty ||
        txnReadFilePaths.nonEmpty)

  private def flushAddBatch(): Unit = {
    if (addBatch.isEmpty) return
    val matched =
      if (txn.readWholeTableFlag) addBatch.toSeq
      else txn.readPredicatesSnapshot.flatMap(p =>
        PartitionUtils.filterFileList(partitionSchema, addBatch.toSeq, Seq(p))) ++
        // a winning ADD of a path this txn read BY PATH (FSCK's missing
        // set, a DML rewrite set) re-creates a table entry the txn's
        // decision assumed settled — same invalidation as a predicate
        // match, caught by path equality since paths are table-unique
        addBatch.filter(a => txnReadFilePaths.contains(a.path))
    if (matched.nonEmpty) {
      appendHit = true
      matched.iterator.take(3 - appendExamples.size)
        .foreach(a => appendExamples += a.path)
    }
    addBatch.clear()
  }

  def observe(a: Action): Unit = a match {
    case _: Protocol => protocolChanged = true
    case _: Metadata => metadataChanged = true
    case ad: AddFile =>
      sawAnyAdd = true
      if (appendCheckRelevant && (!appendHit || appendExamples.size < 3)) {
        addBatch += ad
        if (addBatch.size >= AddBatchSize) flushAddBatch()
      }
    case r: RemoveFile =>
      removedAny = true
      if (removedExamples.size < 3) removedExamples += r.path
      if (txnReadFilePaths.contains(r.path) && readRemoveHits.size < 3) {
        readRemoveHits += r.path
      }
      if (ourRemovePaths.contains(r.path) && deleteDeleteHits.size < 3) {
        deleteDeleteHits += r.path
      }
    case t: SetTransaction =>
      if (ourTxnAppIds.contains(t.appId)) txnHits += t.appId
    case d: DomainMetadata =>
      if (ourDomains.contains(d.domain)) domainHits += d.domain
    case _ =>
  }

  /** Throw (or pass) with the same precedence the sequential checks had:
    * protocol, metadata, appends, deleted-read, delete-delete, txn ids,
    * domains. */
  def finish(): Unit = {
    flushAddBatch()
    if (protocolChanged) {
      throw new ProtocolChangedException(
        s"Protocol changed by concurrent commit $winningVersion")
    }
    if (metadataChanged) {
      throw new MetadataChangedException(
        s"Table metadata changed by concurrent commit $winningVersion")
    }
    // appends conflict when they match something we read — skipped under
    // SnapshotIsolation (no data change in our commit;
    // ref ConflictChecker.scala:151-156)
    if (isolation != SnapshotIsolation && sawAnyAdd && appendHit) {
      throw new ConcurrentAppendException(
        s"Files added by concurrent commit $winningVersion match this " +
          s"transaction's read predicates: ${appendExamples.mkString(", ")}")
    }
    if (readRemoveHits.nonEmpty || (txn.readWholeTableFlag && removedAny)) {
      val ex =
        if (readRemoveHits.nonEmpty) readRemoveHits else removedExamples
      throw new ConcurrentDeleteReadException(
        s"Files read by this transaction were deleted by concurrent commit " +
          s"$winningVersion: ${ex.take(3).mkString(", ")}")
    }
    if (deleteDeleteHits.nonEmpty) {
      throw new ConcurrentDeleteDeleteException(
        s"Files deleted in both this transaction and concurrent commit " +
          s"$winningVersion: ${deleteDeleteHits.take(3).mkString(", ")}")
    }
    if (txnHits.nonEmpty) {
      throw new ConcurrentTransactionException(
        s"Concurrent commit $winningVersion committed for the same " +
          s"application id(s): ${txnHits.mkString(", ")}")
    }
    // two transactions changing the SAME metadata domain cannot both
    // win: domain state is last-writer-wins per domain, so a silent
    // overwrite would drop the winner's change (e.g. two OPTIMIZEs
    // updating the clustering domain). Disjoint domains commute.
    if (domainHits.nonEmpty) {
      throw new ConcurrentWriteException(
        s"Metadata domain(s) ${domainHits.mkString(", ")} changed by both " +
          s"this transaction and concurrent commit $winningVersion")
    }
  }
}
