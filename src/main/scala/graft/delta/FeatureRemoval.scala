package graft.delta

import org.apache.spark.sql.SparkSession

/** `ALTER TABLE … DROP FEATURE` — protocol DOWNGRADE (PROTOCOL.md
  * "Table Features"; delta-spark `AlterTableDropFeatureDeltaCommand`).
  *
  * Dropping is the inverse of the auto-upgrade the writers apply: legal
  * only when the LATEST state carries no trace of the feature (no shaded
  * files for deletionVectors, no VARIANT column for variantType, …), so
  * current readers lose nothing. HISTORY may still carry traces — time
  * travel below the downgrade version still needs the feature — which is
  * exactly what the `checkpointProtection` feature exists for: dropping a
  * READER feature adds it, records
  * `delta.requireCheckpointProtectionBeforeVersion = <downgrade version>`
  * and writes a checkpoint AT the downgrade version, so log cleanup can
  * only ever remove the pre-downgrade prefix all-at-once against that
  * checkpoint ([[DeltaLog.cleanUpExpiredLogs]]).
  *
  * `TRUNCATE HISTORY` deletes the pre-downgrade log prefix immediately
  * (the boundary checkpoint serves every surviving version) — the form
  * that also permits dropping `checkpointProtection` itself.
  *
  * The downgrade commits a Metadata action (feature table properties
  * removed) — concurrent writers conflict on the metadata change, so the
  * recorded boundary version cannot be raced stale.
  */
object FeatureRemoval {

  /** Features whose bytes/actions an old READER must understand — their
    * drop adds checkpointProtection and protects the prefix. */
  private val readerAffecting = Set(
    "deletionVectors", "v2Checkpoint", "columnMapping", "timestampNtz",
    "typeWidening", "typeWidening-preview",
    "variantType", "variantType-preview", "vacuumProtocolCheck")

  def drop(spark: SparkSession, deltaLog: DeltaLog, name: String,
           truncateHistory: Boolean): Long = {
    val txn = deltaLog.startTransaction()
    val snapshot = txn.snapshot
    val p = snapshot.protocol
    val listed =
      p.readerFeatures.exists(_.contains(name)) ||
        p.writerFeatures.exists(_.contains(name))
    require(listed, if (TableFeatures.legacyWriterFeatures(p).contains(name) ||
        TableFeatures.legacyReaderFeatures(p).contains(name))
      s"Feature $name is implied by the table's legacy protocol version " +
        s"(${p.minReaderVersion}, ${p.minWriterVersion}), not listed — " +
        "legacy-implied features cannot be dropped"
    else s"Table does not declare feature $name")

    // the trace validation is a function of the WHOLE read snapshot — a
    // concurrent commit could add fresh traces (a DELETE shading files
    // with DVs under the still-declared feature) between validation and
    // the downgrade. Register a whole-table read so any concurrent file
    // change aborts this drop loudly instead of committing a protocol
    // that no longer declares what the state carries. This also pins the
    // commit version: with the table read registered, a successful
    // commit lands at exactly readVersion + 1 (any racing file action
    // conflicts), so the recorded protection boundary is never stale.
    txn.readWholeTable()
    val (removeProps, extraActions) =
      validateNoTraces(snapshot, name, truncateHistory)

    val boundary = txn.readVersion + 1
    val meta = snapshot.metadata
    val addProps: Map[String, String] =
      if (readerAffecting(name))
        Map(DeltaConfigs.REQUIRE_CHECKPOINT_PROTECTION.key -> boundary.toString)
      else Map.empty
    val newConfig = meta.configuration -- removeProps ++ addProps
    txn.updateMetadata(meta.copy(configuration = newConfig))

    val newProtocol = downgraded(p, name)
    val v = txn.commit(newProtocol +: extraActions, "DROP FEATURE",
      operationParameters = Map(
        "featureName" -> name,
        "truncateHistory" -> truncateHistory.toString))

    // the boundary checkpoint: serves every surviving version, and is the
    // checkpoint the protected-prefix cleanup contract requires
    val post = deltaLog.update()
    Checkpoints.writeCheckpoint(post)
    if (truncateHistory) truncateBelow(deltaLog, v)
    v
  }

  /** Refuse while the latest state still carries the feature's traces;
    * returns the table properties the downgrade commit must remove and
    * any extra actions it must carry (domain tombstones). */
  private def validateNoTraces(snapshot: Snapshot, name: String,
                               truncateHistory: Boolean): (Seq[String], Seq[Action]) = {
    val meta = snapshot.metadata
    def refuse(cond: Boolean, what: String, remedy: String): Unit =
      require(!cond, s"Cannot drop feature $name: $what. $remedy")
    name match {
      case "deletionVectors" =>
        refuse(!snapshot.dvFiles.isEmpty, "files still carry deletion vectors",
          "Run OPTIMIZE to purge the shades first")
        (Seq(DeltaConfigs.ENABLE_DELETION_VECTORS.key), Nil)
      case "v2Checkpoint" =>
        // the downgrade itself writes a classic checkpoint afterwards
        (Seq(DeltaConfigs.CHECKPOINT_POLICY.key), Nil)
      case "inCommitTimestamp" =>
        (Seq(DeltaConfigs.ENABLE_IN_COMMIT_TIMESTAMPS.key,
          DeltaConfigs.IctEnablementVersionKey,
          DeltaConfigs.IctEnablementTimestampKey), Nil)
      case "rowTracking" =>
        // the row-id high-water-mark domain is the feature's own state:
        // tombstone it with the downgrade or domainMetadata can never be
        // dropped afterwards (an orphan domain with no owner)
        val tombstone =
          if (snapshot.domainMetadata.contains("delta.rowTracking"))
            Seq(DomainMetadata("delta.rowTracking", removed = true))
          else Nil
        (Seq(DeltaConfigs.ENABLE_ROW_TRACKING.key), tombstone)
      case "changeDataFeed" =>
        refuse(DeltaConfigs.ENABLE_CHANGE_DATA_FEED.fromMetadata(meta),
          "delta.enableChangeDataFeed is still true",
          "Unset the property first")
        (Nil, Nil)
      case "checkConstraints" =>
        refuse(write.Invariants.constraints(meta).nonEmpty,
          "CHECK constraints are still defined",
          "ALTER TABLE … DROP CONSTRAINT each first")
        (Nil, Nil)
      case "generatedColumns" =>
        refuse(write.GeneratedColumns.expressions(meta.schema).nonEmpty,
          "the schema still declares generated columns",
          "Drop or redefine those columns first")
        (Nil, Nil)
      case "identityColumns" =>
        refuse(meta.schema.fields.exists(
            _.metadata.contains(write.IdentityColumns.StartKey)),
          "the schema still declares identity columns",
          "Drop or redefine those columns first")
        (Nil, Nil)
      case "allowColumnDefaults" =>
        refuse(TableFeatures.containsColumnDefaults(meta.schema),
          "columns still declare DEFAULT values",
          "Drop the defaults first")
        (Nil, Nil)
      case "variantType" | "variantType-preview" =>
        refuse(TableFeatures.containsVariant(meta.schema),
          "the schema still contains VARIANT columns",
          "Drop those columns first")
        (Nil, Nil)
      case "typeWidening" | "typeWidening-preview" =>
        refuse(meta.schema.fields.exists(
            _.metadata.contains(TypeWidening.TypeChangesKey)),
          "columns carry delta.typeChanges history (old files hold the " +
            "narrower type)", "Rewrite the table (e.g. CLONE) first")
        (Nil, Nil)
      case "clustering" =>
        refuse(DeltaTable.clusteringColumns(snapshot).nonEmpty,
          "clustering columns are still declared",
          "ALTER TABLE … CLUSTER BY NONE first")
        // drop the (empty) clustering domain with the feature
        val tombstone =
          if (snapshot.domainMetadata.contains(DeltaTable.ClusteringDomain))
            Seq(DomainMetadata(DeltaTable.ClusteringDomain, removed = true))
          else Nil
        (Nil, tombstone)
      case "domainMetadata" =>
        refuse(snapshot.domainMetadata.nonEmpty,
          s"live domains remain: ${snapshot.domainMetadata.keys.mkString(", ")}",
          "Remove the domains first")
        (Nil, Nil)
      case "coordinatedCommits" | "coordinatedCommits-preview" =>
        (meta.configuration.keys
          .filter(_.startsWith("delta.coordinatedCommits.")).toSeq, Nil)
      case "checkpointProtection" =>
        refuse(!truncateHistory,
          "the protected log prefix would become uncleanable",
          "Use DROP FEATURE checkpointProtection TRUNCATE HISTORY")
        (Seq(DeltaConfigs.REQUIRE_CHECKPOINT_PROTECTION.key), Nil)
      case "appendOnly" =>
        refuse(DeltaConfigs.IS_APPEND_ONLY.fromMetadata(meta),
          "delta.appendOnly is still true", "Unset the property first")
        (Nil, Nil)
      case "invariants" | "vacuumProtocolCheck" =>
        (Nil, Nil)
      case "columnMapping" =>
        refuse(cond = true, "column-mapped files resolve by physical " +
          "name/id; removal requires a physical rewrite of every file",
          "This engine does not implement the rewrite")
        (Nil, Nil)
      case "timestampNtz" =>
        refuse(TableFeatures.containsTimestampNtz(meta.schema),
          "the schema still contains TIMESTAMP_NTZ columns",
          "Drop those columns first")
        (Nil, Nil)
      case other =>
        throw new IllegalArgumentException(
          s"Cannot drop feature $other: no removal contract implemented " +
            "for it")
    }
  }

  /** The protocol with `name` removed from both lists; reader side
    * re-normalizes when its list empties, and dropping a reader feature
    * adds checkpointProtection (the history guard). A protocol whose
    * reader side is LEGACY (no explicit list — e.g. (2, 7) from a
    * writer-only upgrade of a column-mapping table) keeps its reader
    * version untouched: dropping a writer feature changes nothing a
    * reader needs, and materializing the implied features would raise
    * minReaderVersion to 3, locking out reader-2 clients gratuitously. */
  private def downgraded(p: Protocol, name: String): Protocol = {
    val writerAdd =
      if (readerAffecting(name) && name != "checkpointProtection")
        Seq("checkpointProtection") else Nil
    val writers = (TableFeatures.legacyWriterFeatures(p)
      .filterNot(_ == name) ++ writerAdd).distinct.sorted
    p.readerFeatures.map(_.filterNot(_ == name)) match {
      case Some(rs) if rs.nonEmpty =>
        Protocol(3, 7, Some(rs.sorted), Some(writers))
      case Some(_) =>
        // explicit reader list emptied: old readers regain the table at
        // the minimal version its remaining capabilities demand
        val minReader = if (writers.contains("columnMapping")) 2 else 1
        Protocol(minReader, 7, None, Some(writers))
      case None =>
        Protocol(p.minReaderVersion, 7, None, Some(writers))
    }
  }

  /** Delete every log file strictly below `boundary` — legal because the
    * checkpoint at `boundary` (just written) serves all surviving
    * versions, and removal is all-at-once per the protected-prefix
    * contract. Sidecars of deleted V2 checkpoints fall to the normal
    * expired-log cleanup (they are unreferenced once their mains go). */
  private def truncateBelow(deltaLog: DeltaLog, boundary: Long): Unit = {
    val fs = deltaLog.logPath.getFileSystem(deltaLog.hadoopConf)
    deltaLog.store
      .listFrom(FileNames.deltaFile(deltaLog.logPath, 0), deltaLog.hadoopConf)
      .foreach { f =>
        val path = f.getPath
        val v =
          if (FileNames.isDeltaFile(path)) Some(FileNames.deltaVersion(path))
          else if (FileNames.isChecksumFile(path))
            Some(FileNames.checksumVersion(path))
          else if (FileNames.isCheckpointFile(path))
            Some(FileNames.checkpointVersion(path))
          else None
        if (v.exists(_ < boundary)) fs.delete(path, false)
      }
  }
}
