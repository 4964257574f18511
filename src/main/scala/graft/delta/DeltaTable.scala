package graft.delta

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** User-facing handle for a Delta table — the Spark-native equivalent of
  * the reference's `DeltaLog` + `Snapshot` + `DeltaScan` public surface
  * (SURVEY §1.1), plus the write path its connectors provide.
  *
  * {{{
  * DeltaTable.write(df, "/data/t", partitionBy = Seq("day"))
  * val t = DeltaTable.forPath(spark, "/data/t")
  * t.toDF.filter($"day" === "2026-01-01")        // partition-pruned scan
  * t.asOfVersion(0)                               // time travel (M9)
  * t.history()                                    // DESCRIBE HISTORY (M12)
  * }}}
  */
class DeltaTable private (val spark: SparkSession, val deltaLog: DeltaLog) {

  /** Latest-version DataFrame; filters/projections push down natively. */
  def toDF: DataFrame = deltaLog.update().toDF

  /** Latest-version DataFrame plus stable row ids (`_row_id`,
    * `_row_commit_version`) on row-tracking tables — null for files
    * written before the feature. Ids are `baseRowId + physical position`:
    * stable across deletion-vector DML and RESTORE, fresh on rewrites. */
  def toDFWithRowIds: DataFrame =
    new read.DeltaScanBuilder(deltaLog.update()).buildDFWithRowIds

  /** Scan with the reference's pushed/residual reporting (S2). */
  def scan(filter: Column): read.DeltaScan = {
    val snap = deltaLog.update()
    new read.DeltaScan(snap, Some(read.PartitionUtils.resolveFilter(
      spark, snap.metadata.schema, filter)))
  }

  /** Time travel by version (M9). */
  def asOfVersion(version: Long): DataFrame =
    deltaLog.getSnapshotForVersionAsOf(version).toDF

  /** Time travel by timestamp (M10). */
  def asOfTimestamp(tsMillis: Long): DataFrame =
    deltaLog.getSnapshotForTimestampAsOf(tsMillis).toDF

  /** Commit history, newest first (M12). */
  def history(): DataFrame = {
    import spark.implicits._
    spark.createDataset(deltaLog.history().map { ci =>
      // ICT tables: the recorded inCommitTimestamp is authoritative
      (ci.version.getOrElse(-1L),
        ci.inCommitTimestamp.orElse(ci.timestamp).getOrElse(0L),
        ci.operation.getOrElse(""), ci.isBlindAppend.getOrElse(false),
        ci.isolationLevel.getOrElse(""), ci.engineInfo.getOrElse(""),
        ci.operationParameters.getOrElse(Map.empty),
        ci.operationMetrics.getOrElse(Map.empty))
    }).toDF("version", "timestamp", "operation", "isBlindAppend",
      "isolationLevel", "engineInfo", "operationParameters",
      "operationMetrics")
  }

  def version: Long = deltaLog.update().version

  // ------------------------------------------------- domain metadata
  /** Live domain metadata: `domain -> configuration` (PROTOCOL.md
    * "Domain Metadata"). */
  def domainMetadata: Map[String, String] = deltaLog.update().domainMetadata

  /** Set one domain's configuration; the commit auto-upgrades the writer
    * protocol with the domainMetadata feature. Last writer per domain
    * wins; concurrent changes to the SAME domain conflict. */
  def setDomainMetadata(domain: String, configuration: String): Long = {
    val txn = deltaLog.startTransaction()
    txn.commit(Seq(DomainMetadata(domain, configuration)),
      DeltaOperations.SetDomainMetadata,
      operationParameters = Map("domain" -> domain))
  }

  /** Remove a domain (subsequent snapshots no longer carry it). */
  def removeDomainMetadata(domain: String): Long = {
    val txn = deltaLog.startTransaction()
    txn.commit(Seq(DomainMetadata(domain, removed = true)),
      DeltaOperations.SetDomainMetadata,
      operationParameters = Map("domain" -> domain, "removed" -> "true"))
  }

  /** Widen a column's type WITHOUT rewriting data (PROTOCOL.md "Type
    * Widening", reader+writer feature typeWidening): existing parquet
    * files keep the narrow physical type and every scan upcasts them
    * under the new read schema; new writes store the wide type. The
    * change is recorded in the field's `delta.typeChanges` metadata
    * (which is also what authorizes it through the write-compat gate)
    * and the protocol upgrades with the feature on both sides. Only the
    * protocol's widening matrix is accepted — see
    * [[TypeWidening.allowed]]; partition columns are refused (their
    * values live as strings in the log, keyed by the declared type). */
  def widenColumnType(column: String,
                      to: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.types.StructType
    val txn = deltaLog.startTransaction()
    val meta = txn.snapshot.metadata
    val schema = meta.schema
    require(schema.fieldNames.contains(column),
      s"Column $column not found in ${schema.simpleString}")
    require(!meta.partitionColumns.contains(column),
      s"Cannot widen partition column $column")
    val idx = schema.fieldIndex(column)
    val f = schema(idx)
    require(TypeWidening.allowed(f.dataType, to),
      s"Cannot widen ${f.dataType.simpleString} to ${to.simpleString}: " +
        "not in the protocol's type-widening matrix")
    val widened = StructType(
      schema.fields.updated(idx, TypeWidening.recordChange(f, to)))
    txn.updateMetadata(meta.copy(schemaString = Some(widened.json)))
    val p = txn.snapshot.protocol
    val hasFeature = p.minReaderVersion == 3 && p.minWriterVersion == 7 &&
      p.readerFeatures.exists(_.contains(TypeWidening.Feature)) &&
      p.writerFeatures.exists(_.contains(TypeWidening.Feature))
    val protocolActions =
      if (hasFeature) Nil
      else Seq(TableFeatures.upgradedWith(p,
        Seq(TypeWidening.Feature), Seq(TypeWidening.Feature)))
    txn.commit(protocolActions, "CHANGE COLUMN",
      operationParameters = Map(
        "column" -> column, "type" -> to.simpleString))
  }

  /** Declare clustering columns (the `delta.clustering` domain — the
    * liquid-clustering shape): OPTIMIZE without an explicit zOrderBy
    * re-clusters by them, and foreign engines that honor the domain see
    * the same declaration. Physical names are stored (column-mapping
    * tables survive renames); pass logical names here. */
  def setClusteringColumns(columns: Seq[String]): Long = {
    val txn = deltaLog.startTransaction()
    val schema = txn.snapshot.metadata.schema
    columns.foreach { c =>
      require(schema.fieldNames.contains(c), s"Unknown clustering column $c")
      require(!txn.snapshot.metadata.partitionColumns.contains(c),
        s"Clustering column $c is a partition column")
    }
    val phys = columns.map(c => ColumnMapping.physicalName(schema(c)))
    val cfg = JsonCodec.mapper.writeValueAsString(
      Map("clusteringColumns" -> phys.map(p => Seq(p))))
    // carry the clustering feature alongside domainMetadata — writers of
    // clustered tables must preserve the domain, which this engine does
    // by construction (state carries domains; commits never drop them)
    val proto = txn.snapshot.protocol
    val protoAction: Seq[Action] =
      if (proto.minWriterVersion == 7 &&
        proto.writerFeatures.exists(f =>
          f.contains("clustering") && f.contains("domainMetadata"))) Nil
      else Seq(TableFeatures.upgradedWithWriter(proto,
        Seq("clustering", "domainMetadata")))
    txn.commit(protoAction :+ DomainMetadata(DeltaTable.ClusteringDomain, cfg),
      DeltaOperations.SetDomainMetadata,
      operationParameters = Map("clusteringColumns" -> columns))
  }

  /** The table's declared clustering columns (logical names), if any. */
  def clusteringColumns: Seq[String] =
    DeltaTable.clusteringColumns(deltaLog.update())

  /** Delete rows matching a partition predicate without rewriting data
    * (metadata-only delete); predicates touching data columns are
    * rejected — rewrite-deletes arrive with the DML layer. */
  def deleteWhere(partitionFilter: Column): Long = {
    val txn = deltaLog.startTransaction()
    val resolved = read.PartitionUtils.resolveFilter(
      spark, txn.snapshot.metadata.schema, partitionFilter)
    val residual = new read.DeltaScan(txn.snapshot, Some(resolved)).residualPredicate
    require(residual.isEmpty,
      s"deleteWhere only supports partition-column predicates; residual: $residual")
    val matched = txn.markFilesAsRead(partitionFilter)
    txn.commit(matched.map(_.remove(deltaLog.clock())), DeltaOperations.Delete,
      operationMetrics = Map(
        "numRemovedFiles" -> matched.size.toString,
        "numRemovedBytes" -> matched.map(_.size).sum.toString),
      // delta-spark renders DML predicates as a JSON array of strings
      operationParameters = Map("predicate" -> Seq(resolved.sql)))
  }

  /** DML DELETE with arbitrary predicates. Partition-only predicates stay
    * metadata-only (same as [[deleteWhere]]); data predicates rewrite ONLY
    * the files that may contain matches — partition pruning plus
    * stats-based data skipping bound the rewrite set, so a selective
    * delete on a range-sorted table touches few files. */
  def delete(condition: Column): Long = {
    val txn = deltaLog.startTransaction()
    val resolved = read.PartitionUtils.resolveFilter(
      spark, txn.snapshot.metadata.schema, condition)
    if (new read.DeltaScan(txn.snapshot, Some(resolved)).residualPredicate.isEmpty) {
      return deleteWhere(condition) // metadata-only fast path
    }
    rowLevel(txn, condition, resolved, None)
  }

  /** DML UPDATE: apply `set` (column name → new value expression) to the
    * rows matching `condition` in the files whose partition values or
    * stats admit a match; all other rows carry unchanged. Every SET value
    * and the condition see the PRE-update row (SQL UPDATE semantics).
    * Partition columns MAY be set: the write's dynamic partitioning
    * places moved rows in their new directories. */
  def update(condition: Column, set: Map[String, Column]): Long = {
    require(set.nonEmpty, "UPDATE requires at least one SET column")
    val txn = deltaLog.startTransaction()
    val schema = txn.snapshot.metadata.schema
    set.keys.foreach { c =>
      require(schema.fieldNames.contains(c), s"Unknown column $c in SET")
      require(!write.IdentityColumns.specs(schema)
        .exists(s => s.name == c && !s.allowExplicit),
        s"Cannot UPDATE GENERATED ALWAYS AS IDENTITY column $c")
    }
    val resolved = read.PartitionUtils.resolveFilter(spark, schema, condition)
    rowLevel(txn, condition, resolved, Some(set))
  }

  /** DELETE (`set = None`) or UPDATE as one clause over
    * [[write.RowLevelDml]], reporting delta-spark's metric names.
    * Shading keeps only the hit rows, a plain filter so the bare
    * predicate reaches parquet (a null result is no hit either way);
    * rewriting tags every row, hit where the condition is TRUE. */
  private def rowLevel(
      txn: graft.delta.txn.OptimisticTransaction,
      condition: Column,
      resolved: org.apache.spark.sql.catalyst.expressions.Expression,
      set: Option[Map[String, Column]]): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, when}
    import write.RowLevelDml.ActionCol
    val snapshot = txn.snapshot
    val metadata = snapshot.metadata
    val files = write.RowLevelDml.candidates(spark, snapshot, resolved)
    txn.markFilesAsRead(condition)
    if (files.isEmpty) return snapshot.version
    val rows = write.RowLevelDml.target(deltaLog, metadata, files)
    val tagged =
      if (write.RowLevelDml.shades(metadata)) {
        rows.filter(condition).withColumn(ActionCol, lit(0))
      } else {
        rows.withColumn(ActionCol,
          when(coalesce(condition, lit(false)), 0).otherwise(-1))
      }
    val operation =
      if (set.isEmpty) DeltaOperations.Delete else DeltaOperations.Update
    write.RowLevelDml.run(txn, files, Some(tagged), Seq(set), None,
      operation, resolved.sql) { c =>
      val removed = "numRemovedFiles" -> c.removedFiles.toString
      val added = "numAddedFiles" -> c.addedFiles.toString
      c.dvsAdded match {
        case None => Map(removed, added,
          "numAddedBytes" -> c.addedBytes.toString)
        case Some(dvs) =>
          val shaded = c.shadedRows.toString
          Map(removed, "numDeletionVectorsAdded" -> dvs.toString) ++
            (if (set.isEmpty) Map("numDeletedRows" -> shaded)
            else Map(added, "numUpdatedRows" -> shaded))
      }
    }
  }

  /** MERGE INTO builder: the target joins as alias `t`, `source` as `s`.
    * See [[write.MergeBuilder]] for semantics and scale notes. */
  def merge(source: DataFrame, condition: Column): write.MergeBuilder =
    new write.MergeBuilder(this, source, condition)

  /** Change data feed for versions [startVersion, endVersion]: the table
    * schema plus `_change_type` (insert / delete / update_preimage /
    * update_postimage) and `_commit_version`.
    *
    * Rewrite commits (UPDATE/DELETE/MERGE) serve their recorded
    * AddCDCFiles; append commits derive inserts from their added files
    * and metadata-only deletes derive full-row deletes from the removed
    * files (still on disk until VACUUM). A rewrite commit WITHOUT change
    * files — CDF was off when it ran — cannot be reconstructed and
    * errors, like Delta's own CDF read. */
  def changes(startVersion: Long, endVersion: Long): DataFrame = {
    val snap = deltaLog.update()
    val metadata = snap.metadata
    // tag the whole range's files with (version, change type) ONCE and
    // plan them as AT MOST TWO scan relations — a per-version union
    // would put O(versions) nodes in the plan (see [[read.CdfRelation]])
    var cdcFiles = Vector.empty[AddFile]
    var derived = Vector.empty[AddFile]
    // failOnDataLoss: a commit inside the requested range that was
    // cleaned up (or subsumed by a log compaction file) makes per-version
    // changes unreconstructible — the feed must error, never skip. The
    // endVersion bound lives inside getChanges (listing filter + checks);
    // the already-resolved snapshot version rides along so no second
    // listing is paid and the head predates the listing (no TOCTOU).
    deltaLog.listChangeFiles(startVersion, failOnDataLoss = true,
        endVersion = Some(endVersion), knownLatest = Some(snap.version))
      .foreach { fstat =>
        val v = FileNames.deltaVersion(fstat.getPath)
        // stream the commit: one transient ACTION buffer per version
        // (tagFiles needs the version together), never a line buffer —
        // only the tagged output is retained across versions
        val actions = deltaLog.streamCommitActions(fstat.getPath)(_.toVector)
        val (c, d) = read.CdfRelation.tagFiles(v, actions, "read")
        cdcFiles ++= c
        derived ++= d
      }
    read.CdfRelation.frame(deltaLog, metadata, cdcFiles, derived,
      streaming = false).getOrElse {
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        read.CdfRelation.cdfSchema(metadata))
    }
  }

  /** `FSCK REPAIR TABLE` (delta-spark's surface): drop table entries
    * whose physical data file has VANISHED out-of-band (manual deletion,
    * a too-aggressive external cleanup, object-store lifecycle rules) so
    * reads stop failing on FILE_NOT_EXIST. The data those files held is
    * gone either way — the repair makes the loss explicit in the log
    * (REMOVE actions under operation `FSCK`) instead of a scan-time
    * crash. `dryRun` reports the missing count without committing.
    *
    * Scale shape: existence checks run in EXECUTOR tasks over the
    * (possibly distributed) file list — one object-store HEAD per file
    * fanned out across the cluster, never a driver loop; only the
    * MISSING subset, which is the commit payload by definition, reaches
    * the driver. A concurrent writer removing the same file surfaces as
    * the standard delete/delete conflict. */
  def fsckRepair(dryRun: Boolean = false): Long = {
    // the TRANSACTION's snapshot feeds the existence scan, so the scan
    // interval and the conflict-check interval share one read version —
    // a commit landing between scan and txn start (a RESTORE re-adding a
    // path, a concurrent remove of the same file) is then covered by the
    // standard conflict checks instead of silently double-removed or
    // removed-while-live
    val txn = deltaLog.startTransaction()
    val snapshot = txn.snapshot
    val dataPathStr = deltaLog.dataPath.toString
    val sconf = new SerializableHadoopConf(deltaLog.hadoopConf)
    implicit val enc = Encs.addFile
    val missing = snapshot.allFilesDS.mapPartitions { it =>
      val base = new org.apache.hadoop.fs.Path(dataPathStr)
      lazy val fs = base.getFileSystem(sconf.value)
      it.filterNot(a =>
        fs.exists(read.PartitionUtils.absolutePath(base, a.path)))
    }.collect()
    if (missing.nonEmpty && !dryRun) {
      // declare the repair's read set: only the MISSING paths, by path —
      // the remove decision is invalidated solely by a winning commit
      // touching those exact paths (a remove → delete/delete+delete/read;
      // a RESTORE re-add → the append check's path clause), so unrelated
      // concurrent appends no longer abort a repair on a busy table
      // (readWholeTable() here cost exactly that liveness)
      txn.markPathsAsRead(missing.map(_.path))
      val now = deltaLog.clock()
      txn.commit(missing.map(_.remove(now)).toSeq, "FSCK",
        operationMetrics = Map(
          "numRemovedFiles" -> missing.length.toString),
        operationParameters = Map("dryRun" -> "false"))
    }
    missing.length.toLong
  }

  /** Physically delete the files under the table directory that the
    * latest snapshot no longer references, once they have aged past
    * `retentionMillis` (default: the table's deletedFileRetentionDuration).
    * `lite = true` (`VACUUM … LITE`) takes its candidates from the log's
    * removes instead of a table listing. Returns the number of deleted
    * files (with `dryRun`, the number that would be). See [[Vacuum]]. */
  def vacuum(retentionMillis: Option[Long] = None,
             dryRun: Boolean = false,
             lite: Boolean = false): Int =
    Vacuum.run(spark, deltaLog, retentionMillis, dryRun, lite)

  /** RESTORE the table to an earlier `version`: one transactional commit
    * that re-adds the files of the target snapshot missing from the
    * current one, removes the files added since, and restores the target
    * version's metadata (schema, partitioning, configuration). History is
    * preserved — restore is a new commit on top, so the restored-over
    * versions remain time-travelable until log cleanup.
    *
    * Scale shape: both file sets diff as Spark jobs in distributed-state
    * mode (an anti-join each way on the canonical path); only the files
    * that actually change state reach the driver — they must, as they
    * become the commit's actions. Fails if a needed file was already
    * VACUUMed (the data is gone; same contract as Delta's RESTORE).
    *
    * Returns the committed version. */
  def restoreToTimestamp(tsMillis: Long): Long =
    restore(deltaLog.getSnapshotForTimestampAsOf(tsMillis).version)

  def restore(version: Long): Long = {
    import org.apache.spark.sql.functions.col
    val txn = deltaLog.startTransaction()
    val current = txn.snapshot
    if (version == current.version) return current.version
    val target = deltaLog.getSnapshotForVersionAsOf(version)

    implicit val enc = Encs.addFile
    // both sides feed TWO anti-joins; persist so time-travel snapshots
    // (which never cache their distributed state) replay once, not twice
    val targetFiles = target.allFilesDS
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val currentFiles = current.allFilesDS
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the diff keys by (path, dvId), not path alone: restoring across a
    // DV change must swap (F, dv) for (F, none) — a path-only diff would
    // see "F on both sides" and leave the shade in place
    def dvKeyed(ds: org.apache.spark.sql.Dataset[AddFile]) = {
      import org.apache.spark.sql.functions.{coalesce, concat_ws, lit, when}
      ds.withColumn("dvKey", coalesce(
        when(col("deletionVector").isNotNull, concat_ws("@",
          col("deletionVector.storageType"),
          col("deletionVector.pathOrInlineDv"),
          col("deletionVector.offset").cast("string"))),
        lit("")))
    }
    val (toAdd, toRemove) =
      try {
        (dvKeyed(targetFiles)
          .join(dvKeyed(currentFiles).select(col("path"), col("dvKey")),
            Seq("path", "dvKey"), "left_anti")
          .drop("dvKey").as[AddFile].collect().toSeq,
          dvKeyed(currentFiles)
            .join(dvKeyed(targetFiles).select(col("path"), col("dvKey")),
              Seq("path", "dvKey"), "left_anti")
            .drop("dvKey").as[AddFile].collect().toSeq)
      } finally {
        targetFiles.unpersist(blocking = false)
        currentFiles.unpersist(blocking = false)
      }

    // a restored file must still exist — VACUUM past the target version
    // breaks restore, like Delta. Existence checks run in TASKS (a
    // driver loop of sequential exists() RPCs on an object store would
    // serialize 100k round trips).
    if (toAdd.nonEmpty) {
      import spark.implicits._
      val sconf = new SerializableHadoopConf(deltaLog.hadoopConf)
      val rootStr = deltaLog.dataPath.toString
      val missing = spark
        .createDataset(toAdd.map(_.path))
        .repartition(math.max(1, math.min(toAdd.size / 64, 64)))
        .mapPartitions { paths =>
          val root = new org.apache.hadoop.fs.Path(rootStr)
          val dfs = root.getFileSystem(sconf.value)
          paths.filterNot(p =>
            dfs.exists(read.PartitionUtils.absolutePath(root, p)))
        }.take(1)
      require(missing.isEmpty,
        s"Cannot restore to version $version: ${missing.headOption.getOrElse("")} " +
          "was removed from disk (VACUUM ran past the target version)")
    }

    txn.readWholeTable()
    // restoring PAST a column addition removes that column — allowed here
    // because the user explicitly asked for the old schema (the same
    // DDL-only carve-out as ALTER TABLE DROP COLUMN)
    if (target.metadata != current.metadata) {
      txn.updateMetadata(target.metadata, allowColumnRemoval = true)
    }
    val now = deltaLog.clock()
    // CDF: restore = inserts(files coming back) + deletes(files leaving);
    // recorded per-commit like every other rewrite so changes() can
    // serve it (image schema is the RESTORED metadata's)
    val cdc: Seq[Action] =
      if (write.CdcWriter.enabled(target.metadata) &&
          (toAdd.nonEmpty || toRemove.nonEmpty)) {
        def rows(files: Seq[AddFile], m: Metadata, changeType: String) =
          if (files.isEmpty) None
          else {
            import org.apache.spark.sql.functions.{col, lit}
            // images align to the RESTORED schema; columns the other
            // version lacks null-fill (forward restore across an add);
            // shaded files contribute only their LIVE rows
            val base = read.LiveRows.files(deltaLog, m, files)()
            Some(base.select(target.metadata.schema.fields.map { f =>
                if (base.columns.contains(f.name)) col(f.name)
                else lit(null).cast(f.dataType).as(f.name)
              }.toIndexedSeq: _*)
              .withColumn(write.CdcWriter.ChangeTypeCol, lit(changeType)))
          }
        val images = rows(toAdd, target.metadata, "insert").toSeq ++
          rows(toRemove, current.metadata, "delete").toSeq
        images.reduceOption(_.unionByName(_))
          .map(write.CdcWriter.writeChangeFiles(_, deltaLog,
            target.metadata.columnMapping, target.metadata.fieldIdMapping))
          .getOrElse(Nil)
      } else Nil
    // protocol self-consistency: restoring PAST a DROP FEATURE brings
    // back traces (shaded files, NTZ columns, feature properties) the
    // downgraded protocol no longer declares — re-upgrade in the SAME
    // commit (upgrades are always legal; the downgrade was the guarded
    // case). Metadata-driven writer features (CDF, rowTracking, ICT,
    // constraints) re-declare through commit()'s own auto-upgrades; the
    // reader-side features obliged by restored FILES/SCHEMA are handled
    // here.
    val protoActions: Seq[Action] = {
      val p = current.protocol
      def lacks(f: String) = !(p.minReaderVersion == 3 &&
        p.readerFeatures.exists(_.contains(f)))
      val needed = Seq(
        "deletionVectors" -> (toAdd.exists(_.deletionVector.isDefined) ||
          DeltaConfigs.ENABLE_DELETION_VECTORS.fromMetadata(target.metadata)),
        "timestampNtz" ->
          TableFeatures.containsTimestampNtz(target.metadata.schema),
        "typeWidening" -> target.metadata.schema.fields.exists(
          _.metadata.contains(TypeWidening.TypeChangesKey)),
        "v2Checkpoint" ->
          (DeltaConfigs.CHECKPOINT_POLICY.fromMetadata(target.metadata) == "v2")
      ).collect { case (f, true) if lacks(f) => f }
      if (needed.isEmpty) Nil
      else Seq(TableFeatures.upgradedWith(p, needed, needed))
    }
    txn.commit(
      protoActions ++ cdc ++
        toAdd.map(_.copy(dataChange = true, modificationTime = now)) ++
        toRemove.map(_.remove(now)),
      DeltaOperations.Restore,
      operationMetrics = Map(
        "numRestoredFiles" -> toAdd.size.toString,
        "numRemovedFiles" -> toRemove.size.toString),
      operationParameters = Map("version" -> version))
  }

  /** Transactional partition overwrite (Delta's `replaceWhere`): ONE
    * commit removes every file in the partitions matching `condition`
    * and adds `df`'s files. The predicate must reference partition
    * columns only (the classic contract — whole files are dropped, never
    * rewritten), and every incoming row must satisfy it, enforced inside
    * the write job like a CHECK constraint (a violating row aborts
    * before anything commits).
    *
    * Scale shape: matched files select via the same partition pruning as
    * DML (distributed above the state bound); the incoming write is a
    * normal distributed job. */
  def replaceWhere(df0: DataFrame, condition: Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, concat, lit, raise_error, to_json, struct, when, col}
    val txn = deltaLog.startTransaction()
    val snapshot = txn.snapshot
    val metadata = snapshot.metadata
    val resolved = read.PartitionUtils.resolveFilter(spark, metadata.schema, condition)
    val (metaPreds, dataPreds) = read.PartitionUtils
      .splitMetadataAndDataPredicates(resolved, metadata.partitionColumns)
    require(dataPreds.isEmpty,
      s"replaceWhere predicate must reference partition columns only, got: $condition")
    val matched = snapshot.filesMatching(metaPreds)
    txn.markFilesAsRead(condition)

    // generated and identity columns compute exactly as on append
    val (df, assignedIdentity) = write.IdentityColumns.assign(
      write.GeneratedColumns.materialize(df0, metadata), metadata)
    // schema discipline like every other write: incoming columns must
    // cover the table's with equal type shape, and replaceWhere never
    // evolves the schema (no new columns smuggled into one region)
    val mergedSchema = write.DeltaWriter.mergeSchemas(metadata.schema, df.schema)
    require(mergedSchema.json == metadata.schema.json,
      "replaceWhere does not evolve the table schema; incoming columns " +
        s"${df.schema.fieldNames.mkString(", ")} must match " +
        metadata.schema.fieldNames.mkString(", "))
    // every incoming row must fall inside the replaced region
    val rowJson = to_json(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*))
    val guarded = df.filter(
      when(coalesce(condition.cast("boolean"), lit(false)), lit(true))
        .otherwise(raise_error(concat(
          lit(s"replaceWhere: row outside the replaced region ($condition): "),
          rowJson)).cast("boolean")))
    val adds = write.DeltaWriter.writeFiles(
      write.Invariants.enforce(guarded, metadata), deltaLog,
      metadata.partitionColumns, metadata.columnMapping, Some(metadata))
    val removes = matched.map(_.remove(deltaLog.clock()))
    // CDF: a replaceWhere is deletes(old region rows) + inserts(new
    // frame) — record both images so changes() can serve the commit
    // (an add+remove commit without change files is unreconstructable)
    val cdc: Seq[Action] =
      if (write.CdcWriter.enabled(metadata) && matched.nonEmpty) {
        val removedRows = read.LiveRows.files(deltaLog, metadata, matched)()
          .withColumn(write.CdcWriter.ChangeTypeCol, lit("delete"))
        val insertedRows = df
          .withColumn(write.CdcWriter.ChangeTypeCol, lit("insert"))
        write.CdcWriter.writeChangeFiles(
          removedRows.unionByName(insertedRows), deltaLog,
          metadata.columnMapping, metadata.fieldIdMapping)
      } else Nil
    if (assignedIdentity.nonEmpty) {
      val newSchema = org.apache.spark.sql.types.StructType(
        metadata.schema.fields.map { f =>
          if (!assignedIdentity.contains(f.name)) f
          else write.IdentityColumns.specs(metadata.schema)
            .find(_.name == f.name)
            .flatMap(s => write.IdentityColumns
              .writtenWaterMark(spark, deltaLog, adds, s))
            .fold(f)(hwm => f.copy(metadata =
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putLong(write.IdentityColumns.HighWaterMarkKey, hwm).build()))
        })
      txn.amendMetadata(metadata.copy(schemaString = Some(newSchema.json)))
    }
    txn.commit(cdc ++ adds ++ removes, DeltaOperations.ReplaceWhere,
      operationMetrics = Map(
        "numRemovedFiles" -> removes.size.toString,
        "numAddedFiles" -> adds.size.toString),
      operationParameters = Map("predicate" -> condition.toString))
  }

  /** `GENERATE symlink_format_manifest`: (re)write the full Hive
    * SymlinkTextInputFormat manifest tree for the latest snapshot — see
    * [[SymlinkManifest]] for layout, refusals, and the incremental
    * post-commit mode enabled by
    * `delta.compatibility.symlinkFormatManifest.enabled`. Returns the
    * number of manifest files written. */
  def generateSymlinkManifest(): Long =
    SymlinkManifest.generate(spark, deltaLog)

  /** SHOW PARTITIONS with operational stats: one row per partition with
    * file count, bytes, and (when stats exist) row count. Aggregates the
    * file list WITHOUT driver materialization in distributed-state mode —
    * output is partition-count bounded. */
  def partitions(): DataFrame = {
    import org.apache.spark.sql.functions._
    val snap = deltaLog.update()
    val pcols = snap.metadata.partitionColumns
    require(pcols.nonEmpty, "Table is not partitioned")
    snap.allFilesDS.select(
        pcols.map(c => element_at(col("partitionValues"), c).as(c)) ++ Seq(
          col("size"),
          get_json_object(col("stats"), "$.numRecords").cast("long")
            .as("__rows")): _*)
      .groupBy(pcols.map(col): _*)
      .agg(count(lit(1)).as("num_files"),
        sum(col("size")).as("size_in_bytes"),
        sum(col("__rows")).as("num_rows"))
  }

  /** DESCRIBE DETAIL: one row of table-level metadata. Protocol, schema
    * and configuration come from light state (no AddFile decode — M5);
    * numFiles/sizeInBytes are the snapshot's own totals. */
  def detail(): DataFrame = {
    import spark.implicits._
    val snap = deltaLog.update()
    val m = snap.metadata
    Seq((
      "delta",
      m.id,
      m.name.orNull,
      deltaLog.dataPath.toString,
      new java.sql.Timestamp(m.createdTime.getOrElse(0L)),
      new java.sql.Timestamp(snap.timestamp),
      m.partitionColumns,
      snap.numOfFiles,
      snap.sizeInBytes,
      m.configuration,
      snap.protocol.minReaderVersion,
      snap.protocol.minWriterVersion))
      .toDF("format", "id", "name", "location", "created_at",
        "last_modified", "partition_columns", "num_files", "size_in_bytes",
        "properties", "min_reader_version", "min_writer_version")
  }

  /** Shallow clone: create a new table at `targetPath` whose first commit
    * references THIS table's current data files by absolute URI — no data
    * is copied (the protocol stores AddFile paths as relative-or-absolute
    * URIs for exactly this). The clone then evolves independently: its
    * appends land under its own directory, its deletes only tombstone the
    * referenced files, and OPTIMIZE on the clone rewrites into its own
    * directory. Same caveat as Delta's shallow CLONE: VACUUM on the
    * SOURCE can remove files a clone still references (a clone is a
    * metadata operation, not a backup).
    *
    * The file list necessarily reaches the driver here — every AddFile
    * becomes a JSON line in the clone's first commit, which is a
    * driver-written log file; this is inherent to clone, not a scan-path
    * materialization (the clone's own reads stay distributed).
    *
    * `versionAsOf` / `timestampMillisAsOf` clone a HISTORICAL snapshot
    * (delta-spark's time-travel clone) — the cheap way to pin an
    * experiment's training corpus to a reproducible table state without
    * copying 100 TB.
    *
    * Returns the clone's committed version (0). */
  def cloneTo(targetPath: String,
              versionAsOf: Option[Long] = None,
              timestampMillisAsOf: Option[Long] = None): Long = {
    require(versionAsOf.isEmpty || timestampMillisAsOf.isEmpty,
      "Specify at most one of VERSION AS OF / TIMESTAMP AS OF")
    val snapshot = versionAsOf.map(deltaLog.getSnapshotForVersionAsOf)
      .orElse(timestampMillisAsOf.map(deltaLog.getSnapshotForTimestampAsOf))
      .getOrElse(deltaLog.update())
    val targetLog = DeltaLog.forTable(spark, targetPath)
    require(!targetLog.tableExists,
      s"Cannot clone: a Delta table already exists at $targetPath")
    val txn = targetLog.startTransaction()
    txn.updateMetadata(snapshot.metadata.copy(
      id = java.util.UUID.randomUUID().toString,
      createdTime = Some(targetLog.clock())))
    val fs = deltaLog.dataPath.getFileSystem(deltaLog.hadoopConf)
    val qualified = fs.makeQualified(deltaLog.dataPath)
    val adds = snapshot.filesWhere(_ => true).map { f =>
      f.copy(
        path = read.PartitionUtils.absolutePath(qualified, f.path).toUri.toString,
        // a relative ("u") deletion vector resolves against the TABLE
        // root, which for the clone is the wrong directory — rebase to an
        // absolute path into the SOURCE table (shallow-clone semantics,
        // same as the data files themselves)
        deletionVector = f.deletionVector.map { d =>
          if (d.storageType == "u")
            d.copy(storageType = "p",
              pathOrInlineDv = dv.DeletionVectors.absolutePath(d, qualified)
                .toUri.toString,
              offset = d.offset)
          else d
        },
        // row-id ranges are reservations against the SOURCE table's
        // high-water mark; the clone starts its own counter, so carrying
        // them over would collide with the clone's future assignments
        baseRowId = None,
        defaultRowCommitVersion = None,
        dataChange = true)
    }
    txn.commit(snapshot.protocol +: (adds: Seq[Action]), DeltaOperations.Clone,
      operationMetrics = Map("numCopiedFiles" -> adds.size.toString),
      operationParameters = Map(
        "source" -> deltaLog.dataPath.toString,
        "sourceVersion" -> snapshot.version))
  }

  /** Deep clone: like [[cloneTo]], but the data (and deletion-vector)
    * FILES are copied into the target — a true backup/fork, immune to
    * VACUUM on the source. The byte copying runs as a distributed Spark
    * job (`mapPartitions` over the file list, FileUtil.copy per file —
    * at 100 TB no driver streams table bytes); AddFiles carry over
    * verbatim — same relative path, same stats JSON/struct, same
    * partitionValues — so the clone's pruning behavior is identical
    * without recomputing a single statistic. Absolute source paths (a
    * shallow-cloned source's borrowed files) land under `cloned/` with a
    * fresh name: Delta never requires layout-derived paths,
    * partitionValues in the action are authoritative.
    *
    * The commit itself needs the AddFile list on the driver (every clone
    * commit does — the log is a driver-written JSON file); only the BYTES
    * move distributed. */
  def deepCloneTo(targetPath: String,
                  versionAsOf: Option[Long] = None,
                  timestampMillisAsOf: Option[Long] = None): Long = {
    require(versionAsOf.isEmpty || timestampMillisAsOf.isEmpty,
      "Specify at most one of VERSION AS OF / TIMESTAMP AS OF")
    val snapshot = versionAsOf.map(deltaLog.getSnapshotForVersionAsOf)
      .orElse(timestampMillisAsOf.map(deltaLog.getSnapshotForTimestampAsOf))
      .getOrElse(deltaLog.update())
    val targetLog = DeltaLog.forTable(spark, targetPath)
    require(!targetLog.tableExists,
      s"Cannot clone: a Delta table already exists at $targetPath")
    val srcFs = deltaLog.dataPath.getFileSystem(deltaLog.hadoopConf)
    val srcRootStr = srcFs.makeQualified(deltaLog.dataPath).toString
    val dstFs = targetLog.dataPath.getFileSystem(deltaLog.hadoopConf)
    val dstRootStr = dstFs.makeQualified(targetLog.dataPath).toString
    dstFs.mkdirs(targetLog.dataPath)
    val sconf = new SerializableHadoopConf(deltaLog.hadoopConf)

    import org.apache.spark.sql.Encoders
    implicit val enc = Encs.addFile
    val filesDs = snapshot.allFilesDS

    // function VALUES, not defs: these run inside task closures, and a
    // nested def would drag the (non-serializable) enclosing instance in
    val taskCopier: org.apache.hadoop.conf.Configuration =>
        (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path) => Unit = {
      val (srcStr, dstStr) = (srcRootStr, dstRootStr)
      conf => {
        val srcRoot = new org.apache.hadoop.fs.Path(srcStr)
        val dstRoot = new org.apache.hadoop.fs.Path(dstStr)
        val sfs = srcRoot.getFileSystem(conf)
        val dfs = dstRoot.getFileSystem(conf)
        (from, to) => {
          dfs.mkdirs(to.getParent)
          if (!org.apache.hadoop.fs.FileUtil.copy(sfs, from, dfs, to,
              false, false, conf)) {
            throw new java.io.IOException(
              s"deep clone copy $from -> $to failed")
          }
        }
      }
    }
    // deterministic target for an absolute-path ("p") DV file: every add
    // sharing the file maps to the SAME cloned name
    val pDvRel: DeletionVectorDescriptor => String = d =>
      "cloned/dv-" + org.apache.commons.codec.digest.DigestUtils
        .md5Hex(d.pathOrInlineDv) + "-" +
        new org.apache.hadoop.fs.Path(d.pathOrInlineDv).getName

    // Deletion-vector FILES copy in their own DEDUPED pass: one physical
    // DV file commonly holds the vectors of MANY data files (offset
    // addressing), so per-add copies race to the same target — at 10x
    // scale two tasks collided with PathExistsException. Distinct
    // descriptors first, then one copy each.
    implicit val dvEnc = Encs.dvDescriptor
    filesDs.flatMap(_.deletionVector.toSeq
        .filter(dv.DeletionVectors.isOnDisk))(dvEnc)
      .dropDuplicates("storageType", "pathOrInlineDv")
      .foreachPartition { (it: Iterator[DeletionVectorDescriptor]) =>
        val conf = sconf.value
        val copy = taskCopier(conf)
        val srcRoot = new org.apache.hadoop.fs.Path(srcRootStr)
        val dstRoot = new org.apache.hadoop.fs.Path(dstRootStr)
        it.foreach { d =>
          d.storageType match {
            case "u" =>
              // uuid-derived relative path: same bytes at the same
              // root-relative location keeps the descriptor valid as-is
              copy(dv.DeletionVectors.absolutePath(d, srcRoot),
                dv.DeletionVectors.absolutePath(d, dstRoot))
            case _ =>
              copy(new org.apache.hadoop.fs.Path(d.pathOrInlineDv),
                new org.apache.hadoop.fs.Path(dstRoot, pDvRel(d)))
          }
        }
      }

    val adds: Seq[AddFile] = filesDs.mapPartitions { it =>
      val conf = sconf.value
      val copy = taskCopier(conf)
      val srcRoot = new org.apache.hadoop.fs.Path(srcRootStr)
      val dstRoot = new org.apache.hadoop.fs.Path(dstRootStr)
      it.map { f =>
        val srcAbs = read.PartitionUtils.absolutePath(srcRoot, f.path)
        // URI.toString renders the file scheme WITHOUT an authority
        // ("file:/tmp/...", no "//") — test the parsed scheme, not "://"
        val isRelative = new java.net.URI(f.path).getScheme == null &&
          !f.path.startsWith("/")
        val relDst =
          if (isRelative) f.path
          else "cloned/" + java.util.UUID.randomUUID().toString +
            "-" + srcAbs.getName
        copy(srcAbs, new org.apache.hadoop.fs.Path(dstRoot, relDst))
        // DV files were copied above; only descriptors rewrite here
        val newDv = f.deletionVector.map { d =>
          d.storageType match {
            case "p" => d.copy(pathOrInlineDv =
              new org.apache.hadoop.fs.Path(dstRoot, pDvRel(d)).toUri.toString)
            case _ => d // "u" stays valid as-is; "i" rides the descriptor
          }
        }
        f.copy(path = relDst, deletionVector = newDv,
          baseRowId = None, defaultRowCommitVersion = None,
          dataChange = true)
      }
    }(enc).collect().toSeq

    val txn = targetLog.startTransaction()
    txn.updateMetadata(snapshot.metadata.copy(
      id = java.util.UUID.randomUUID().toString,
      createdTime = Some(targetLog.clock())))
    txn.commit(snapshot.protocol +: (adds: Seq[Action]), DeltaOperations.Clone,
      operationMetrics = Map(
        "numCopiedFiles" -> adds.size.toString,
        "copiedFilesSize" -> adds.map(_.size).sum.toString),
      operationParameters = Map(
        "source" -> deltaLog.dataPath.toString,
        "sourceVersion" -> snapshot.version,
        "isDeepClone" -> true))
  }

  /** Record a named CHECK constraint (`delta.constraints.<name>` table
    * property, the protocol's CHECK-constraint representation) after
    * verifying EXISTING rows satisfy it — a constraint that the current
    * data violates must not be added (same contract as Delta's ALTER
    * TABLE ADD CONSTRAINT). New writes are then guarded row-by-row
    * inside the write job ([[write.Invariants.enforce]]).
    *
    * CHECK constraints are a writer-protocol-3 feature: the commit
    * upgrades the table's Protocol when needed so third-party writers
    * that do not enforce constraints refuse to write. */
  def addConstraint(name: String, sqlExpr: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"Invalid constraint name: $name")
    val txn = deltaLog.startTransaction()
    val metadata = txn.snapshot.metadata
    val key = write.Invariants.ConstraintPrefix +
      name.toLowerCase(java.util.Locale.ROOT)
    require(!metadata.configuration.contains(key),
      s"Constraint $name already exists")
    // existing data must satisfy the new constraint; the scan prunes to
    // the constraint's columns and stops at the first violation. The
    // validation scan is a TABLE READ of this transaction — without
    // readWholeTable(), a concurrent append of violating rows committed
    // between this scan and our commit would pass both conflict checks,
    // leaving an active CHECK constraint over data that violates it.
    // Scanning txn.snapshot (not a fresh update()) keeps the validated
    // state and the conflict-checked read the SAME version.
    txn.readWholeTable()
    val violating = txn.snapshot.toDF.filter(not(coalesce(
      expr(sqlExpr).cast("boolean"), lit(false)))).limit(1).count()
    require(violating == 0,
      s"Cannot add CHECK constraint $name: existing rows violate ($sqlExpr)")
    txn.updateMetadata(metadata.copy(
      configuration = metadata.configuration + (key -> sqlExpr)))
    val protocolUpgrade: Seq[Action] =
      if (txn.snapshot.protocol.minWriterVersion < 3)
        Seq(Protocol(txn.snapshot.protocol.minReaderVersion, 3)) else Nil
    txn.commit(protocolUpgrade, DeltaOperations.AddConstraint,
      operationParameters = Map("name" -> name, "expr" -> sqlExpr))
  }

  /** Remove a named CHECK constraint; `ifExists = false` fails when the
    * constraint is not present. The protocol version stays — downgrades
    * are never safe against concurrent readers of old versions. */
  def dropConstraint(name: String, ifExists: Boolean = false): Long = {
    val txn = deltaLog.startTransaction()
    val metadata = txn.snapshot.metadata
    val key = write.Invariants.ConstraintPrefix +
      name.toLowerCase(java.util.Locale.ROOT)
    if (!metadata.configuration.contains(key)) {
      require(ifExists, s"No such constraint: $name")
      return txn.snapshot.version
    }
    txn.updateMetadata(metadata.copy(
      configuration = metadata.configuration - key))
    txn.commit(Nil, DeltaOperations.DropConstraint,
      operationParameters = Map("name" -> name, "existed" -> true))
  }

  /** `ALTER TABLE … DROP FEATURE <name> [TRUNCATE HISTORY]` — protocol
    * downgrade with trace validation, checkpoint-protected history for
    * reader features, and optional immediate prefix truncation. See
    * [[FeatureRemoval]]. */
  def dropFeature(name: String, truncateHistory: Boolean = false): Long =
    FeatureRemoval.drop(spark, deltaLog, name, truncateHistory)

  /** `ALTER TABLE … SET TBLPROPERTIES` for path tables. Properties that
    * oblige READER features declare them in the same commit (delta-spark
    * does the same on enablement) — the metadata-driven WRITER features
    * auto-declare inside commit(). */
  def setProperties(props: Map[String, String]): Long = {
    val txn = deltaLog.startTransaction()
    val m = txn.snapshot.metadata
    txn.updateMetadata(m.copy(configuration = m.configuration ++ props))
    val p = txn.snapshot.protocol
    def lacks(f: String) = !(p.minReaderVersion == 3 &&
      p.readerFeatures.exists(_.contains(f)))
    val mappingEnabled =
      props.get(ColumnMapping.DeltaModeKey).exists(_ != "none")
    val readerObliged = Seq(
      "deletionVectors" ->
        props.get(DeltaConfigs.ENABLE_DELETION_VECTORS.key).contains("true"),
      "v2Checkpoint" ->
        props.get(DeltaConfigs.CHECKPOINT_POLICY.key).contains("v2"),
      // on a features-form protocol column mapping must be LISTED;
      // legacy protocols take the (2, 5) route below
      "columnMapping" -> (mappingEnabled && p.minWriterVersion == 7)
    ).collect { case (f, true) if lacks(f) => f }
    // legacy protocols bump to the version the new properties oblige
    // (delta-spark's auto-upgrade); writer-7 tables instead LIST the
    // obliged feature via commit()'s conformance pass. Column mapping
    // also raises the READER side (physical-name resolution): (2, 5) is
    // the legacy spelling.
    val requiredWriter = TableFeatures.requiredLegacyWriter(txn.metadata)
    val requiredReader =
      if (mappingEnabled) 2 else p.minReaderVersion
    val protoActions: Seq[Action] =
      if (readerObliged.nonEmpty)
        Seq(TableFeatures.upgradedWith(p, readerObliged, readerObliged))
      else if (p.minWriterVersion < 7 &&
          (p.minWriterVersion < requiredWriter ||
            p.minReaderVersion < requiredReader))
        Seq(Protocol(math.max(p.minReaderVersion, requiredReader),
          math.max(p.minWriterVersion, requiredWriter)))
      else Nil
    txn.commit(protoActions, "SET TBLPROPERTIES",
      operationParameters = Map("properties" -> props))
  }

  /** `ALTER TABLE … UNSET TBLPROPERTIES` for path tables. The protocol
    * keeps its features — removal goes through [[dropFeature]], which
    * validates traces; unsetting the property is its prerequisite.
    * Protocol-CRITICAL keys refuse by name: stripping them would break
    * invariants other machinery depends on (physical-name resolution;
    * the protected-prefix cleanup contract). */
  def unsetProperties(keys: Seq[String]): Long = {
    keys.foreach {
      case k @ ColumnMapping.DeltaModeKey =>
        throw new IllegalArgumentException(s"Cannot unset $k: files already " +
          "written under column mapping resolve by physical name/id — " +
          "removing the mode breaks every existing file's resolution")
      case k if k == DeltaConfigs.REQUIRE_CHECKPOINT_PROTECTION.key =>
        throw new IllegalArgumentException(s"Cannot unset $k: the protected " +
          "log prefix would become partially cleanable. Use ALTER TABLE … " +
          "DROP FEATURE checkpointProtection TRUNCATE HISTORY")
      case _ =>
    }
    val txn = deltaLog.startTransaction()
    val m = txn.snapshot.metadata
    txn.updateMetadata(m.copy(configuration = m.configuration -- keys))
    txn.commit(Nil, "UNSET TBLPROPERTIES",
      operationParameters = Map("properties" -> keys))
  }

  /** Declare a DEFAULT for an existing column (`ALTER TABLE ... ALTER
    * COLUMN ... SET DEFAULT expr`): stores the SQL expression as the
    * column's CURRENT_DEFAULT field metadata; the allowColumnDefaults
    * writer feature auto-declares with the commit. Future appends that
    * omit the column materialize the default at write time; existing
    * rows are untouched (the delta-spark contract — defaults affect
    * future writes only). The expression must be constant-foldable
    * enough to resolve with no input columns. */
  def setColumnDefault(column: String, defaultSql: String): Long = {
    val txn = deltaLog.startTransaction()
    val metadata = txn.snapshot.metadata
    val schema = metadata.schema
    require(schema.fieldNames.contains(column),
      s"No such column: $column (table has ${schema.fieldNames.mkString(", ")})")
    // the default must resolve standalone and cast to the column's type —
    // fail the DDL, not some later append
    val f = schema(column)
    spark.range(1).select(
      org.apache.spark.sql.functions.expr(defaultSql).cast(f.dataType))
      .queryExecution.analyzed
    val newSchema = org.apache.spark.sql.types.StructType(schema.fields.map {
      case fld if fld.name == column =>
        fld.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(fld.metadata)
          .putString(write.ColumnDefaults.MetadataKey, defaultSql).build())
      case fld => fld
    })
    txn.updateMetadata(metadata.copy(schemaString = Some(newSchema.json)))
    txn.commit(Nil, DeltaOperations.ChangeColumn,
      operationParameters = Map(
        "column" -> column, "default" -> defaultSql))
  }

  /** Remove a column's DEFAULT (`ALTER COLUMN ... DROP DEFAULT`). */
  def dropColumnDefault(column: String, ifExists: Boolean = false): Long = {
    val txn = deltaLog.startTransaction()
    val metadata = txn.snapshot.metadata
    val schema = metadata.schema
    val has = schema.fieldNames.contains(column) &&
      schema(column).metadata.contains(write.ColumnDefaults.MetadataKey)
    if (!has) {
      require(ifExists, s"Column $column has no default")
      return txn.snapshot.version
    }
    val newSchema = org.apache.spark.sql.types.StructType(schema.fields.map {
      case fld if fld.name == column =>
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(fld.metadata)
        mb.remove(write.ColumnDefaults.MetadataKey)
        fld.copy(metadata = mb.build())
      case fld => fld
    })
    txn.updateMetadata(metadata.copy(schemaString = Some(newSchema.json)))
    txn.commit(Nil, DeltaOperations.ChangeColumn,
      operationParameters = Map("column" -> column, "dropped" -> true))
  }

  /** Bin-pack the table's files into ~`targetFileBytes` outputs — the
    * answer to the small-file problem that kills 100 TB scans (every file
    * is a task; metadata and open() overhead dominate under ~100 MB).
    * Rewrites data without changing it: the commit carries
    * `dataChange=false` adds and removes, so streams reading the table
    * don't re-emit rows, and a conflict check protects against concurrent
    * writers. Optionally restricted to partitions matching `where`. */
  def compact(targetFileBytes: Long = 128L * 1024 * 1024,
              where: Option[Column] = None,
              zOrderBy: Seq[String] = Nil,
              maxFilesPerCommit: Int = 10000,
              fullReCluster: Boolean = false,
              purgeOnly: Boolean = false): Long = {
    require(!purgeOnly || (zOrderBy.isEmpty && !fullReCluster),
      "REORG ... APPLY (PURGE) rewrites shaded files only; it cannot " +
        "combine with ZORDER BY or FULL")
    val txn = deltaLog.startTransaction()
    val snapshot = txn.snapshot
    // a CLUSTERED table (delta.clustering domain) treats OPTIMIZE as a
    // re-clustering pass over its declared clustering columns unless the
    // caller z-orders explicitly. REORG PURGE never re-clusters: its
    // output drops the clustering tag, so the next clustering OPTIMIZE
    // picks the rewritten files up incrementally.
    val zOrderCols =
      if (purgeOnly) Nil
      else if (zOrderBy.nonEmpty) zOrderBy
      else DeltaTable.clusteringColumns(snapshot)
    // validate BEFORE any early return — a typo'd z-order column must
    // fail even when there happen to be no candidates right now
    zOrderCols.foreach { c =>
      require(snapshot.metadata.schema.fieldNames.contains(c),
        s"Unknown z-order column $c")
      require(!snapshot.metadata.partitionColumns.contains(c),
        s"Z-order column $c is a partition column (already clustered by dir)")
    }
    // Liquid clustering is INCREMENTAL (the delta-spark ZCube model):
    // files a previous clustering OPTIMIZE wrote carry a tag naming the
    // columns they were clustered on; re-OPTIMIZE rewrites only files
    // without a matching tag (new appends, files clustered on OLD
    // columns after ALTER CLUSTER BY, DV-shaded files whose shade must
    // purge). At 100 TB a full re-cluster per OPTIMIZE is a rewrite of
    // the table; steady state must be work ∝ new data. Explicit ZORDER
    // BY keeps the rewrite-everything contract (its purpose is a one-off
    // global re-sort).
    val clusteringDriven = zOrderBy.isEmpty && zOrderCols.nonEmpty
    // OPTIMIZE FULL (delta-spark syntax): the escape hatch that forces a
    // whole-table re-cluster — after data-distribution drift, incremental
    // ZCubes accumulate overlap that only a full pass removes. On a
    // non-clustered table FULL would silently degrade to bin-packing
    // while claiming a re-cluster happened — refuse, as delta-spark does
    require(!fullReCluster || clusteringDriven,
      "OPTIMIZE ... FULL requires clustering columns (ALTER TABLE ... " +
        "CLUSTER BY them first); it cannot combine with explicit ZORDER BY")
    val liquidIncremental = clusteringDriven && !fullReCluster
    val clusterTag = zOrderCols.mkString(",")
    // function values, not defs: they run inside distributed filters
    val alreadyClustered: AddFile => Boolean = f =>
      f.deletionVector.isEmpty &&
        f.tags.exists(_.get(DeltaTable.ClusteringColumnsTag)
          .contains(clusterTag))
    val target = targetFileBytes
    val purge = purgeOnly
    val packable: AddFile => Boolean = f =>
      (f.size < target && !purge) || f.deletionVector.isDefined
    // Candidate SELECTION runs where the file list lives: in
    // distributed-state mode the sub-target-size filter is a Spark job
    // over allFilesDistributed and only the files that will actually be
    // rewritten reach the driver (they must — they become RemoveFiles in
    // the commit). `maxFilesPerCommit` bounds each commit so a
    // billion-small-file table bin-packs incrementally (call compact in a
    // loop) instead of staging one giant transaction.
    //
    // Plain compaction bin-packs PER PARTITION: candidates group by
    // partitionValues and a partition is rewritten only when doing so
    // REDUCES its file count (>= 2 sub-target files AND the packed
    // output count is below the input count). Without both conditions a
    // partitioned table of already-as-packed-as-possible partitions
    // would be rewritten on every OPTIMIZE pass — one small file per
    // partition in, the same file back out — and the SQL fixpoint loop
    // would commit full-table no-op rewrites until its round cap
    // (log bloat, tombstone churn, conflict storms). Z-order rewrites
    // every candidate — its purpose is re-CLUSTERING, not bin-packing.
    val rewrite: Seq[AddFile] = where match {
      case Some(pred) =>
        val matched = txn.markFilesAsRead(pred)
        if (zOrderCols.isEmpty)
          DeltaTable.packableGroups(matched.filter(packable),
            targetFileBytes, maxFilesPerCommit)
        // Z-order must rewrite EVERY candidate in one clustering pass —
        // a truncated subset would leave the table partially clustered
        // while claiming success (bound the scope with `where` instead)
        else if (liquidIncremental) matched.filterNot(alreadyClustered)
        else matched
      case None =>
        txn.readWholeTable()
        if (zOrderCols.nonEmpty) {
          if (liquidIncremental)
            snapshot.filesWhere(f => !alreadyClustered(f))
          else snapshot.filesWhere(_ => true)
        } else if (snapshot.distributedState) {
          // group + qualify where the file list lives; only survivors
          // (files that will become RemoveFiles) reach the driver. The
          // driver re-qualifies after the limit() truncation so a group
          // split by the cap is deferred, never half-rewritten.
          val cap = maxFilesPerCommit
          import spark.implicits._
          val survivors = snapshot.allFilesDistributed
            .filter(packable)
            .groupByKey(_.partitionValues.toSeq.sortBy(_._1)
              .map { case (k, v) => s"$k=$v" }.mkString("/"))
            .flatMapGroups { (_, it) =>
              // buffer at most the per-commit cap per group — a
              // million-small-file partition must not materialize in
              // one task's memory; past the cap the group is emitted
              // as-is and the driver re-qualifies the truncation
              val buf = scala.collection.mutable.ArrayBuffer.empty[AddFile]
              while (it.hasNext && buf.size <= cap) buf += it.next()
              val fs = buf.toSeq
              if (fs.size > cap) fs
              else if (fs.exists(_.deletionVector.isDefined)) fs
              else if (fs.size >= 2 &&
                DeltaTable.packedFileCount(fs, target) < fs.size) fs
              else Iterator.empty
            }
            .limit(maxFilesPerCommit).collect().toSeq
          DeltaTable.packableGroups(survivors, target, maxFilesPerCommit)
        } else DeltaTable.packableGroups(snapshot.filesWhere(packable),
          targetFileBytes, maxFilesPerCommit)
    }
    if (rewrite.isEmpty) return snapshot.version

    val metadata = snapshot.metadata
    // compaction PURGES deletion vectors: shaded candidates contribute
    // their live rows only, and the rewritten files carry no descriptors
    val df = read.LiveRows.files(deltaLog, metadata, rewrite)()
    val numOutput = math.max(1,
      math.ceil(rewrite.map(_.size).sum.toDouble / targetFileBytes).toInt)
    val compacted =
      if (zOrderCols.isEmpty && metadata.partitionColumns.isEmpty)
        df.repartition(numOutput)
      else if (zOrderCols.isEmpty) {
        // Partitioned plain compaction shuffles on (partition, bucket):
        // each partition packs into its OWN ceil(bytes/target) buckets.
        // A global repartition(numOutput) would re-smear every partition
        // across all output tasks and write one small file per
        // (task, partition) — re-creating the small files the pass was
        // meant to remove and defeating OPTIMIZE's fixpoint.
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
        val partCols = metadata.partitionColumns
        val binCounts = rewrite.groupBy(_.partitionValues).map {
          case (pv, fs) => pv -> DeltaTable.packedFileCount(fs, targetFileBytes) }
        if (binCounts.values.forall(_ == 1)) {
          // common case — every partition packs to ONE file: hash on the
          // partition columns so whole partitions co-locate per task
          df.repartition(math.max(1, binCounts.size), partCols.map(col): _*)
        } else {
          // oversized partitions split toward target size: broadcast the
          // tiny (partitionValues -> bins) map onto the scan, salt rows
          // within their partition, shuffle on (partition, bucket). An
          // unmatched join (string round-trip edge) falls back to one
          // bucket — still a strict file-count reduction.
          val binSchema = StructType(
            partCols.map(c => StructField("__graft_pv_" + c, StringType)) :+
              StructField("__graft_bins", IntegerType))
          val binRows = binCounts.toSeq.map { case (pv, bins) =>
            Row.fromSeq(partCols.map(c => pv.getOrElse(c, null)) :+ bins) }
          val binsDf = spark.createDataFrame(
            spark.sparkContext.parallelize(binRows, 1), binSchema)
          val joinCond = partCols.map(c =>
            df(c).cast("string") <=> binsDf("__graft_pv_" + c)).reduce(_ && _)
          val dataCols = df.columns.map(col).toIndexedSeq
          df.join(broadcast(binsDf), joinCond, "left")
            .withColumn("__graft_bucket",
              pmod(hash(dataCols: _*), coalesce(col("__graft_bins"), lit(1))))
            .repartition(binCounts.values.sum,
              (partCols.map(col) :+ col("__graft_bucket")).toIndexedSeq: _*)
            .select(dataCols: _*)
        }
      } else {
        // range-partition + sort by the interleaved z-value: each output
        // file covers a small hyper-rectangle of the clustering columns,
        // so its min/max stats prune under MULTI-column predicates. On a
        // PARTITIONED table the range keys lead with the partition
        // columns — a z-only global range would smear every table
        // partition across all tasks and write one file per
        // (task, partition); leading with them keeps each task's rows in
        // at most two table partitions (range boundaries), so the output
        // file count stays ~numOutput while z-clustering WITHIN each
        // partition, which is where its scan benefit lives (partition
        // pruning already handles the partition dimension).
        // clustering-domain-driven OPTIMIZE clusters along the Hilbert
        // curve (tighter per-file boxes); explicit ZORDER BY keeps Morton
        val z = write.ZOrder.clusterValue(df, zOrderCols,
          hilbert = zOrderBy.isEmpty)
        import org.apache.spark.sql.functions.col
        val rangeKeys = (metadata.partitionColumns.map(col) :+
          col("__zorder")).toIndexedSeq
        df.withColumn("__zorder", z)
          .repartitionByRange(numOutput, rangeKeys: _*)
          .sortWithinPartitions(rangeKeys: _*)
          .drop("__zorder")
      }

    // clustering-driven output is STAMPED with the columns it clustered
    // on (plus a ZCube id tying the pass's files together, the
    // delta-spark liquid tag shape) so the next OPTIMIZE can skip it
    val stamp: AddFile => AddFile =
      if (!clusteringDriven) identity
      else {
        val zcube = java.util.UUID.randomUUID().toString
        a => a.copy(tags = Some(a.tags.getOrElse(Map.empty) ++ Map(
          "clusteringProvider" -> "liquid",
          DeltaTable.ClusteringColumnsTag -> clusterTag,
          DeltaTable.ZCubeIdTag -> zcube)))
      }
    val adds = write.DeltaWriter.writeFiles(compacted, deltaLog,
      metadata.partitionColumns, metadata.columnMapping, Some(metadata))
      .map(a => stamp(a.copy(dataChange = false)))
    val removes = rewrite.map(_.remove(deltaLog.clock(), dataChange = false))
    txn.commit(adds ++ removes, if (purgeOnly) "REORG" else "OPTIMIZE",
      operationMetrics = Map(
        "numRemovedFiles" -> rewrite.size.toString,
        "numAddedFiles" -> adds.size.toString,
        "numAddedBytes" -> adds.map(_.size).sum.toString),
      operationParameters =
        if (purgeOnly) Map("applyPurge" -> "true")
        else if (zOrderCols.nonEmpty) Map("zOrderBy" -> zOrderCols)
        else Map.empty)
  }
}

object DeltaTable {

  /** The domain carrying a clustered table's clustering columns. */
  val ClusteringDomain = "delta.clustering"

  /** File tags a clustering OPTIMIZE stamps on its output: the columns
    * the file was clustered on (skip-key for the next pass) and the
    * ZCube id grouping one pass's files. */
  val ClusteringColumnsTag = "clusteringColumns"
  val ZCubeIdTag = "ZCUBE_ID"

  /** Parse the clustering domain's columns back to LOGICAL names: the
    * configuration stores nested-name paths of PHYSICAL names
    * (`{"clusteringColumns":[["c1"],["c2"]]}`); top-level physical names
    * resolve through the schema's column mapping. */
  private[delta] def clusteringColumns(snapshot: Snapshot): Seq[String] =
    snapshot.domainMetadata.get(ClusteringDomain).toSeq.flatMap { cfg =>
      try {
        val node = JsonCodec.mapper.readTree(cfg)
        val arr = node.get("clusteringColumns")
        if (arr == null) Nil
        else {
          val schema = snapshot.metadata.schema
          (0 until arr.size).map { i =>
            val parts = arr.get(i)
            val phys = (0 until parts.size).map(parts.get(_).asText())
            // nested clustering columns are rare; we honor top-level ones
            // and resolve the physical name back to its logical field
            val top = phys.headOption.getOrElse("")
            schema.fields.find(f => ColumnMapping.physicalName(f) == top)
              .map(_.name).getOrElse(top)
          }.filter(c => schema.fieldNames.contains(c))
        }
      } catch { case _: Exception => Nil }
    }

  /** Number of ~target-sized output files a candidate group packs into. */
  private[delta] def packedFileCount(files: Seq[AddFile], target: Long): Int =
    math.max(1, math.ceil(files.map(_.size).sum.toDouble / target).toInt)

  /** Per-partition bin-packing candidate filter: keep only partition
    * groups whose rewrite REDUCES the file count (the convergence
    * guarantee for OPTIMIZE's fixpoint loop), taking whole groups until
    * the per-commit cap — a cap-truncated group is deferred to the next
    * commit, never rewritten partially. */
  private[delta] def packableGroups(candidates: Seq[AddFile], target: Long,
                                    maxFilesPerCommit: Int): Seq[AddFile] = {
    val groups = candidates.groupBy(_.partitionValues).values.toSeq
      // a group holding a SHADED file always rewrites: purging the
      // deletion vector is progress even when the file count holds
      .filter(fs => fs.exists(_.deletionVector.isDefined) ||
        (fs.size >= 2 && packedFileCount(fs, target) < fs.size))
      // deterministic order so incremental passes make stable progress
      .sortBy(_.map(_.path).min)
    val picked = Seq.newBuilder[AddFile]
    var n = 0
    groups.foreach { g =>
      if (n == 0 || n + g.size <= maxFilesPerCommit) { picked ++= g; n += g.size }
    }
    picked.result()
  }

  def forPath(spark: SparkSession, path: String): DeltaTable = {
    val log = DeltaLog.forTable(spark, path)
    require(log.tableExists, s"$path is not a Delta table")
    new DeltaTable(spark, log)
  }

  def isDeltaTable(spark: SparkSession, path: String): Boolean =
    DeltaLog.forTable(spark, path).tableExists

  /** Batch write (append / overwrite / create). `idempotentTxn =
    * Some((appId, version))` makes the write exactly-once under retries:
    * replaying an already-committed version is a no-op (foreachBatch
    * contract, same SetTransaction machinery as the streaming sink). */
  def write(df: DataFrame, path: String,
            mode: SaveMode = SaveMode.Append,
            partitionBy: Seq[String] = Nil,
            configuration: Map[String, String] = Map.empty,
            idempotentTxn: Option[(String, Long)] = None): Long =
    graft.delta.write.DeltaWriter.write(df, path, mode, partitionBy,
      configuration, idempotentTxn = idempotentTxn)

  /** CONVERT TO DELTA: turn a plain parquet directory into a Delta table
    * IN PLACE — no data moves; one commit records every existing parquet
    * file as an AddFile (schema from Spark's parquet reader, partition
    * values parsed from hive-style paths). Partitioned layouts require
    * the caller to name the partition columns, Delta's own contract.
    *
    * Scale shape: the recursive listing runs as a Spark job (one task
    * per top-level directory); the AddFiles reach the driver only
    * because they become the commit's JSON lines — same bound as clone. */
  def convertToDelta(spark: SparkSession, path: String,
                     partitionColumns: Seq[String] = Nil): Long = {
    import spark.implicits._
    val log = DeltaLog.forTable(spark, path)
    require(!log.tableExists, s"$path is already a Delta table")
    val df = spark.read.parquet(path)
    val schema = graft.delta.write.DeltaWriter.relaxed(df.schema)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    partitionColumns.foreach(c => require(schema.fieldNames.contains(c),
      s"Partition column $c not found in the inferred schema " +
        schema.simpleString))

    val conf = new SerializableHadoopConf(log.hadoopConf)
    val rootPath = log.dataPath
    val fs = rootPath.getFileSystem(log.hadoopConf)
    val rootStr = fs.makeQualified(rootPath).toString
    val rootPrefix = fs.makeQualified(rootPath).toUri.getPath + "/"
    val top = fs.listStatus(fs.makeQualified(rootPath))
      // partition dirs for [._]-named columns (`_col=value`) are data,
      // not hidden state — same exemption delta-spark's convert applies
      .filterNot { st =>
        val n = st.getPath.getName
        (n.startsWith("_") || n.startsWith(".")) && !n.contains("=")
      }
    val (dirs, rootFiles) = top.partition(_.isDirectory)
    val fromDirs = spark.createDataset(dirs.map(_.getPath.toString).toSeq)
      .repartition(math.max(1, math.min(dirs.length, 64)))
      .mapPartitions { ds =>
        ds.flatMap { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          val dfs = p.getFileSystem(conf.value)
          val it = dfs.listFiles(p, true)
          val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
          while (it.hasNext) {
            val st = it.next()
            if (st.isFile && !st.getPath.getName.startsWith("_") &&
                !st.getPath.getName.startsWith(".")) {
              buf += ((st.getPath.toUri.getPath.stripPrefix(rootPrefix),
                st.getLen, st.getModificationTime))
            }
          }
          buf
        }
      }.collect()
    val listed = rootFiles.filter(_.isFile).map(st =>
      (st.getPath.toUri.getPath.stripPrefix(rootPrefix),
        st.getLen, st.getModificationTime)).toSeq ++ fromDirs
    val parquet = listed.filter(_._1.endsWith(".parquet"))
    require(parquet.nonEmpty, s"No parquet files found under $path")

    // stats from the existing footers (driver-parallel below the bound,
    // executor tasks above it) — adopted files data-skip from day one
    val dataSchema = org.apache.spark.sql.types.StructType(
      schema.filterNot(f => partitionColumns.contains(f.name)))
    val qualifiedRoot = fs.makeQualified(rootPath)
    val statsByPath = graft.delta.write.StatsCollector.collectAll(
      spark, parquet.map(t => new org.apache.hadoop.fs.Path(qualifiedRoot,
        new org.apache.hadoop.fs.Path(null, null, t._1))),
      dataSchema, log.hadoopConf)

    val adds = parquet.map { case (rel, size, mtime) =>
      AddFile(
        path = new java.net.URI(null, null, rel, null).toString,
        partitionValues = graft.delta.write.DeltaWriter
          .parsePartitionValues(rel, partitionColumns),
        size = size,
        modificationTime = mtime,
        dataChange = true,
        stats = statsByPath.getOrElse(new org.apache.hadoop.fs.Path(
          qualifiedRoot, new org.apache.hadoop.fs.Path(null, null, rel)), None))
    }
    val txn = log.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Some(schema.json),
      partitionColumns = partitionColumns))
    txn.commit(adds, DeltaOperations.Convert,
      operationMetrics = Map("numConvertedFiles" -> adds.size.toString),
      operationParameters = Map("partitionedBy" -> partitionColumns))
  }

  /** Explicit table creation (no data): the place where schema-level
    * declarations live — NOT NULL survives as given (unlike write(),
    * which relaxes encoder accidents) and `generatedColumns` maps column
    * name → generation SQL recorded as the protocol's
    * `delta.generationExpression` column metadata (writer-protocol-4).
    * Typical: a `day` partition column generated from an event
    * timestamp, so appends of raw events land date-partitioned. */
  /** `identityColumns`: column → (start, step) for GENERATED ALWAYS AS
    * IDENTITY (writer-protocol-6; values machine-assigned on append,
    * unique and step-monotonic, gaps allowed). */
  def create(spark: SparkSession, path: String,
             schema: org.apache.spark.sql.types.StructType,
             partitionBy: Seq[String] = Nil,
             configuration: Map[String, String] = Map.empty,
             generatedColumns: Map[String, String] = Map.empty,
             identityColumns: Map[String, (Long, Long)] = Map.empty): Long = {
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StructType}
    generatedColumns.keys.foreach(c => require(schema.fieldNames.contains(c),
      s"Generated column $c is not in the schema"))
    identityColumns.foreach { case (c, (_, step)) =>
      require(schema.fieldNames.contains(c),
        s"Identity column $c is not in the schema")
      require(schema(c).dataType == LongType,
        s"Identity column $c must be BIGINT")
      require(step != 0, s"Identity column $c: step must not be 0")
      require(!generatedColumns.contains(c),
        s"Column $c cannot be both generated and identity")
    }
    val log = DeltaLog.forTable(spark, path)
    require(!log.tableExists, s"Delta table already exists at $path")
    val withGen = StructType(schema.fields.map { f =>
      val gen = generatedColumns.get(f.name).fold(f) { genExpr =>
        f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putString(graft.delta.write.GeneratedColumns.MetadataKey, genExpr)
          .build())
      }
      identityColumns.get(gen.name).fold(gen) { case (start, step) =>
        gen.copy(metadata = new MetadataBuilder().withMetadata(gen.metadata)
          .putLong(graft.delta.write.IdentityColumns.StartKey, start)
          .putLong(graft.delta.write.IdentityColumns.StepKey, step)
          .build())
      }
    })
    val txn = log.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Some(withGen.json),
      partitionColumns = partitionBy,
      configuration = configuration))
    val protocol: Seq[Action] =
      if (identityColumns.nonEmpty) Seq(Protocol(1, 6))
      else if (generatedColumns.nonEmpty) Seq(Protocol(1, 4))
      else Nil
    txn.commit(protocol, DeltaOperations.CreateTable)
  }
}
