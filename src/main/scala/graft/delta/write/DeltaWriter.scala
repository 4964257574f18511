package graft.delta.write

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

import graft.delta._

/** Batch write path (SURVEY §7 slice 1; semantics from the Flink sink's
  * writer+committer pair, F7/F8, re-expressed as one Spark job).
  *
  * Files are produced by a normal distributed `df.write.parquet` into a
  * staging directory inside the table (so executors write in parallel with
  * Spark's own task-commit machinery), then promoted into the table root
  * with per-file renames (metadata-only on HDFS/local) and committed to
  * the log as AddFiles. Readers never see uncommitted files because
  * visibility is defined by the log, not the directory listing — the same
  * reason the Flink writer can write part files before the global commit
  * (DeltaWriterBucket.java:311-417).
  */
object DeltaWriter {

  def write(df0: DataFrame,
            path: String,
            mode: SaveMode = SaveMode.Append,
            partitionBy: Seq[String] = Nil,
            configuration: Map[String, String] = Map.empty,
            operation: String = DeltaOperations.Write,
            idempotentTxn: Option[(String, Long)] = None,
            extraTxns: Seq[SetTransaction] = Nil,
            operationParameters: Map[String, Any] = Map.empty): Long = {
    val spark = df0.sparkSession
    val deltaLog = DeltaLog.forTable(spark, path)
    val exists = deltaLog.tableExists
    if (exists && mode == SaveMode.ErrorIfExists) {
      throw new IllegalArgumentException(s"Delta table already exists at $path")
    }
    if (exists && mode == SaveMode.Ignore) return deltaLog.snapshot.version

    val txn = deltaLog.startTransaction()

    // idempotent writer (txnAppId/txnVersion): a foreachBatch retry that
    // replays an already-committed version is a no-op — the same
    // SetTransaction contract the streaming sink uses (F7/F8)
    idempotentTxn.foreach { case (appId, version) =>
      if (txn.txnVersion(appId) >= version) return txn.snapshot.version
    }
    // extraTxns (COPY INTO's per-file tracking): register each appId as
    // READ so a concurrent commit recording the same file conflicts
    // (ConcurrentTransactionException) instead of silently double-loading
    // — the caller decided to load from a snapshot, and that decision
    // must be revalidated against any winner.
    extraTxns.foreach(t => txn.txnVersion(t.appId))

    // compute generated columns the caller did not provide, BEFORE any
    // schema comparison (the table schema includes them; the append need
    // not) — provided values are equality-checked in Invariants.enforce.
    // Overwrite is exempt: it may REPLACE the schema wholesale (dropping
    // the generated column is then the user's explicit table
    // redefinition), and the old generation expression may not even
    // resolve against the new frame.
    val df1 = if (exists && mode != SaveMode.Overwrite)
      ColumnDefaults.materialize(
        GeneratedColumns.materialize(df0, txn.snapshot.metadata),
        txn.snapshot.metadata)
    else df0
    // identity columns the caller did not provide get machine-assigned
    // values (GENERATED ALWAYS rejects provided ones); the high-water
    // mark advances after the write job reports what it produced
    val (df, assignedIdentity) =
      if (exists) IdentityColumns.assign(df1, txn.snapshot.metadata)
      else (df1, Nil)

    val partCols =
      if (exists && mode != SaveMode.Overwrite) {
        val existing = txn.snapshot.metadata.partitionColumns
        require(partitionBy.isEmpty || partitionBy == existing,
          s"Partitioning $partitionBy does not match the table's $existing")
        existing
      } else if (exists && partitionBy.isEmpty) {
        // plain overwrite keeps the table's partitioning (a caller who
        // wants to REPARTITION the table must say so) — otherwise the
        // write lands unpartitioned and the commit fails on partition-
        // value mismatch after the files are already on disk
        txn.snapshot.metadata.partitionColumns
      } else partitionBy

    // metadata: first commit, overwrite-with-new-schema, or schema evolution
    // Created schemas store RELAXED (all-nullable): Scala encoders mark
    // every primitive non-nullable, which would make NOT NULL invariants
    // fire on ordinary null-filling operations (MERGE insert-all, schema
    // evolution). NOT NULL is an explicit DDL opt-in (catalog CREATE
    // TABLE ... NOT NULL keeps it), the Delta Lake stance.
    val schemaJson = df.schema.json
    if (!exists) {
      txn.updateMetadata(Metadata(
        schemaString = Some(relaxed(df.schema).json),
        partitionColumns = partCols,
        configuration = configuration))
    } else if (mode == SaveMode.Overwrite &&
               (txn.snapshot.metadata.schemaString.getOrElse("") != schemaJson ||
                 txn.snapshot.metadata.partitionColumns != partCols)) {
      // a stricter (non-nullable) incoming batch must not narrow the table
      // schema, and a frame WITHOUT the table's field annotations
      // (generation expressions, physical names) must not strip them —
      // only a genuine TYPE-SHAPE change replaces the schema, stored
      // nullable since later appends may carry nulls. A REPARTITIONING
      // overwrite (same type shape, new partitionBy) must still commit a
      // Metadata action, or the files (already laid out under the new
      // keys) fail the commit's partition-value validation.
      if (typeShape(txn.snapshot.metadata.schema) != typeShape(df.schema)) {
        txn.updateMetadata(txn.snapshot.metadata.copy(
          schemaString = Some(relaxed(df.schema).json),
          partitionColumns = partCols))
      } else if (txn.snapshot.metadata.partitionColumns != partCols) {
        txn.updateMetadata(txn.snapshot.metadata.copy(
          partitionColumns = partCols))
      }
    } else if (txn.snapshot.metadata.schemaString.getOrElse("") != schemaJson) {
      // append-time schema evolution (T7 / F8 mergeSchema semantics): the
      // incoming frame must cover every existing column with the same type;
      // genuinely new columns are appended as nullable.
      val merged = mergeSchemas(txn.snapshot.metadata.schema, df.schema)
      if (merged.json != txn.snapshot.metadata.schemaString.getOrElse("")) {
        txn.updateMetadata(txn.snapshot.metadata.copy(schemaString = Some(merged.json)))
      }
    }

    val adds = writeFiles(Invariants.enforce(df, txn.metadata), deltaLog,
      partCols, txn.metadata.columnMapping, Some(txn.metadata))

    // advance identity high-water marks to the values actually written —
    // in THIS commit's metadata, so concurrent identity appends conflict
    // on the metadata change and retry with fresh marks (uniqueness
    // across writers)
    if (assignedIdentity.nonEmpty) {
      val cur = txn.metadata
      val newSchema = org.apache.spark.sql.types.StructType(
        cur.schema.fields.map { f =>
          if (!assignedIdentity.contains(f.name)) f
          else {
            // an Overwrite that replaced the schema (type-shape change)
            // may have dropped the identity field metadata — no spec
            // means no high-water mark to advance, not a crash after
            // the data files are already written
            IdentityColumns.specs(cur.schema)
              .find(_.name == f.name)
              .flatMap(spec => IdentityColumns
                .writtenWaterMark(spark, deltaLog, adds, spec))
              .fold(f)(hwm => f.copy(metadata =
                new org.apache.spark.sql.types.MetadataBuilder()
                  .withMetadata(f.metadata)
                  .putLong(IdentityColumns.HighWaterMarkKey, hwm).build()))
          }
        })
      txn.amendMetadata(cur.copy(schemaString = Some(newSchema.json)))
    }
    val removes: Seq[Action] =
      if (exists && mode == SaveMode.Overwrite) {
        txn.readWholeTable()
        txn.snapshot.allFiles.map(_.remove(deltaLog.clock()))
      } else Nil

    // operation metrics (ref Operation.java:110-338 metric name constants)
    val numOutputRows = adds.flatMap(_.stats).map(s =>
      JsonCodec.mapper.readTree(s).path("numRecords").asLong(0L)).sum
    val metrics = Map(
      "numFiles" -> adds.size.toString,
      "numOutputBytes" -> adds.map(_.size).sum.toString,
      "numOutputRows" -> numOutputRows.toString) ++
      (if (removes.nonEmpty)
        Map("numRemovedFiles" -> removes.size.toString) else Map.empty)

    val txnAction: Seq[Action] = idempotentTxn.toSeq.map { case (appId, v) =>
      SetTransaction(appId, v, Some(deltaLog.clock()))
    } ++ extraTxns
    val committed = txn.commit(txnAction ++ adds ++ removes,
      if (!exists) DeltaOperations.CreateTable
      else if (mode == SaveMode.Overwrite) DeltaOperations.ReplaceTable
      else operation,
      operationMetrics = metrics,
      // the keys DESCRIBE HISTORY renders for writes (delta convention:
      // mode as a string, partitionBy as a JSON array)
      operationParameters = Map(
        "mode" -> mode.name,
        "partitionBy" -> partCols) ++ operationParameters)

    autoCompact(DeltaTable.forPath(spark, path), txn.metadata)
    committed
  }

  /** delta.autoOptimize.autoCompact, after an append's or a MERGE's
    * commit lands: bin-pack as the ingest's answer to the small-file
    * problem without a separate maintenance job. Best-effort by design:
    * the write is already durable, and a compaction conflict with a
    * concurrent writer must never fail the caller's write (compact
    * commits dataChange=false, so streams are unaffected). compact() is
    * per-partition and file-count-reducing, so auto-compaction converges
    * instead of rewriting the table on every write. */
  private[delta] def autoCompact(table: => DeltaTable, metadata: Metadata): Unit =
    if (DeltaConfigs.AUTO_COMPACT.fromMetadata(metadata)) {
      try table.compact()
      catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Everything-nullable view of a schema (Spark's asNullable is
    * private): used to compare schemas modulo nullability and to store
    * replaced schemas relaxed, since later appends may carry nulls. */
  private[delta] def relaxed(dt: org.apache.spark.sql.types.DataType)
    : org.apache.spark.sql.types.DataType = dt match {
    case s: org.apache.spark.sql.types.StructType =>
      org.apache.spark.sql.types.StructType(s.fields.map(f =>
        f.copy(dataType = relaxed(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = relaxed(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(valueType = relaxed(m.valueType), valueContainsNull = true)
    case other => other
  }
  private[delta] def relaxed(s: org.apache.spark.sql.types.StructType)
    : org.apache.spark.sql.types.StructType =
    relaxed(s: org.apache.spark.sql.types.DataType)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** Type comparison key: nullability relaxed everywhere and field
    * metadata (comments, [[ColumnMapping]] physical names) erased — a
    * batch with stricter nullability or without the table's field
    * annotations is still "the same type". */
  private[delta] def typeShape(dt: org.apache.spark.sql.types.DataType)
    : org.apache.spark.sql.types.DataType = dt match {
    case s: org.apache.spark.sql.types.StructType =>
      org.apache.spark.sql.types.StructType(s.fields.map(f =>
        org.apache.spark.sql.types.StructField(f.name, typeShape(f.dataType),
          nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = typeShape(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = typeShape(m.keyType),
        valueType = typeShape(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Existing columns keep their position and type (the incoming schema
    * must contain each of them with an equal type SHAPE — nullability may
    * be stricter, annotations may be absent); columns the table has never
    * seen are appended, forced nullable so old files read as null. */
  private[delta] def mergeSchemas(
      existing: org.apache.spark.sql.types.StructType,
      incoming: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    // resolution is CASE-INSENSITIVE, matching Spark's default and the
    // other alignment paths in this package — an append spelling
    // 'userid' for table column 'userId' is legal, not missing
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val incomingByName = incoming.fields.map(f => lc(f.name) -> f).toMap
    existing.fields.foreach { old =>
      incomingByName.get(lc(old.name)) match {
        case None => throw new IllegalArgumentException(
          s"Append is missing column ${old.name} present in the table schema")
        case Some(nf) if typeShape(nf.dataType) != typeShape(old.dataType) =>
          throw new IllegalArgumentException(
            s"Column ${old.name}: type ${nf.dataType.simpleString} does not " +
              s"match the table's ${old.dataType.simpleString}")
        case _ =>
      }
    }
    val existingNames = existing.fieldNames.map(lc).toSet
    val appended = incoming.fields
      .filterNot(f => existingNames.contains(lc(f.name)))
      .map(_.copy(nullable = true))
    org.apache.spark.sql.types.StructType(existing.fields ++ appended)
  }

  /** Distributed parquet write into a per-commit `batch-<uuid>/`
    * subdirectory that IS the files' final location. Returns the AddFiles
    * (paths relative to the root, partition values parsed from the
    * hive-style layout inside the batch directory with the protocol's
    * escaping rules).
    *
    * No promotion step: the protocol stores relative URIs that may carry
    * directories (partitioned tables always do), and visibility is
    * defined by the LOG, not the directory layout — so moving files to
    * the table root would buy nothing and cost a driver-side
    * rename + getFileStatus round trip PER FILE (and object-store
    * "renames" are full copies). Size and mtime come from the one
    * recursive listing of the batch directory. Uncommitted batch
    * directories are invisible to readers (not in the log) and safe from
    * vacuum (younger than any retention cutoff); on failure the batch
    * directory is deleted.
    *
    * `mapping` (logical → physical, [[ColumnMapping]]): renamed columns
    * keep writing their ORIGINAL parquet name so old and new files decode
    * identically; stats stay keyed by the LOGICAL name data skipping
    * consults. Partition columns cannot be renamed, so `partCols` is
    * unaffected. */
  private[delta] def writeFiles(df: DataFrame, deltaLog: DeltaLog,
                                partCols: Seq[String],
                                mapping: Map[String, String] = Map.empty,
                                meta: Option[Metadata] = None): Seq[AddFile] = {
    val conf = deltaLog.hadoopConf
    val fs = deltaLog.dataPath.getFileSystem(conf)
    val batchName = s"batch-${java.util.UUID.randomUUID().toString.take(12)}"
    val batchDir = new Path(deltaLog.dataPath, batchName)
    try {
      // optimizeWrite: coalesce the batch to ~targetFileSize outputs
      // before writing, using Catalyst's size estimate — ingest is where
      // the small-file problem starts, and coalesce (no shuffle) only
      // ever REDUCES task count, so wide jobs stop emitting confetti
      // files while narrow jobs are untouched
      val shaped = meta
        .filter(DeltaConfigs.OPTIMIZE_WRITE.fromMetadata) match {
        case Some(m) =>
          val target = DeltaConfigs.TARGET_FILE_SIZE.fromMetadata(m)
          val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
          val wanted = math.max(1L,
            (estBytes / BigInt(target)).toLong + 1L)
          // df.rdd constructs an RDD DAG the later write re-plans — a
          // real driver-side cost, but the alternatives are wrong: under
          // AQE executedPlan.outputPartitioning is Unknown(0) before
          // execution, which would silently disable optimizeWrite
          val current = graft.tools.PhaseTimers.time("write.shape") {
            df.rdd.getNumPartitions
          }
          if (wanted < current) df.coalesce(wanted.toInt) else df
        case None => df
      }
      // id-mode tables additionally stamp parquet.field.id metadata so
      // the files we write resolve BY ID for foreign id-mode readers
      val fieldIds = meta.map(_.fieldIdMapping).getOrElse(Map.empty)
      val physDf = physicalProjection(shaped, mapping, fieldIds)
      // the COMMITTED file names are authoritative under the direct-write
      // protocol: a speculated/retried attempt may have left an orphan in
      // the batch dir that must not become an AddFile
      val committedNames = graft.tools.PhaseTimers.time("write.job") {
        DirectWriteCommitProtocol.write(physDf.sparkSession, batchDir.toString) {
          withFieldIdWrite(physDf.sparkSession, fieldIds.nonEmpty) {
            val writer = physDf.write.mode(SaveMode.Overwrite)
            (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
              .parquet(batchDir.toString)
          }
        }
      }
      val files = graft.tools.PhaseTimers.time("write.list") {
        val listed = listParquetFiles(fs, batchDir)
        committedNames.fold(listed)(ns =>
          listed.filter(f => ns(f.getPath.getName)))
      }
      val dataSchema = org.apache.spark.sql.types.StructType(
        df.schema.filterNot(f => partCols.contains(f.name)))
      // index the explicit stats-column list when declared, else the
      // first N data columns (numRecords always rides either way)
      val statsSchema = meta.map { m =>
        val explicit = DeltaConfigs.DATA_SKIPPING_STATS_COLUMNS.fromMetadata(m)
        org.apache.spark.sql.types.StructType(
          if (explicit.nonEmpty) {
            // Spark schemas resolve case-insensitively by default — match
            // the configured list the same way, and REFUSE unknown names:
            // a typo'd/case-mangled entry silently producing stat-less
            // files loses data skipping and the metadata-only aggregate
            // path with no visible symptom until query time at scale.
            val wanted = explicit.map(_.toLowerCase).toSet
            val known = dataSchema.map(_.name.toLowerCase).toSet
            val unknown = wanted.diff(known)
            require(unknown.isEmpty,
              s"${DeltaConfigs.DATA_SKIPPING_STATS_COLUMNS.key} names " +
                s"column(s) not present in the data schema: " +
                s"${unknown.toSeq.sorted.mkString(", ")}")
            dataSchema.filter(f => wanted.contains(f.name.toLowerCase))
          } else dataSchema.take(
            DeltaConfigs.DATA_SKIPPING_NUM_INDEXED_COLS.fromMetadata(m)))
      }.getOrElse(dataSchema)
      val stats = graft.tools.PhaseTimers.time("write.stats") {
        StatsCollector.collectAll(
          df.sparkSession, files.map(_.getPath), statsSchema, conf,
          n => mapping.getOrElse(n, n),
          // the caller-resolved schema IS the index policy — no second cap
          maxCols = Int.MaxValue)
      }
      // opt-in per-file Bloom filters (delta.bloomFilter.columns): one
      // extra columnar pass over only the indexed columns; each file's
      // filter is sized from ITS row count (already in the stats just
      // collected) so the filter never saturates as files grow
      val numRecordsRe = """"numRecords"\s*:\s*(\d+)""".r
      val bloomKey = BloomFilters.batchRelativeKey(batchName) _
      lazy val rowsByFile: Map[String, Long] = files.flatMap { st =>
        stats.get(st.getPath).flatten.flatMap(s =>
          numRecordsRe.findFirstMatchIn(s).map(_.group(1).toLong))
          .map(bloomKey(BloomFilters.keySpelling(st.getPath)) -> _)
      }.toMap
      val blooms: Map[String, (Map[String, String], Int)] = meta
        .filter(m => BloomFilters.indexedColumns(m).nonEmpty)
        .map(m => BloomFilters.build(df.sparkSession, files.map(_.getPath),
          m, n => mapping.getOrElse(n, n), rowsByFile, batchName))
        .getOrElse(Map.empty)
      files.map { st =>
        val relInBatch = st.getPath.toUri.getPath
          .stripPrefix(batchDir.toUri.getPath + "/")
        val rel = s"$batchName/$relInBatch"
        val (fileBlooms, fileBloomBits) =
          blooms.getOrElse(bloomKey(BloomFilters.keySpelling(st.getPath)),
            (Map.empty[String, String], 0))
        AddFile(
          // the protocol stores paths as percent-encoded relative URIs
          // (canonicalization ref: SnapshotImpl.scala:349-362)
          path = new java.net.URI(null, null, rel, null).toString,
          partitionValues = parsePartitionValues(relInBatch, partCols),
          size = st.getLen,
          modificationTime = st.getModificationTime,
          dataChange = true,
          stats = stats.getOrElse(st.getPath, None),
          tags = if (fileBlooms.isEmpty) None
            else Some(fileBlooms.map { case (c, v) =>
              (BloomFilters.TagPrefix + c) -> v
            } + (BloomFilters.BitsTag -> fileBloomBits.toString)))
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        fs.delete(batchDir, true)
        throw e
    }
  }

  /** Rename columns to their physical names and stamp parquet.field.id
    * metadata for id-mode columns — shared by the data-file and
    * change-data-file writers so the two paths cannot diverge. */
  private[write] def physicalProjection(df: DataFrame,
                                        mapping: Map[String, String],
                                        fieldIds: Map[String, Int]): DataFrame =
    if (mapping.isEmpty && fieldIds.isEmpty) df
    else {
      // NESTED ids (dotted paths) cannot ride on a Column alias —
      // metadata below the top level lives in the DataFrame's schema, so
      // reconcile the frame to its own schema with parquet.field.id
      // stamped recursively (Dataset.to carries the specified schema's
      // metadata through; names/types/nullability are unchanged so the
      // reconciliation is a pure metadata projection)
      val hasNested = fieldIds.keysIterator.exists(_.contains('.'))
      val stamped =
        if (!hasNested) df
        else df.to(graft.delta.ColumnMapping.stampFieldIds(df.schema, fieldIds))
      stamped.select(stamped.columns.map { c =>
        val aliased = org.apache.spark.sql.functions.col(s"`$c`")
        val physName = mapping.getOrElse(c, c)
        (if (hasNested) None else fieldIds.get(c)) match {
          case Some(id) => aliased.as(physName,
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong(graft.delta.read.GuardedParquetFileFormat
                .ParquetFieldIdKey, id.toLong).build())
          case None => aliased.as(physName)
        }
      }.toIndexedSeq: _*)
    }

  /** Run `body` with `spark.sql.parquet.fieldId.write.enabled=true` when
    * `enable` is set. Id-mode files MUST carry field ids whatever the
    * session's conf says, and a DataFrameWriter option is NOT enough:
    * Spark's ParquetUtils.prepareWrite re-reads the session conf after
    * writer options merge (verified against the 4.1.2 bytecode) — so the
    * SESSION conf flips around the write. The flip is REF-COUNTED per
    * session: concurrent id-mode writers share one save/restore, so one
    * writer's restore can never land in the middle of another's job and
    * strip its field ids. (Enabling the flag for a concurrent NON-id
    * write in the same session is harmless — it only affects schemas
    * carrying parquet.field.id metadata.) */
  private[write] def withFieldIdWrite[T](session: org.apache.spark.sql.SparkSession,
                                         enable: Boolean)(body: => T): T = {
    if (!enable) return body
    val key = "spark.sql.parquet.fieldId.write.enabled"
    FieldIdWriteLock.synchronized {
      val (depth, saved) =
        Option(fieldIdWriteState.get(session)).getOrElse((0, None))
      if (depth == 0) {
        fieldIdWriteState.put(session, (1, Some(session.conf.getOption(key))))
        session.conf.set(key, "true")
      } else fieldIdWriteState.put(session, (depth + 1, saved))
    }
    try body
    finally FieldIdWriteLock.synchronized {
      val (depth, saved) = fieldIdWriteState.get(session)
      if (depth == 1) {
        saved.flatten match {
          case Some(v) => session.conf.set(key, v)
          case None => session.conf.unset(key)
        }
        fieldIdWriteState.remove(session)
      } else fieldIdWriteState.put(session, (depth - 1, saved))
    }
  }
  private object FieldIdWriteLock
  /** Keyed WEAKLY on the session: a churned-and-dropped session's entry
    * must not pin the whole SparkSession graph (an active write always
    * holds its own strong session reference, so a live entry can never be
    * collected mid-flight). All access is under [[FieldIdWriteLock]]. */
  private val fieldIdWriteState =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      (Int, Option[Option[String]])]

  private def listParquetFiles(fs: FileSystem, dir: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    // local scheme: walk with java.nio — Hadoop's checksummed local FS
    // materializes permission info per listed file by fork+exec'ing `ls`
    // when the native lib is absent (profiled ~140 ms per commit here)
    if (graft.delta.storage.LogStore.isLocalScheme(dir, fs)) {
      import java.nio.file.{Files, Paths}
      val root = Paths.get(dir.toUri.getPath)
      // an EMPTY write under the direct-commit protocol creates no batch
      // dir at all (the default committer's _temporary used to): no files
      if (!Files.isDirectory(root)) return Seq.empty
      val stream = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala.flatMap { p =>
          if (p.getFileName.toString.endsWith(".parquet") &&
              Files.isRegularFile(p)) {
            val attrs = Files.readAttributes(p,
              classOf[java.nio.file.attribute.BasicFileAttributes])
            Some(new org.apache.hadoop.fs.FileStatus(
              attrs.size(), false, 1, 0, attrs.lastModifiedTime().toMillis,
              new Path(dir, root.relativize(p).toString)))
          } else None
        }.toVector
      } finally stream.close()
    } else {
      if (!fs.exists(dir)) return Seq.empty
      val it = fs.listFiles(dir, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) buf += f
      }
      buf.toSeq
    }
  }

  /** `p1=v1/p2=v2/part-xxx.parquet` → Map(p1 -> v1, p2 -> v2), unescaping
    * hive path encoding; `__HIVE_DEFAULT_PARTITION__` → null value (the
    * protocol serializes null partition values as JSON null). */
  private[delta] def parsePartitionValues(
      relPath: String, partCols: Seq[String]): Map[String, String] = {
    val dirs = relPath.split('/').dropRight(1)
    require(dirs.length == partCols.length,
      s"Staged file $relPath does not match partition columns $partCols")
    dirs.map { d =>
      val Array(k, v) = d.split("=", 2)
      val unescaped = ExternalCatalogUtils.unescapePathName(v)
      k -> (if (unescaped == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
            else unescaped)
    }.toMap
  }
}
