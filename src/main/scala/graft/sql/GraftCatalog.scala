package graft.sql

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.delta.{DeltaLog, DeltaOperations, Metadata, TimestampParsing}

/** DSv2 `TableCatalog` over Delta tables — the F9 DDL surface the
  * reference exposes through its Flink catalog (`DeltaCatalog.java:75-257`),
  * Spark-native:
  *
  * {{{
  * spark.sql.catalog.graft           = graft.sql.GraftCatalog
  * spark.sql.catalog.graft.warehouse = /data/warehouse
  *
  * CREATE TABLE graft.db.events (id BIGINT, ts TIMESTAMP) PARTITIONED BY (...)
  * INSERT INTO graft.db.events ...
  * SELECT * FROM graft.db.events VERSION AS OF 3
  * ALTER TABLE graft.db.events ADD COLUMNS (tag STRING)
  * ALTER TABLE graft.db.events SET TBLPROPERTIES (...)
  * DROP TABLE graft.db.events
  * }}}
  *
  * The `_delta_log` is the single source of truth (same stance as the
  * reference's catalog): the warehouse directory IS the metastore —
  * `db/table` paths with a `_delta_log` are tables; schema and
  * partitioning always come from the log, never from stored DDL.
  *
  * Reads and writes resolve through [[V2TableWithV1Fallback]] into the
  * `graft-delta` V1 relation, so scans get the [[graft.delta.read.DeltaFileIndex]]
  * pruning path and INSERTs get the transactional route — one engine,
  * two SQL front doors.
  */
class GraftCatalog extends TableCatalog with StagingTableCatalog {

  /** SQL `GENERATED ALWAYS AS IDENTITY` arrives as `identity.*` field
    * metadata when this capability is declared; [[commitCreate]]
    * translates it to the protocol's `delta.identity.*` keys. */
  override def capabilities()
    : util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  private var catalogName: String = _
  private var warehouse: Path = _

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.warehouse must point at the warehouse dir"))
    warehouse = new Path(wh)
  }

  override def name(): String = catalogName

  private[sql] def tablePath(ident: Identifier): Path =
    new Path(ident.namespace().foldLeft(warehouse)(new Path(_, _)), ident.name())

  private def fs = warehouse.getFileSystem(
    spark.sessionState.newHadoopConf())

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsPath = namespace.foldLeft(warehouse)(new Path(_, _))
    if (!fs.exists(nsPath)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(nsPath).filter(_.isDirectory)
      // hidden staging/trash dirs (.t.staged-x / .t.replaced-x) are NOT
      // tables, even mid-CTAS or after a crashed swap left one behind
      .filterNot(_.getPath.getName.startsWith("."))
      .filter(st => fs.exists(new Path(st.getPath, "_delta_log")))
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    fs.exists(new Path(tablePath(ident), "_delta_log"))

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new GraftTable(catalogName, ident, tablePath(ident).toString, Map.empty)
  }

  /** `VERSION AS OF` — DSv2 hands the version string here. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new GraftTable(catalogName, ident, tablePath(ident).toString,
      Map("versionAsOf" -> version))
  }

  /** `TIMESTAMP AS OF` — DSv2 hands microseconds since epoch. Carried as
    * raw MILLIS: a java.sql.Timestamp.toString round-trip renders in the
    * JVM default timezone while the re-parse reads the SESSION timezone,
    * silently shifting the selected snapshot when the two differ. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new GraftTable(catalogName, ident, tablePath(ident).toString,
      Map("timestampAsOfMillis" -> (timestampMicros / 1000L).toString))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    commitCreate(tablePath(ident).toString, ident, schema, partitions, properties)
    loadTable(ident)
  }

  /** The Column[] overload is the ONLY carrier of SQL identity specs —
    * the default delegation through v2ColumnsToStructType drops them.
    * Identity info lands in field metadata as Spark's `identity.*` keys,
    * which [[commitCreate]] translates to the protocol's. */
  override def createTable(ident: Identifier,
                           columns: Array[org.apache.spark.sql.connector.catalog.Column],
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val schema = StructType(columns.map { c =>
      require(c.defaultValue() == null,
        s"Column DEFAULT values are not supported (column ${c.name()})")
      val b = new org.apache.spark.sql.types.MetadataBuilder()
      Option(c.comment()).foreach(b.putString("comment", _))
      Option(c.identityColumnSpec()).foreach { spec =>
        b.putLong("identity.start", spec.getStart)
        b.putLong("identity.step", spec.getStep)
        b.putBoolean("identity.allowExplicitInsert", spec.isAllowExplicitInsert)
      }
      org.apache.spark.sql.types.StructField(
        c.name(), c.dataType(), c.nullable(), b.build())
    })
    createTable(ident, schema, partitions, properties)
  }

  /** Write the table-creating commit (protocol + metadata, no data) at
    * `path` — shared by direct CREATE TABLE and the staged (CTAS) path. */
  private def commitCreate(path: String, ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Unit = {
    val partitionCols = partitions.toSeq.map {
      case t if t.name() == "identity" && t.references().length == 1 =>
        t.references().head.fieldNames().mkString(".")
      case other => throw new UnsupportedOperationException(
        s"Only identity partitioning is supported, got $other")
    }
    // keep USER properties; strip only Spark's reserved/injected keys
    // (ALTER ... SET TBLPROPERTIES accepts arbitrary keys — CREATE must
    // not silently behave differently)
    val reserved = Set(
      TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_COMMENT, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_IS_MANAGED_LOCATION,
      "path", "transient_lastDdlTime")
    val config = properties.asScala.toMap
      .filter { case (k, _) =>
        !reserved.contains(k) && !k.startsWith("option.") }
    // SQL identity columns (Spark's `identity.*` field metadata) become
    // the protocol's delta.identity.* keys + a writer-6 protocol
    val withIdentity = org.apache.spark.sql.types.StructType(
      schema.fields.map { f =>
        if (!f.metadata.contains("identity.start")) f
        else {
          require(f.dataType == org.apache.spark.sql.types.LongType,
            s"Identity column ${f.name} must be BIGINT")
          val b = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong(graft.delta.write.IdentityColumns.StartKey,
              f.metadata.getLong("identity.start"))
            .putLong(graft.delta.write.IdentityColumns.StepKey,
              f.metadata.getLong("identity.step"))
          if (f.metadata.contains("identity.allowExplicitInsert") &&
              f.metadata.getBoolean("identity.allowExplicitInsert"))
            b.putBoolean(graft.delta.write.IdentityColumns.AllowExplicitKey,
              true)
          f.copy(metadata = b.build())
        }
      })
    val hasIdentity = withIdentity.fields.exists(
      _.metadata.contains(graft.delta.write.IdentityColumns.StartKey))
    val log = DeltaLog.forTable(spark, path)
    val txn = log.startTransaction()
    txn.updateMetadata(Metadata(
      name = Some(ident.name()),
      schemaString = Some(withIdentity.json),
      partitionColumns = partitionCols,
      configuration = config))
    txn.commit(
      if (hasIdentity) Seq(graft.delta.Protocol(1, 6)) else Nil,
      DeltaOperations.CreateTable)
  }

  // ------------------------------------------------ atomic CTAS / RTAS (F9)
  // CREATE TABLE AS SELECT without StagingTableCatalog runs as
  // create-then-append: a failed SELECT leaves an empty table behind. The
  // staged variant builds the table in a hidden sibling directory and
  // RENAMES it into place only after the write commits — a failed CTAS
  // leaves NO table, a failed RTAS leaves the ORIGINAL (the transactional
  // DDL stance of the reference's Flink catalog, DeltaCatalog.java:75-257).
  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    stage(ident, schema, partitions, properties, replaceExisting = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String]): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    stage(ident, schema, partitions, properties, replaceExisting = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties,
      replaceExisting = tableExists(ident))

  private def stage(ident: Identifier, schema: StructType,
                    partitions: Array[Transform],
                    properties: util.Map[String, String],
                    replaceExisting: Boolean): StagedTable = {
    val finalPath = tablePath(ident)
    val staging = new Path(finalPath.getParent,
      s".${ident.name()}.staged-${java.util.UUID.randomUUID().toString.take(8)}")
    if (!fs.exists(staging.getParent)) fs.mkdirs(staging.getParent)
    commitCreate(staging.toString, ident, schema, partitions, properties)
    new GraftStagedTable(catalogName, ident, staging, finalPath, replaceExisting, spark)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val log = DeltaLog.forTable(spark, tablePath(ident).toString)
    val txn = log.startTransaction()
    val before = txn.snapshot.metadata
    var schema = before.schema
    var config = before.configuration
    var ops = Vector.empty[String]
    def droppedPhysical: Set[String] =
      graft.delta.ColumnMapping.droppedPhysical(config)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.isNullable,
          "New columns must be nullable (existing rows have no value)")
        val path = add.fieldNames().init.toSeq
        val name = add.fieldNames().last
        // a column re-added after a DROP must NOT resurrect the dropped
        // column's bytes from old files — and the same holds for a name
        // a RENAMED column still OWNS physically (rename a->b keeps
        // physical 'a'; re-adding logical 'a' must not bind those bytes
        // nor collide with b's writes): give it a fresh physical name
        // (Delta's column-mapping stance); reads of old files then
        // decode it as null, exactly like any other added column
        val inUsePhysical = schema.fields
          .map(f => graft.delta.ColumnMapping.physicalName(f)).toSet
        val metadata =
          if (path.isEmpty &&
              (droppedPhysical.contains(name) || inUsePhysical.contains(name))) {
            new org.apache.spark.sql.types.MetadataBuilder()
              .putString(graft.delta.ColumnMapping.PhysicalNameKey,
                s"$name-${java.util.UUID.randomUUID().toString.take(8)}")
              .build()
          } else org.apache.spark.sql.types.Metadata.empty
        val newField = org.apache.spark.sql.types.StructField(
          name, add.dataType(), nullable = true, metadata = metadata)
        // accepted DDL must not be silently reordered: honor FIRST/AFTER
        // for top-level adds, reject positions we cannot place
        schema = (add.position(), path) match {
          case (null, _) => SchemaAlter.addAt(schema, path, newField)
          case (_, p) if p.nonEmpty =>
            throw new UnsupportedOperationException(
              "Column position is only supported for top-level columns")
          case (pos, _) =>
            import org.apache.spark.sql.connector.catalog.TableChange._
            val fields = schema.fields
            val at = pos match {
              case _: First => 0
              case after: After =>
                val i = fields.indexWhere(_.name == after.column())
                require(i >= 0, s"AFTER column ${after.column()} not found")
                i + 1
              case other => throw new UnsupportedOperationException(
                s"Unsupported column position $other")
            }
            require(!fields.exists(_.name == name),
              s"Column $name already exists")
            StructType((fields.take(at) :+ newField) ++ fields.drop(at))
        }
        ops :+= "ADD COLUMNS" // ref Operation.java ADD_COLUMNS
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "Only top-level DROP COLUMN is supported")
        val name = del.fieldNames().head
        if (!schema.fieldNames.contains(name)) {
          require(del.ifExists(), s"Unknown column $name")
        } else {
          require(!before.partitionColumns.contains(name),
            s"Cannot drop partition column $name")
          require(schema.size > 1, "Cannot drop the table's only column")
          // metadata-only: the bytes stay in old files but the PHYSICAL
          // name is quarantined so no later column can ever read them
          val phys = graft.delta.ColumnMapping.physicalName(schema(name))
          config += GraftCatalog.DroppedPhysicalKey ->
            (droppedPhysical + phys).toSeq.sorted.mkString(",")
          schema = StructType(schema.fields.filterNot(_.name == name))
          ops :+= "DROP COLUMNS"
        }
      case rename: TableChange.RenameColumn =>
        require(rename.fieldNames().length == 1,
          "Only top-level RENAME COLUMN is supported")
        val from = rename.fieldNames().head
        val to = rename.newName()
        require(schema.fieldNames.contains(from), s"Unknown column $from")
        require(!before.partitionColumns.contains(from),
          s"Cannot rename partition column $from (historical commits key " +
            "partition values by this name)")
        require(!schema.fieldNames.contains(to), s"Column $to already exists")
        // metadata-only: the column keeps its ORIGINAL parquet name, read
        // and write paths substitute it via Metadata.columnMapping
        schema = StructType(schema.fields.map { f =>
          if (f.name != from) f
          else f.copy(name = to, metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putString(graft.delta.ColumnMapping.PhysicalNameKey,
                graft.delta.ColumnMapping.physicalName(f))
              .build())
        })
        ops :+= "CHANGE COLUMN" // ref Operation.java CHANGE_COLUMN
      case comment: TableChange.UpdateColumnComment =>
        schema = SchemaAlter.updateAt(schema, comment.fieldNames().toSeq,
          _.withComment(comment.newComment()))
        ops :+= "CHANGE COLUMN"
      case set: TableChange.SetProperty =>
        config += set.property() -> set.value()
        ops :+= "SET TBLPROPERTIES"
      case rm: TableChange.RemoveProperty =>
        config -= rm.property()
        ops :+= "UNSET TBLPROPERTIES"
      case cb: TableChange.ClusterBy =>
        // Spark 4's NATIVE `ALTER TABLE ... CLUSTER BY` grammar routes
        // here per-catalog (the parser intercept covers only path
        // literals), so a second registered catalog keeps its own
        // clustering DDL. setClusteringColumns validates + commits its
        // own CLUSTER BY transaction; `NONE` arrives as zero columns.
        require(changes.size == 1,
          "CLUSTER BY cannot combine with other ALTER TABLE changes")
        graft.delta.DeltaTable.forPath(spark, tablePath(ident).toString)
          .setClusteringColumns(
            cb.clusteringColumns().toSeq.map(_.fieldNames().mkString(".")))
        return loadTable(ident)
      case other => throw new UnsupportedOperationException(
        s"Unsupported ALTER TABLE change: $other")
    }
    // Once ANY column carries a physical-name mapping, annotate the
    // WHOLE schema with Delta's column-mapping metadata (stable field
    // ids + physicalName per field), set mode=name, and upgrade the
    // protocol to (2, 5) — exactly what delta-spark does on upgrade, so
    // a FOREIGN Delta reader decodes our renamed/re-added columns
    // instead of choking on a private metadata key. Idempotent: ids are
    // assigned once and kept.
    val hasMapping = schema.fields.exists(f =>
      f.metadata.contains(graft.delta.ColumnMapping.PhysicalNameKey) ||
        f.metadata.contains(graft.delta.ColumnMapping.DeltaPhysicalNameKey))
    var protocolUpgrade: Seq[graft.delta.Action] = Nil
    if (hasMapping) {
      val IdKey = "delta.columnMapping.id"
      var maxId = config.get("delta.columnMapping.maxColumnId")
        .map(_.toLong).getOrElse(0L)
      schema = org.apache.spark.sql.types.StructType(schema.fields.map { f =>
        val b = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        if (!f.metadata.contains(IdKey)) { maxId += 1; b.putLong(IdKey, maxId) }
        b.putString(graft.delta.ColumnMapping.DeltaPhysicalNameKey,
          graft.delta.ColumnMapping.physicalName(f))
        f.copy(metadata = b.build())
      })
      config += graft.delta.ColumnMapping.DeltaModeKey -> "name"
      config += "delta.columnMapping.maxColumnId" -> maxId.toString
      val p = txn.snapshot.protocol
      if (p.minReaderVersion < 2 || p.minWriterVersion < 5) {
        protocolUpgrade = Seq(graft.delta.Protocol(
          math.max(p.minReaderVersion, 2), math.max(p.minWriterVersion, 5)))
      }
    }
    // a fully no-op ALTER (e.g. DROP COLUMN IF EXISTS on a missing
    // column) must not commit a junk empty-operation version
    if (ops.nonEmpty) {
      txn.updateMetadata(before.copy(
        schemaString = Some(schema.json),
        configuration = config),
        allowColumnRemoval = ops.contains("DROP COLUMNS"))
      txn.commit(protocolUpgrade, ops.distinct.mkString(" + "))
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    // evict ONLY this table — other tables keep their cached snapshots
    DeltaLog.invalidate(spark, tablePath(ident).toString)
    // the table EXISTS, so a false here is a deletion FAILURE (permission,
    // transient FS fault), not "nothing to drop" — surfacing it as the
    // latter would make DROP TABLE report success over a live table.
    // One exception: a concurrent DROP winning the race between the
    // existence check and the delete also yields false, but then the
    // table is GONE — the outcome the caller asked for holds.
    if (!fs.delete(tablePath(ident), true) && tableExists(ident)) {
      throw new IllegalStateException(
        s"DROP TABLE: deleting ${tablePath(ident)} failed")
    }
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val src = tablePath(oldIdent)
    val dest = tablePath(newIdent)
    if (!fs.exists(dest.getParent)) fs.mkdirs(dest.getParent)
    DeltaLog.invalidate(spark, src.toString)
    DeltaLog.invalidate(spark, dest.toString) // a stale log from a dropped table
    // capture the source table's IDENTITY (metadata id) before the move:
    // the post-rename nesting check below must distinguish "lost a race
    // (our whole table nested inside a winner's)" from "the renamed table
    // legitimately CONTAINS a nested delta directory named like the
    // source leaf" — existence of <srcName>/_delta_log alone cannot
    val srcTableId: Option[String] =
      try Some(DeltaLog.forTable(spark, src.toString).update().metadata.id)
      catch { case scala.util.control.NonFatal(_) => None }
    DeltaLog.invalidate(spark, src.toString)
    if (!fs.rename(src, dest)) {
      throw new IllegalStateException(s"rename $oldIdent -> $newIdent failed")
    }
    // the exists/rename pair is check-then-act (the CTAS commit had the
    // same hole): a concurrent CREATE winning `dest` in between makes
    // this rename NEST the source directory inside the winner's table
    // (and return true) — the renamed table would silently become a
    // hidden subdirectory. The nested dir keeps the source's name and
    // carries its _delta_log; move it BACK so the source table survives,
    // then concede the destination. Undo ONLY when the nested log's
    // metadata id matches the recorded source id — a successful rename
    // is never unwound on the strength of a name collision alone.
    val nested = new Path(dest, src.getName)
    if (fs.exists(new Path(nested, "_delta_log"))) {
      val nestedId: Option[String] =
        try Some(DeltaLog.forTable(spark, nested.toString).update().metadata.id)
        catch { case scala.util.control.NonFatal(_) => None }
      DeltaLog.invalidate(spark, nested.toString)
      val lostRace = (nestedId, srcTableId) match {
        case (Some(a), Some(b)) => a == b
        // Either identity unreadable: a genuinely lost race here would be
        // reported as success while the source sits silently nested inside
        // the winner's directory — table loss with no error. Ambiguity
        // must surface to the operator, not resolve to either guess
        // (the old unconditional-restore could unwind a legitimate nested
        // dir; silent success can lose a table).
        case _ => throw new IllegalStateException(
          s"RENAME $oldIdent -> $newIdent: the rename itself COMPLETED — " +
            s"the table currently lives at $dest — but a nested delta " +
            s"directory was found at $nested whose identity could not be " +
            s"read (nested id=$nestedId, source id=$srcTableId). Cannot " +
            "decide between a lost CREATE race (the table must be restored " +
            "from the nested path) and the table's own nested content; " +
            "adjudicate manually before using either table. Note a retry " +
            s"will report NoSuchTableException($oldIdent) because the move " +
            "took effect on disk.")
      }
      if (lostRace) {
        if (!fs.rename(nested, src)) {
          throw new IllegalStateException(
            s"RENAME $oldIdent -> $newIdent lost a race for $dest and could " +
              s"not restore the source; the table is preserved at $nested")
        }
        DeltaLog.invalidate(spark, dest.toString)
        throw new TableAlreadyExistsException(newIdent)
      }
    }
  }
}

object GraftCatalog {
  /** Table property holding the comma-joined PHYSICAL names of dropped
    * columns: a later ADD COLUMNS reusing such a name gets a fresh
    * physical name instead, so old files' bytes never resurface. */
  /** One definition — the READ side (ColumnMapping) owns the key and the
    * parse rule; this alias only keeps existing call sites compiling. */
  val DroppedPhysicalKey: String = graft.delta.ColumnMapping.DroppedPhysicalKey
}

/** The catalog's table handle: schema/partitioning come from the LIVE
  * snapshot; reads and writes fall back to the `graft-delta` V1 relation
  * (the same integration shape Delta-on-Spark uses). */
class GraftTable(
    catalogName: String,
    ident: Identifier,
    private[sql] val path: String,
    readOptions: Map[String, String])
  extends org.apache.spark.sql.graft.V1FallbackTable with SupportsWrite
  with SupportsDelete {

  private def spark: SparkSession = SparkSession.active
  private lazy val snapshot = readOptions.get("versionAsOf") match {
    case Some(v) =>
      DeltaLog.forTable(spark, path).getSnapshotForVersionAsOf(v.toLong)
    case None => readOptions.get("timestampAsOfMillis") match {
      case Some(ms) => DeltaLog.forTable(spark, path)
        .getSnapshotForTimestampAsOf(ms.toLong)
      case None => readOptions.get("timestampAsOf") match {
        case Some(ts) => DeltaLog.forTable(spark, path)
          .getSnapshotForTimestampAsOf(TimestampParsing.parseMillis(spark, ts))
        case None => DeltaLog.forTable(spark, path).update()
      }
    }
  }

  override def name(): String =
    (catalogName +: ident.namespace() :+ ident.name()).mkString(".")

  override def schema(): StructType = snapshot.metadata.schema

  override def partitioning(): Array[Transform] =
    snapshot.metadata.partitionColumns.map(Expressions.identity).toArray

  override def properties(): util.Map[String, String] =
    (snapshot.metadata.configuration ++ Map(
      TableCatalog.PROP_PROVIDER -> "graft-delta",
      TableCatalog.PROP_LOCATION -> path)).asJava

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  /** INSERT INTO / INSERT OVERWRITE via the V1 write fallback into the
    * transactional writer (never a raw file write into the table dir). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                                overwriteParam: Boolean): Unit = {
              val ow = overwrite || overwriteParam
              graft.delta.write.DeltaWriter.write(data, path,
                if (ow) org.apache.spark.sql.SaveMode.Overwrite
                else org.apache.spark.sql.SaveMode.Append,
                partitionBy =
                  if (ow) snapshot.metadata.partitionColumns else Nil)
            }
          }
      }
    }

  /** SQL `DELETE FROM` (and `TRUNCATE TABLE` via the AlwaysTrue default):
    * the pushed WHERE becomes a Column for the engine's DML layer, which
    * keeps partition-only deletes metadata-only and bounds rewrite
    * deletes by pruning + stats skipping. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter])
    : Boolean = filters.forall(f => FilterToColumn.convert(f).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter])
    : Unit = {
    val cond = filters.toSeq.flatMap(FilterToColumn.convert)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    graft.delta.DeltaTable.forPath(spark, path).delete(cond)
  }

  /** The V1 relation batch reads resolve to (DeltaFileIndex pruning,
    * transactional inserts) — wired by GraftExtensions' conversion rule. */
  private[graft] def v1Relation: graft.delta.read.InsertableDeltaRelation =
    new graft.delta.read.InsertableDeltaRelation(snapshot, path)

  override def v1Table: CatalogTable = CatalogTable(
    identifier = TableIdentifier(ident.name(),
      ident.namespace().lastOption, Some(catalogName)),
    tableType = CatalogTableType.EXTERNAL,
    storage = CatalogStorageFormat.empty.copy(
      locationUri = Some(new java.net.URI(path)),
      properties = Map("path" -> path) ++ readOptions),
    schema = snapshot.metadata.schema,
    provider = Some("graft-delta"),
    partitionColumnNames = snapshot.metadata.partitionColumns)
}

/** A table staged in a hidden sibling directory; `commitStagedChanges`
  * renames it into place (replacing atomically via a trash-rename when the
  * target exists), `abortStagedChanges` deletes it. COMPOSES a [[GraftTable]]
  * rather than extending it so the extension's read-conversion rule (which
  * matches `GraftTable` relations) never rewrites the staged write target. */
private[sql] class GraftStagedTable(
    catalogName: String,
    ident: Identifier,
    staging: Path,
    finalPath: Path,
    replaceExisting: Boolean,
    spark: SparkSession)
  extends StagedTable with SupportsWrite {

  private val inner = new GraftTable(catalogName, ident, staging.toString, Map.empty)
  private def fs = finalPath.getFileSystem(spark.sessionState.newHadoopConf())

  override def name(): String = inner.name()
  override def schema(): StructType = inner.schema()
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def properties(): util.Map[String, String] = inner.properties()
  override def capabilities(): util.Set[TableCapability] = inner.capabilities()
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    inner.newWriteBuilder(info)

  override def commitStagedChanges(): Unit = {
    DeltaLog.invalidate(spark, staging.toString)
    if (replaceExisting && fs.exists(finalPath)) {
      // replaced table moves aside first so a failed swap restores it
      val trash = new Path(finalPath.getParent,
        s".${finalPath.getName}.replaced-${java.util.UUID.randomUUID().toString.take(8)}")
      DeltaLog.invalidate(spark, finalPath.toString)
      if (!fs.rename(finalPath, trash)) {
        throw new IllegalStateException(s"REPLACE: cannot move aside $finalPath")
      }
      if (!fs.rename(staging, finalPath)) {
        fs.rename(trash, finalPath)
        throw new IllegalStateException(s"REPLACE: swap into $finalPath failed")
      }
      // same nesting hazard as the CREATE branch below: a concurrent
      // CREATE landing between the move-aside and the swap makes this
      // rename nest staging inside it — keep the interloper, keep the
      // moved-aside copy for manual recovery, and fail loudly
      val nestedSwap = new Path(finalPath, staging.getName)
      if (fs.exists(nestedSwap)) {
        fs.delete(nestedSwap, true)
        DeltaLog.invalidate(spark, finalPath.toString)
        throw new IllegalStateException(
          s"REPLACE: a concurrent CREATE won $finalPath during the swap; " +
            s"the replaced table was preserved at $trash")
      }
      fs.delete(trash, true)
    } else {
      DeltaLog.invalidate(spark, finalPath.toString)
      // re-check the destination: Hadoop rename onto an EXISTING directory
      // moves the source INSIDE it and reports success — a concurrent
      // CREATE landing during a long CTAS would silently swallow this
      // table into a hidden subdirectory of the winner's
      if (fs.exists(finalPath)) {
        fs.delete(staging, true)
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(ident)
      }
      if (!fs.rename(staging, finalPath)) {
        throw new IllegalStateException(s"CTAS: rename $staging -> $finalPath failed")
      }
      // the exists/rename pair above is still check-then-act: a winner
      // landing IN BETWEEN makes the rename nest staging INSIDE the
      // winner's directory (and return true), and the winner's own
      // _delta_log would satisfy a bare existence check — the losing
      // CTAS would report success for data hidden under the winner's
      // table. The staged dir's uuid name cannot occur in real table
      // data, so its presence under finalPath IS the lost race.
      val nested = new Path(finalPath, staging.getName)
      if (fs.exists(nested)) {
        fs.delete(nested, true)
        DeltaLog.invalidate(spark, finalPath.toString)
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(ident)
      }
      if (!fs.exists(new Path(finalPath, "_delta_log"))) {
        throw new IllegalStateException(s"CTAS: rename $staging -> $finalPath failed")
      }
    }
  }

  override def abortStagedChanges(): Unit = {
    DeltaLog.invalidate(spark, staging.toString)
    fs.delete(staging, true)
  }
}
