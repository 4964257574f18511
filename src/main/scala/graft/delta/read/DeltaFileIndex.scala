package graft.delta.read

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType

import graft.delta.{AddFile, Snapshot}

/** A Catalyst [[FileIndex]] over one Delta snapshot.
  *
  * This is where the reference's scan-side optimizations become native
  * Spark behavior (SURVEY §4): the file list comes from the transaction
  * log, so
  *
  *  - partition pruning happens here in `listFiles` — Catalyst's
  *    PruneFileSourcePartitions pushes partition filters to us and we
  *    evaluate them per distinct partition tuple (S2/H3 semantics);
  *  - file-level data skipping from AddFile stats runs in the same pass;
  *  - file sizes come from AddFile metadata, so planning makes zero
  *    per-file filesystem RPCs (the reference fabricates block locations
  *    for the same reason, DeltaHelper.scala:170-186);
  *  - partition values are decoded from the log's string map, NOT from
  *    directory names — Delta semantics require log-supplied values
  *    (hive/DeltaInputFormat.scala:43-45);
  *  - each listed file carries its deletion-vector descriptor, if any, as
  *    the constant `_metadata.dv_descriptor` of its splits: the task that
  *    reads the file drops its deleted rows itself ([[LiveRows]]), and
  *    only files that survive pruning ever bring a bitmap into play.
  *
  * The file list is either a driver-side `Seq[AddFile]` (small logs, DML
  * rewrites over known files) or a `Dataset[AddFile]` from the
  * distributed log replay — then pruning itself runs as a Spark job via
  * [[FilePruning]] and only SURVIVING files are collected, so a scan of
  * a million-file table with a selective partition predicate never
  * materializes the full file list on the driver.
  *
  * Split sizing stays with Spark (`spark.sql.files.maxPartitionBytes`,
  * default 128MB — matching the reference's `parquet.block.size` choice).
  */
class DeltaFileIndex private (
    spark: SparkSession,
    dataPath: Path,
    metadata: graft.delta.Metadata,
    source: Either[Seq[graft.delta.AddFile], Dataset[AddFile]],
    knownSizeInBytes: Option[() => Long]) extends FileIndex {

  def this(spark: SparkSession, dataPath: Path, metadata: graft.delta.Metadata,
           addFiles: Seq[graft.delta.AddFile]) =
    this(spark, dataPath, metadata, Left(addFiles), None)

  def this(spark: SparkSession, snapshot: Snapshot) =
    this(spark, snapshot.deltaLog.dataPath, snapshot.metadata,
      snapshot.fileState, Some(() => snapshot.sizeInBytes))

  override def rootPaths: Seq[Path] = Seq(dataPath)

  override def partitionSchema: StructType = metadata.partitionSchema

  private def absolutePath(child: String): Path =
    PartitionUtils.absolutePath(dataPath, child)

  /** COUNT(*) from file statistics alone — `Some(total)` only when EVERY
    * active file records `numRecords` and none carries a deletion vector
    * (a shade changes the visible row count through the filter
    * [[LiveRows]] plans above this relation). The distributed source
    * aggregates in a Spark job over the narrow AddFile dataset; the scan
    * of actual data files — the 100 TB — never happens. */
  lazy val metadataOnlyCount: Option[Long] =
    metadataAggregate(Seq(DeltaFileIndex.StarSpec))
      .map(_.head.asInstanceOf[Long])

  /** Prune to the files any of whose rows can match; distributed source →
    * the pruning runs as a Spark job and collects survivors only. Data
    * filters on generated-column SOURCES first derive extra partition
    * conjuncts ([[GeneratedPartitionFilters]]) so the day-partitioned-by-
    * timestamp table prunes on a `ts` predicate too. */
  private def prunedFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[graft.delta.AddFile] = {
    val allPartFilters = partitionFilters ++
      GeneratedPartitionFilters.derive(metadata, dataFilters, spark)
    source match {
      case Left(files) =>
        FilePruning.pruneLocal(files, partitionSchema, allPartFilters,
          dataFilters, metadata.dataSchema)
      case Right(ds) =>
        FilePruning.prune(ds, partitionSchema, allPartFilters, dataFilters,
          metadata.dataSchema).collect().toSeq
    }
  }

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val files = prunedFiles(partitionFilters, dataFilters)
    if (partitionSchema.isEmpty) {
      Seq(PartitionDirectory(org.apache.spark.sql.catalyst.InternalRow.empty,
        files.map(toFileStatus)))
    } else {
      files.groupBy(_.partitionValues).toSeq.map { case (values, group) =>
        PartitionDirectory(
          PartitionUtils.partitionRow(partitionSchema, values),
          group.map(toFileStatus))
      }
    }
  }

  /** Stat-ed lengths of size-less AddFiles, memoized per path: planning
    * calls listFiles more than once per query (and once per query
    * thereafter) — without the memo every pass would re-pay one blocking
    * driver RPC per size-omitted file. Data files are immutable once
    * committed, so a stat-ed length never goes stale. */
  private val statLenCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def toFileStatus(add: graft.delta.AddFile): FileStatusWithMetadata = {
    // a 0-length status plans ZERO splits and the file is silently never
    // read — a derived-delete CDF entry built from a RemoveFile without
    // size (optional per protocol; foreign writers omit it) would drop
    // its delete rows. Stat the real length instead; bounded by the
    // commit's size-less files, one driver RPC each, memoized.
    val size =
      if (add.size > 0L) add.size
      else statLenCache.computeIfAbsent(add.path, _ => {
        val p = absolutePath(add.path)
        p.getFileSystem(spark.sessionState.newHadoopConf())
          .getFileStatus(p).getLen
      }).longValue()
    FileStatusWithMetadata(new FileStatus(size, false, 1, 128L * 1024 * 1024,
      add.modificationTime, absolutePath(add.path)), DvFilter.fileMetadata(add))
  }

  override def inputFiles: Array[String] = source match {
    case Left(files) => files.map(f => absolutePath(f.path).toString).toArray
    case Right(ds) =>
      import org.apache.spark.sql.functions.col
      val dp = dataPath.toString
      ds.select(col("path")).collect()
        .map(r => PartitionUtils.absoluteFileName(new Path(dp), r.getString(0)))
  }

  /** Metadata-only aggregate evaluation over the active files: the
    * values of `specs` (COUNT(*), COUNT(col), MIN/MAX(col)) computed
    * from stats alone — `None` unless EVERY file certifies every spec
    * (numRecords present; per-column nullCount for COUNT(col); min/max
    * present or the file provably all-null for MIN/MAX) and no file
    * carries a deletion vector. Returned values are Catalyst-internal.
    *
    * The fold runs as partial states merged associatively: one pass on
    * the driver for driver-bounded file lists, `mapPartitions` + reduce
    * for distributed state (per-partition state is spec-count sized —
    * the file list never collects). String and float/double columns are
    * excluded by [[DeltaFileIndex.internalValue]]: parquet binary stats
    * may be writer-truncated bounds (not achieved values) and float
    * extrema interact with NaN ordering. */
  def metadataAggregate(specs: Seq[DeltaFileIndex.MetaAggSpec],
                        partitionFilters: Seq[Expression] = Nil)
      : Option[Seq[Any]] = {
    import DeltaFileIndex._
    if (specs.isEmpty) return None
    // partition-column specs answer from partitionValues (exact, full
    // text — even strings, which file stats cannot serve); data-column
    // specs answer from stats
    val partCols = metadata.partitionColumns.map(_.toLowerCase).toSet
    def typedOk(c: String, dt: org.apache.spark.sql.types.DataType) =
      if (partCols(c.toLowerCase)) partitionAggregableType(dt)
      else aggregableType(dt)
    if (specs.exists {
      case MinSpec(c, dt) => !typedOk(c, dt)
      case MaxSpec(c, dt) => !typedOk(c, dt)
      case _ => false
    }) return None
    val specsLocal = specs.toIndexedSeq
    val state = source match {
      case Left(files) =>
        val pruned =
          if (partitionFilters.isEmpty) files
          else PartitionUtils.filterFileList(
            partitionSchema, files, partitionFilters)
        foldFiles(pruned.iterator, specsLocal, partCols)
      case Right(ds) =>
        val pruned =
          if (partitionFilters.isEmpty) ds
          else FilePruning.prune(ds, partitionSchema, partitionFilters,
            Nil, metadata.dataSchema)
        implicit val enc = org.apache.spark.sql.Encoders.kryo[AggState]
        // partial states are spec-count sized; partition count of them
        // reach the driver, never the file list
        val partials = pruned.mapPartitions(it =>
          Iterator.single(foldFiles(it, specsLocal, partCols))).collect()
        partials.foldLeft(foldFiles(Iterator.empty, specsLocal, partCols))(
          mergeStates(specsLocal, _, _))
    }
    if (!state.ok) None
    else {
      val values = specsLocal.zip(state.accs).map {
        case (StarSpec, acc) => Some(acc.count)
        case (CountColSpec(_), acc) => Some(acc.count)
        case (MinSpec(_, dt), acc) => acc.text match {
          case Some(t) => internalValue(t, dt) // None = unconvertible: bail
          case None => Some(null) // provably all-null column
        }
        case (MaxSpec(_, dt), acc) => acc.text match {
          case Some(t) => internalValue(t, dt)
          case None => Some(null)
        }
      }
      if (values.exists(_.isEmpty)) None else Some(values.map(_.get))
    }
  }

  /** Grouped variant of [[metadataAggregate]]: `GROUP BY` over PARTITION
    * columns only — one result row per distinct grouping tuple, each
    * folded from that slice's files. Returns (raw partition-value map,
    * agg values) per group; groups with zero rows are dropped (SQL
    * emits no row for an empty group). `None` whenever any group's fold
    * cannot certify any spec — all-or-nothing, like the ungrouped form.
    *
    * Scale shape: distributed state groups the narrow AddFile dataset by
    * the grouping texts in a Spark job; only group-count-bounded fold
    * states reach the driver. */
  def metadataGroupedAggregate(groupCols: Seq[String],
                               specs: Seq[DeltaFileIndex.MetaAggSpec],
                               partitionFilters: Seq[Expression] = Nil)
      : Option[Seq[(Map[String, String], Seq[Any])]] = {
    import DeltaFileIndex._
    val partCols = metadata.partitionColumns.map(_.toLowerCase).toSet
    if (groupCols.isEmpty ||
        !groupCols.forall(c => partCols(c.toLowerCase))) return None
    // fold a hidden COUNT(*) first: it certifies numRecords and drops
    // empty groups
    val allSpecs = (StarSpec +: specs).toIndexedSeq
    def typedOk(c: String, dt: org.apache.spark.sql.types.DataType) =
      if (partCols(c.toLowerCase)) partitionAggregableType(dt)
      else aggregableType(dt)
    if (specs.exists {
      case MinSpec(c, dt) => !typedOk(c, dt)
      case MaxSpec(c, dt) => !typedOk(c, dt)
      case _ => false
    }) return None
    val gCols = groupCols.toIndexedSeq
    // key = grouping-column texts; a MISSING key (column mapping's
    // physical names, foreign minimal adds) poisons the whole rewrite
    def keyOf(f: AddFile): Option[IndexedSeq[Option[String]]] = {
      val vs = gCols.map(c => f.partitionValues.collectFirst {
        case (k, v) if k.equalsIgnoreCase(c) => Option(v)
      })
      if (vs.exists(_.isEmpty)) None else Some(vs.map(_.get))
    }
    val grouped: Option[Seq[(IndexedSeq[Option[String]], AggState)]] =
      source match {
        case Left(files) =>
          val pruned =
            if (partitionFilters.isEmpty) files
            else PartitionUtils.filterFileList(
              partitionSchema, files, partitionFilters)
          val keyed = pruned.map(f => (keyOf(f), f))
          if (keyed.exists(_._1.isEmpty)) None
          else Some(keyed.groupBy(_._1.get).toSeq.map { case (k, fs) =>
            (k, foldFiles(fs.map(_._2).iterator, allSpecs, partCols))
          })
        case Right(ds) =>
          val pruned =
            if (partitionFilters.isEmpty) ds
            else FilePruning.prune(ds, partitionSchema, partitionFilters,
              Nil, metadata.dataSchema)
          implicit val kEnc = org.apache.spark.sql.Encoders
            .kryo[Option[IndexedSeq[Option[String]]]]
          implicit val outEnc = org.apache.spark.sql.Encoders
            .kryo[(Option[IndexedSeq[Option[String]]], AggState)]
          val folded = pruned.groupByKey(keyOf)
            .mapGroups((k, it) => (k, foldFiles(it, allSpecs, partCols)))
            .collect() // group-count bounded
          if (folded.exists(_._1.isEmpty)) None
          else Some(folded.toSeq.map { case (k, st) => (k.get, st) })
      }
    grouped.flatMap { gs =>
      if (gs.exists(!_._2.ok)) None
      else {
        val rows = gs
          .filter(_._2.accs.head.count > 0L) // hidden COUNT(*): drop empty
          .map { case (k, st) =>
            val rawMap = gCols.zip(k).map { case (c, v) =>
              c -> v.orNull
            }.toMap
            val values = specs.toIndexedSeq.zip(st.accs.tail).map {
              case (StarSpec, acc) => Some(acc.count)
              case (CountColSpec(_), acc) => Some(acc.count)
              case (MinSpec(_, dt), acc) => acc.text match {
                case Some(t) => internalValue(t, dt)
                case None => Some(null)
              }
              case (MaxSpec(_, dt), acc) => acc.text match {
                case Some(t) => internalValue(t, dt)
                case None => Some(null)
              }
            }
            if (values.exists(_.isEmpty)) return None
            (rawMap, values.map(_.get))
          }
        Some(rows)
      }
    }
  }

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = knownSizeInBytes.map(_.apply()).getOrElse(
    source match {
      case Left(files) => math.max(files.map(_.size).sum, 1L)
      case Right(_) => Long.MaxValue // unknown: never broadcast blindly
    })
}

object DeltaFileIndex {
  import org.apache.spark.sql.types._

  /** One aggregate the metadata fold can answer. */
  sealed trait MetaAggSpec extends Serializable
  case object StarSpec extends MetaAggSpec
  final case class CountColSpec(col: String) extends MetaAggSpec
  final case class MinSpec(col: String, dt: DataType) extends MetaAggSpec
  final case class MaxSpec(col: String, dt: DataType) extends MetaAggSpec

  /** min/max only on types whose stats text is an ACHIEVED value with
    * total order: strings are excluded (parquet truncates binary stats
    * into bounds), floats are excluded (NaN ordering). */
  private[read] def aggregableType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Partition VALUES are exact full texts, so strings are safe there
    * (floats still are not: NaN ordering). */
  private[read] def partitionAggregableType(dt: DataType): Boolean =
    aggregableType(dt) || dt == StringType

  private[read] final class Acc extends Serializable {
    var ok: Boolean = true
    var count: Long = 0L
    var text: Option[String] = None
  }
  private[read] final case class AggState(accs: IndexedSeq[Acc]) {
    def ok: Boolean = accs.forall(_.ok)
  }

  private[read] def parsedOf(f: graft.delta.AddFile)
      : Option[graft.delta.ParsedStats] =
    f.stats_parsed.orElse(f.stats.flatMap(DataSkipping.parseRaw))

  /** Distinguishes a MISSING partition key (unanswerable) from a
    * present-but-null value (contributes nothing). */
  private def partValue(f: graft.delta.AddFile, c: String)
      : Option[Option[String]] =
    f.partitionValues.collectFirst {
      case (k, v) if k.equalsIgnoreCase(c) => Option(v)
    }

  private[read] def foldFiles(it: Iterator[graft.delta.AddFile],
                              specs: IndexedSeq[MetaAggSpec],
                              partCols: Set[String]): AggState = {
    val accs = IndexedSeq.fill(specs.size)(new Acc)
    it.foreach { f =>
      if (f.deletionVector.isDefined) accs.foreach(_.ok = false)
      else {
        val parsed = parsedOf(f)
        specs.indices.foreach { i =>
          val acc = accs(i)
          if (acc.ok) specs(i) match {
            case StarSpec => parsed.flatMap(_.numRecords) match {
              case Some(n) => acc.count += n
              case None => acc.ok = false
            }
            case CountColSpec(c) if partCols(c.toLowerCase) =>
              (partValue(f, c), parsed.flatMap(_.numRecords)) match {
                case (Some(Some(_)), Some(n)) => acc.count += n
                case (Some(None), Some(_)) => // null partition: no rows count
                case _ => acc.ok = false
              }
            case CountColSpec(c) =>
              val key = c.toLowerCase
              (for { p <- parsed; n <- p.numRecords;
                     nc <- p.nullCount.get(key) } yield n - nc) match {
                case Some(k) => acc.count += k
                case None => acc.ok = false
              }
            case MinSpec(c, dt) if partCols(c.toLowerCase) =>
              foldPartExtremum(acc, f, c, dt, min = true)
            case MaxSpec(c, dt) if partCols(c.toLowerCase) =>
              foldPartExtremum(acc, f, c, dt, min = false)
            case MinSpec(c, dt) => foldExtremum(acc, parsed, c, dt, min = true)
            case MaxSpec(c, dt) => foldExtremum(acc, parsed, c, dt, min = false)
          }
        }
      }
    }
    AggState(accs)
  }

  private def foldPartExtremum(acc: Acc, f: graft.delta.AddFile,
                               c: String, dt: DataType, min: Boolean): Unit =
    partValue(f, c) match {
      case None => acc.ok = false // key absent (e.g. column mapping)
      case Some(None) => // null partition value: contributes nothing
      case Some(Some(t)) => acc.text = pick(acc.text, t, dt, min, acc)
    }

  private def foldExtremum(acc: Acc, parsed: Option[graft.delta.ParsedStats],
                           c: String, dt: DataType, min: Boolean): Unit = {
    val key = c.toLowerCase
    parsed match {
      case None => acc.ok = false
      case Some(p) =>
        val allNull = (for (n <- p.numRecords; nc <- p.nullCount.get(key))
          yield nc >= n).contains(true)
        if (!allNull) {
          val bound = if (min) p.minValues.get(key) else p.maxValues.get(key)
          bound match {
            case None => acc.ok = false
            case Some(t) => acc.text = pick(acc.text, t, dt, min, acc)
          }
        }
    }
  }

  private def pick(cur: Option[String], cand: String, dt: DataType,
                   min: Boolean, acc: Acc): Option[String] = cur match {
    case None => Some(cand)
    case Some(c0) =>
      (DataSkipping.textComparable(c0, dt),
        DataSkipping.textComparable(cand, dt)) match {
        case (Some(a), Some(b)) =>
          val cmp = DataSkipping.compareComparables(a, b)
          if ((min && cmp <= 0) || (!min && cmp >= 0)) Some(c0) else Some(cand)
        case _ => acc.ok = false; cur
      }
  }

  private[read] def mergeStates(specs: IndexedSeq[MetaAggSpec],
                                a: AggState, b: AggState): AggState = {
    val accs = specs.indices.map { i =>
      val out = new Acc
      val (x, y) = (a.accs(i), b.accs(i))
      out.ok = x.ok && y.ok
      if (out.ok) specs(i) match {
        case StarSpec | CountColSpec(_) => out.count = x.count + y.count
        case MinSpec(_, dt) =>
          out.text = (x.text, y.text) match {
            case (Some(t), None) => Some(t)
            case (None, o) => o
            case (Some(t), Some(u)) => pick(Some(t), u, dt, min = true, out)
          }
        case MaxSpec(_, dt) =>
          out.text = (x.text, y.text) match {
            case (Some(t), None) => Some(t)
            case (None, o) => o
            case (Some(t), Some(u)) => pick(Some(t), u, dt, min = false, out)
          }
      }
      out
    }
    AggState(accs.toIndexedSeq)
  }

  /** Stats text → Catalyst internal value; None = unconvertible (bail
    * to the real scan rather than guess). */
  private[read] def internalValue(text: String, dt: DataType): Option[Any] =
    try {
      dt match {
        case StringType => // reached only from partition values (exact)
          Some(org.apache.spark.unsafe.types.UTF8String.fromString(text))
        case ByteType => Some(new java.math.BigDecimal(text).byteValueExact())
        case ShortType => Some(new java.math.BigDecimal(text).shortValueExact())
        case IntegerType => Some(new java.math.BigDecimal(text).intValueExact())
        case LongType => Some(new java.math.BigDecimal(text).longValueExact())
        case BooleanType => Some(text.toBoolean)
        case DateType =>
          Some(java.time.LocalDate.parse(text).toEpochDay.toInt)
        case TimestampType =>
          val i = java.time.Instant.parse(text)
          Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
        case TimestampNTZType =>
          val ldt = java.time.LocalDateTime.parse(text)
          Some(ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
            ldt.getNano / 1000L)
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
}
