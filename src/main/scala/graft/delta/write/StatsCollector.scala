package graft.delta.write

import java.time.{Instant, LocalDate}

import scala.collection.parallel.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.types._

import graft.delta.JsonCodec

/** Per-file column statistics for data skipping, read from parquet footers.
  *
  * The reference carries `AddFile.stats` as an opaque JSON string
  * (`/root/reference/standalone/src/main/scala/io/delta/standalone/internal/actions/actions.scala:109-132`)
  * and never populates or consumes it; the Delta protocol defines the
  * format (`numRecords`, `minValues`, `maxValues`, `nullCount`) and
  * Delta-on-Spark uses it for file-level data skipping. At 100 TB the scan
  * wins come from not opening files, so we populate it on every write —
  * from the footers the write already produced, a metadata-only read (no
  * data pages), O(files) small range requests that parallelize trivially.
  *
  * Conservative by construction: a column with no usable footer stats is
  * simply absent from the JSON, and [[graft.delta.read.DataSkipping]]
  * keeps any file whose stats can't prove a predicate unsatisfiable.
  */
object StatsCollector {

  /** Columns beyond this many leading schema fields are not indexed
    * (mirrors delta.dataSkippingNumIndexedCols' default of 32). */
  val NumIndexedCols = 32

  /** Stats JSON for one written file, or None if the footer is unreadable.
    * `phys` maps a logical field name to the parquet column name (identity
    * unless the column was renamed) — stats keys stay LOGICAL. */
  def collect(path: Path, dataSchema: StructType, conf: Configuration,
              phys: String => String = identity,
              maxCols: Int = NumIndexedCols): Option[String] =
    try {
      // local scheme: read the footer via java.nio (parquet's own
      // LocalInputFile) — HadoopInputFile routes through the checksummed
      // LocalFileSystem, which opens and verifies the .crc sidecar on
      // every footer read (the write path's recurring per-commit driver
      // cost; same bypass the log store uses)
      val input: org.apache.parquet.io.InputFile =
        if (graft.delta.storage.LogStore.isLocalScheme(
            path, path.getFileSystem(conf)))
          new org.apache.parquet.io.LocalInputFile(
            java.nio.file.Paths.get(path.toUri.getPath))
        else HadoopInputFile.fromPath(path, conf)
      val reader = ParquetFileReader.open(input)
      try Some(fromFooter(reader, dataSchema, phys, maxCols))
      finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Above this many files, footer reads run as a Spark job instead of a
    * driver-side parallel collection (a 1000-executor commit can write
    * thousands of files; O(files) driver round trips is the same
    * anti-pattern the distributed-state invariant bans elsewhere). */
  val DriverStatsMaxFiles = 64

  /** Stats for many files. Small commits fan footer reads out on a
    * driver-side parallel collection (each is one small metadata request —
    * the same driver-side fan-out the reference uses for parallel segment
    * loading, SnapshotImpl.scala:248-293); large commits read footers in
    * executor tasks and collect only the stats JSONs — the same bytes the
    * commit is about to write to the log anyway. */
  def collectAll(spark: org.apache.spark.sql.SparkSession,
                 paths: Seq[Path], dataSchema: StructType,
                 conf: Configuration,
                 phys: String => String = identity,
                 maxCols: Int = NumIndexedCols): Map[Path, Option[String]] =
    if (paths.size <= DriverStatsMaxFiles) {
      paths.par.map(p =>
        p -> collect(p, dataSchema, conf, phys, maxCols)).toList.toMap
    } else {
      import spark.implicits._
      val sconf = new graft.delta.SerializableHadoopConf(conf)
      val strs = paths.map(_.toString)
      spark.createDataset(strs)
        .repartition(math.max(1, math.min(strs.size / 8, 256)))
        .mapPartitions { it =>
          it.map(p =>
            p -> collect(new Path(p), dataSchema, sconf.value, phys, maxCols))
        }
        .collect().iterator.map { case (p, s) => new Path(p) -> s }.toMap
    }

  private def fromFooter(reader: ParquetFileReader, dataSchema: StructType,
                         phys: String => String, maxCols: Int): String = {
    val blocks = reader.getFooter.getBlocks
    val numRecords = {
      var n = 0L
      blocks.forEach(b => n += b.getRowCount)
      n
    }

    val minValues = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val maxValues = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val nullCount = scala.collection.mutable.LinkedHashMap.empty[String, Long]

    dataSchema.fields.take(maxCols).foreach { field =>
      var min: Any = null
      var max: Any = null
      var nulls = 0L
      var usable = true
      blocks.forEach { block =>
        if (usable) {
          val physName = phys(field.name)
          val chunk = block.getColumns.stream()
            .filter(c => c.getPath.size() == 1 && c.getPath.toDotString == physName)
            .findFirst().orElse(null)
          if (chunk == null) usable = false
          else {
            val st = chunk.getStatistics
            if (st == null || st.isEmpty || !st.isNumNullsSet) usable = false
            else {
              nulls += st.getNumNulls
              if (st.hasNonNullValue) {
                val (lo, hi) = decode(field.dataType, chunk.getPrimitiveType,
                  st.genericGetMin.asInstanceOf[AnyRef],
                  st.genericGetMax.asInstanceOf[AnyRef])
                if (lo == null || hi == null) usable = false
                else {
                  if (min == null || lt(field.dataType, lo, min)) min = lo
                  if (max == null || lt(field.dataType, max, hi)) max = hi
                }
              }
            }
          }
        }
      }
      if (usable) {
        nullCount(field.name) = nulls
        if (min != null) { minValues(field.name) = min; maxValues(field.name) = max }
      }
    }

    JsonCodec.mapper.writeValueAsString(Map[String, Any](
      "numRecords" -> numRecords,
      "minValues" -> minValues.toMap,
      "maxValues" -> maxValues.toMap,
      "nullCount" -> nullCount.toMap))
  }

  /** Physical footer min/max → the JSON-facing logical value for the Spark
    * type, or (null, null) when the combination isn't one we index. Floats
    * and doubles are excluded when a bound is NaN (parquet min/max ordering
    * over NaN is undefined). */
  private def decode(dt: DataType, pt: org.apache.parquet.schema.PrimitiveType,
                     min: AnyRef, max: AnyRef): (Any, Any) = {
    val phys = pt.getPrimitiveTypeName
    (dt, phys) match {
      case (ByteType | ShortType | IntegerType, PrimitiveTypeName.INT32) =>
        (min, max)
      case (LongType, PrimitiveTypeName.INT64) => (min, max)
      case (BooleanType, PrimitiveTypeName.BOOLEAN) => (min, max)
      case (FloatType, PrimitiveTypeName.FLOAT) =>
        val (lo, hi) = (min.asInstanceOf[java.lang.Float], max.asInstanceOf[java.lang.Float])
        if (lo.isNaN || hi.isNaN) (null, null) else (lo, hi)
      case (DoubleType, PrimitiveTypeName.DOUBLE) =>
        val (lo, hi) = (min.asInstanceOf[java.lang.Double], max.asInstanceOf[java.lang.Double])
        if (lo.isNaN || hi.isNaN) (null, null) else (lo, hi)
      case (StringType, PrimitiveTypeName.BINARY)
          if pt.getLogicalTypeAnnotation ==
            LogicalTypeAnnotation.stringType() =>
        (utf8(min), utf8(max))
      case (DateType, PrimitiveTypeName.INT32) =>
        (LocalDate.ofEpochDay(min.asInstanceOf[Integer].longValue).toString,
         LocalDate.ofEpochDay(max.asInstanceOf[Integer].longValue).toString)
      case (TimestampType | TimestampNTZType, PrimitiveTypeName.INT64)
          if pt.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] =>
        val ann = pt.getLogicalTypeAnnotation
          .asInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
        val toMicros: Long => Long = ann.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MICROS => identity
          case LogicalTypeAnnotation.TimeUnit.MILLIS => _ * 1000L
          case _ => return (null, null)
        }
        val render: Long => String =
          if (dt == TimestampType) isoMicros else isoLocalMicros
        (render(toMicros(min.asInstanceOf[java.lang.Long])),
         render(toMicros(max.asInstanceOf[java.lang.Long])))
      case _ => (null, null)
    }
  }

  private def utf8(v: AnyRef): String =
    new String(v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
      java.nio.charset.StandardCharsets.UTF_8)

  private def isoMicros(micros: Long): String =
    Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      Math.floorMod(micros, 1000000L) * 1000L).toString

  /** timestamp_ntz: render as a zone-less ISO local date-time. */
  private def isoLocalMicros(micros: Long): String =
    java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC).toString

  /** Ordering on the decoded JSON-facing values: strings compare bytewise
    * (parquet UTF8 TYPE_DEFINED_ORDER), dates/timestamps via their ISO
    * forms (which order lexicographically = chronologically at fixed
    * precision — we re-parse to be safe), numerics numerically. */
  private def lt(dt: DataType, a: Any, b: Any): Boolean = dt match {
    case StringType =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a.asInstanceOf[String])
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b.asInstanceOf[String])) < 0
    case DateType =>
      LocalDate.parse(a.asInstanceOf[String]).isBefore(LocalDate.parse(b.asInstanceOf[String]))
    case TimestampType =>
      Instant.parse(a.asInstanceOf[String]).isBefore(Instant.parse(b.asInstanceOf[String]))
    case TimestampNTZType =>
      java.time.LocalDateTime.parse(a.asInstanceOf[String])
        .isBefore(java.time.LocalDateTime.parse(b.asInstanceOf[String]))
    case BooleanType => !a.asInstanceOf[Boolean] && b.asInstanceOf[Boolean]
    case _ =>
      new java.math.BigDecimal(a.toString).compareTo(new java.math.BigDecimal(b.toString)) < 0
  }
}
