package graft.delta.write

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.conf.{HadoopParquetConfiguration, ParquetConfiguration}
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetWriteSupport}

/** Driver-side parquet IO for DRIVER-SMALL log artifacts (checkpoint
  * main files, small checkpoint parts, sidecars).
  *
  * Rationale (guide §1 profile, r16): a cadence checkpoint of a small
  * table writes a handful of KB-sized parquet files, but doing it through
  * `Dataset.write.parquet` costs a full Spark job each — task scheduling,
  * the output committer's temp-dir/rename protocol, and the checksummed
  * local FS's fork+exec chmod + .crc sidecars; measured 0.3-0.9 s per
  * checkpoint on an idle host, ~0 data. The rows are ALREADY on the
  * driver in these paths, so write them with parquet's own writer
  * through java.nio — same bytes a one-task Spark job would produce
  * (same WriteSupport, same schema, same codec), none of the scaffolding.
  * Reads mirror it: a KB-sized checkpoint read costs a job per snapshot
  * bootstrap otherwise.
  *
  * [[onDriver]] is the only place that decides "local and small enough";
  * [[readArtifacts]] is the one reader and [[writeArtifacts]] the one
  * writer that act on it. At scale, or off the local scheme, both run a
  * Spark job instead.
  *
  * Driver cost is held to what a log replay costs. Each action encoder
  * is bound ONCE PER THREAD ([[bound]]): generating its serializer, or
  * resolving its deserializer and the `SafeProjection` source behind it,
  * used to dominate a cold snapshot load, and Janino caches compiles but
  * not source generation. The cache is per thread because the bound
  * serializer and deserializer hold mutable projections, and concurrent
  * writers checkpoint on their own threads. Readers take the session
  * conf through the `ParquetReader.Builder(InputFile, ParquetConfiguration)`
  * constructor: the single-argument one builds a default Hadoop
  * `Configuration` per file, which re-parses `core-default.xml`. */
object LocalParquet {

  /** Rows a checkpoint artifact may be asked to hold driver-side; above
    * this the Spark-job path must run (mirrors
    * Vacuum.DriverVacuumMaxFiles). */
  val MaxDriverRows = 10000

  /** Write `rows` as ONE parquet file at `path` (a local-scheme URI or
    * filesystem path), encoded exactly as `Dataset[T].write.parquet`
    * would encode them. Returns the number of rows written. */
  def write[T](spark: SparkSession, path: String, rows: Seq[T],
               enc: Encoder[T]): Long = {
    val schema = enc.schema
    // the session's hadoop conf carries every spark.sql.* key the parquet
    // WriteSupport and schema converter consult (newHadoopConf merges the
    // SQL conf in — the same conf FileFormatWriter hands the task-side
    // writer), so driver-written files cannot diverge from job-written ones
    val conf = spark.sessionState.newHadoopConf()
    ParquetWriteSupport.setSchema(schema, conf)
    // ParquetWriteSupport.init asserts these are PRESENT (raw conf.get);
    // newHadoopConf only carries explicitly-set session entries, so stamp
    // them from the resolved SQLConf exactly as ParquetUtils.prepareWrite
    // does for the task-side writer
    val sqlc = spark.sessionState.conf
    import org.apache.spark.sql.internal.SQLConf
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlc.getConf(SQLConf.PARQUET_WRITE_LEGACY_FORMAT).toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sqlc.getConf(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE).toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlc.getConf(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED).toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sqlc.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sqlc.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlc.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    // resolve the session codec exactly as the job path does: short
    // names such as `none` and `lz4raw` are legal there but are not
    // CompressionCodecName constants
    val codec = CompressionCodecName.fromConf(
      new ParquetOptions(Map.empty[String, String], sqlc)
        .compressionCodecClassName)
    val nioPath = java.nio.file.Paths.get(
      if (path.startsWith("file:")) new java.net.URI(path).getPath else path)
    val parent = nioPath.getParent
    if (parent != null) java.nio.file.Files.createDirectories(parent)
    val builder = new RowBuilder(
      new org.apache.parquet.io.LocalOutputFile(nioPath))
      .withConf(conf)
      .withCompressionCodec(codec)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
    val writer = builder.build()
    var n = 0L
    try {
      val toRow = bound(enc).serializer
      rows.foreach { r => writer.write(toRow(r)); n += 1 }
      writer.close()
    } catch {
      case t: Throwable =>
        // the caller sees the ORIGINAL failure; a close or delete that
        // fails too rides along as suppressed, never in its place
        def suppress(f: => Unit): Unit =
          try f catch { case s: Throwable => if (s ne t) t.addSuppressed(s) }
        suppress(writer.close())
        suppress(java.nio.file.Files.deleteIfExists(nioPath))
        throw t
    }
    n
  }

  /** Stage one class of log artifact as parquet files under `dir`, and
    * return them as (bucket, file) in bucket, then name order (bucket 0
    * when `bucket` is None). A driver `Seq` that [[onDriver]] admits
    * (at most [[MaxDriverRows]] rows, local scheme) is written here with
    * no Spark job: `parts` even slices, or one file per bucket. Any other
    * rows run one job: `coalesce(1)` for one part, `repartition(parts)`
    * for several, and `repartition(parts, bucket)` + `partitionBy` for
    * buckets, which keys each bucket's rows into one task and so one
    * file. An empty driver `Seq` writes nothing. */
  def writeArtifacts[T](spark: SparkSession, fs: FileSystem, dir: Path,
                        rows: Either[Seq[T], Dataset[T]], enc: Encoder[T],
                        parts: Int, bucket: Option[T => Int] = None): Seq[(Int, Path)] =
    rows match {
      case Left(seq) if seq.isEmpty => Seq.empty
      case Left(seq) if onDriver(Seq(dir), fs, Some(seq.size.toLong), MaxDriverRows) =>
        val slices: Seq[(Int, Seq[T])] = bucket match {
          case Some(b) => seq.groupBy(b).toSeq.sortBy(_._1)
          case None =>
            val (n, k) = (seq.size, math.min(parts, seq.size))
            (0 until k).map(i => 0 -> seq.slice(i * n / k, (i + 1) * n / k))
        }
        slices.zipWithIndex.map { case ((b, slice), i) =>
          val file = new Path(dir, f"part-$i%05d.parquet")
          write(spark, file.toString, slice, enc)
          b -> file
        }
      case _ =>
        import org.apache.spark.sql.functions.col
        val ds = rows.fold(spark.createDataset(_)(enc), identity)
        val writer = bucket match {
          case None => (if (parts == 1) ds.coalesce(1) else ds.repartition(parts)).write
          case Some(b) =>
            ds.map(t => (b(t), t))(Encoders.tuple(Encoders.scalaInt, enc))
              .select(col("_1").as("__bucket"), col("_2.*"))
              .repartition(parts, col("__bucket")).write.partitionBy("__bucket")
        }
        writer.mode(SaveMode.Overwrite).parquet(dir.toString)
        // each bucket's files sit in its `__bucket=<b>` directory
        def staged(d: Path, b: Int): Seq[(Int, Path)] =
          fs.listStatus(d).toSeq.sortBy(_.getPath.getName).flatMap { st =>
            val name = st.getPath.getName
            if (st.isDirectory) staged(st.getPath, name.stripPrefix("__bucket=").toInt)
            else if (name.endsWith(".parquet")) Seq(b -> st.getPath) else Nil
          }
        staged(dir, 0).sortBy(_._1)
    }

  private final class RowBuilder(out: org.apache.parquet.io.OutputFile)
    extends ParquetWriter.Builder[InternalRow, RowBuilder](out) {
    override def getWriteSupport(conf: Configuration) = new ParquetWriteSupport
    override def self(): RowBuilder = this
  }

  /** One action encoder bound for one thread: the serializer and the
    * resolved, bound deserializer are each built on first use. */
  private final class Bound[T](enc: Encoder[T], owner: Bindings) {
    private lazy val expr = ExpressionEncoder(enc.asInstanceOf[AgnosticEncoder[T]])
    lazy val serializer: T => InternalRow = {
      owner.builds += 1
      expr.createSerializer()
    }
    lazy val deserializer: InternalRow => T = {
      owner.builds += 1
      expr.resolveAndBind().createDeserializer()
    }
  }

  /** One thread's bound encoders, keyed by encoder identity: every
    * caller passes a JVM-cached `Encs` member, so a thread holds one
    * entry per action encoder. A caller minting encoders per call cannot
    * grow it past [[MaxBound]]. */
  private final class Bindings {
    val byEncoder = new java.util.IdentityHashMap[Encoder[_], Bound[_]]()
    var builds = 0L
  }

  private val MaxBound = 16

  private val bindings = ThreadLocal.withInitial[Bindings](() => new Bindings)

  private def bound[T](enc: Encoder[T]): Bound[T] = {
    val tc = bindings.get
    var c = tc.byEncoder.get(enc)
    if (c == null) {
      if (tc.byEncoder.size >= MaxBound) tc.byEncoder.clear()
      c = new Bound(enc, tc)
      tc.byEncoder.put(enc, c)
    }
    c.asInstanceOf[Bound[T]]
  }

  /** Serializers and deserializers built on the calling thread. */
  private[delta] def bindBuilds: Long = bindings.get.builds

  /** Encoders the calling thread holds bound. */
  private[delta] def boundEncoders: Seq[Encoder[_]] = {
    import scala.jdk.CollectionConverters._
    bindings.get.byEncoder.keySet.asScala.toSeq
  }

  /** Bytes above which the driver-side read defers to a Spark job: a
    * KB-sized checkpoint artifact reads faster without a job, a 100 MB
    * one reads faster WITH 32 cores. */
  val MaxDriverReadBytes: Long = 16L * 1024 * 1024

  /** Whether an artifact of `size` (rows or bytes, held against `max`)
    * at `paths` is read or written on the driver: its size is known and
    * at most `max`, and every path is on the local scheme. */
  def onDriver(paths: Seq[Path], fs: FileSystem, size: Option[Long],
               max: Long): Boolean =
    size.exists(_ <= max) &&
      paths.forall(graft.delta.storage.LogStore.isLocalScheme(_, fs))

  /** Rows of small log artifacts as `T`, with the semantics of
    * `spark.read.schema(enc.schema).parquet(paths)` minus the rows whose
    * every requested column is null. `bytes` is the files' total size
    * (None when unknown). Read on the driver when [[onDriver]] allows it,
    * else by a Spark job that drops the all-null rows before they ship:
    * a large checkpoint read through a narrow schema never sends the
    * other actions' rows to the driver. */
  def readArtifacts[T](spark: SparkSession, fs: FileSystem, paths: Seq[Path],
                       bytes: Option[Long], enc: Encoder[T]): Vector[T] =
    if (paths.isEmpty) Vector.empty
    else if (onDriver(paths, fs, bytes, MaxDriverReadBytes)) read(spark, paths, enc)
    else spark.read.schema(enc.schema).parquet(paths.map(_.toString): _*)
      .where(enc.schema.fieldNames.map(c => s"`$c` IS NOT NULL").mkString(" OR "))
      .as[T](enc).collect().toVector

  /** Driver-side read of small local parquet files as `T`, decoding with
    * the same ReadSupport/schema-clipping Spark's non-vectorized reader
    * uses (`enc.schema` plays the requested schema: missing columns null-
    * fill, extra columns prune at the parquet layer). All-null rows are
    * dropped, as on the job path. Caveat: the plain-constructor
    * ReadSupport performs no datetime rebase — callers here read ACTION
    * schemas (long/string/bool/struct/map only). */
  private def read[T](spark: SparkSession, paths: Seq[Path],
                      enc: Encoder[T]): Vector[T] = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
    val schema = enc.schema
    val conf = spark.sessionState.newHadoopConf()
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    val sqlc = spark.sessionState.conf
    import org.apache.spark.sql.internal.SQLConf
    conf.set(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sqlc.getConf(SQLConf.PARQUET_BINARY_AS_STRING).toString)
    conf.set(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sqlc.getConf(SQLConf.PARQUET_INT96_AS_TIMESTAMP).toString)
    conf.set(SQLConf.CASE_SENSITIVE.key,
      sqlc.getConf(SQLConf.CASE_SENSITIVE).toString)
    conf.set(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlc.getConf(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED).toString)
    conf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlc.getConf(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG).toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key,
      sqlc.getConf(SQLConf.PARQUET_FIELD_ID_READ_ENABLED).toString)
    val deser = bound(enc).deserializer
    val parquetConf = new HadoopParquetConfiguration(conf)
    val out = Vector.newBuilder[T]
    paths.foreach { p =>
      val nioPath = java.nio.file.Paths.get(p.toUri.getPath)
      val reader = new RowReadBuilder(
        new org.apache.parquet.io.LocalInputFile(nioPath), parquetConf)
        .withConf(conf).build()
      try {
        var row = reader.read()
        while (row != null) {
          if ((0 until row.numFields).exists(!row.isNullAt(_))) out += deser(row)
          row = reader.read()
        }
      } finally reader.close()
    }
    out.result()
  }

  private final class RowReadBuilder(in: org.apache.parquet.io.InputFile,
                                     conf: ParquetConfiguration)
    extends org.apache.parquet.hadoop.ParquetReader.Builder[InternalRow](in, conf) {
    override def getReadSupport()
      : org.apache.parquet.hadoop.api.ReadSupport[InternalRow] =
      new org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
  }
}
