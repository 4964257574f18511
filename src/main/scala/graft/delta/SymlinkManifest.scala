package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

/** `GENERATE symlink_format_manifest` — the Presto/Trino/Athena bridge
  * delta-spark ships: one text file per partition under
  * `_symlink_format_manifest/` listing the absolute URIs of the
  * partition's ACTIVE parquet files, so engines that understand Hive
  * `SymlinkTextInputFormat` can query the Delta table's current snapshot
  * without reading the log.
  *
  * Layout (delta-spark's): non-partitioned tables write
  * `_symlink_format_manifest/manifest`; partitioned tables write
  * `_symlink_format_manifest/<col>=<escaped value>/.../manifest` with
  * Hive path escaping, one level per partition column. `__HIVE_DEFAULT_
  * PARTITION__` spells null, matching the catalog convention.
  *
  * Refusals mirror delta-spark's: deletion vectors (a manifest names
  * whole files — a DV's row-level drops are invisible to a symlink
  * reader, who would resurrect deleted rows) and column mapping
  * (external readers resolve columns by physical parquet name and would
  * read the pre-rename schema).
  *
  * Scale shape: manifests write as ONE Spark job over the (possibly
  * distributed) active-file set, grouped by partition — a million-file
  * table never assembles its file list on the driver. The incremental
  * post-commit mode ([[updateIncremental]]) touches only the partitions
  * the commit changed: work ∝ change volume, the same contract as the
  * checkpoint-vs-log split.
  */
object SymlinkManifest {

  val ManifestDirName = "_symlink_format_manifest"

  /** Table property (delta-spark's): keep manifests current after every
    * data-changing commit. */
  val AutoUpdateKey = "delta.compatibility.symlinkFormatManifest.enabled"

  /** Regenerate the full manifest tree for the latest snapshot; returns
    * the number of manifest files written. Stale partition directories
    * (partitions that no longer have active files) are removed. */
  def generate(spark: SparkSession, deltaLog: DeltaLog): Long = {
    val snapshot = deltaLog.update()
    checkSupported(snapshot)
    // wipe the previous tree: deleted partitions must not leave a
    // manifest behind (a symlink reader would double-read stale files)
    val fs = deltaLog.dataPath.getFileSystem(deltaLog.hadoopConf)
    val manifestRoot = new Path(deltaLog.dataPath, ManifestDirName)
    fs.delete(manifestRoot, true)
    writeManifests(spark, deltaLog, snapshot, partitionFilter = None)
      .size.toLong
  }

  /** Post-commit incremental update: regenerate ONLY the partitions the
    * committed actions touched; partitions left without active files
    * lose their manifest. */
  def updateIncremental(spark: SparkSession, deltaLog: DeltaLog,
                        committed: Seq[Action]): Long = {
    val snapshot = deltaLog.update()
    checkSupported(snapshot)
    val partCols = snapshot.metadata.partitionColumns
    // a remove without extendedFileMetadata (foreign minimal tombstone)
    // hides its partition — fall back to the full tree rather than miss
    // the partition it actually touched
    if (partCols.nonEmpty && committed.exists {
          case r: RemoveFile => r.partitionValues.isEmpty
          case _ => false
        }) return generate(spark, deltaLog)
    val touched = committed.collect {
      case a: AddFile => a.partitionValues
      case r: RemoveFile => r.partitionValues.getOrElse(Map.empty)
    }.distinct
    if (touched.isEmpty) return 0L
    val touchedDirs = touched.map(pv => partitionDir(partCols, pv)).toSet
    val written = writeManifests(spark, deltaLog, snapshot,
      partitionFilter = Some(touchedDirs))
    // partitions emptied by this commit: drop their manifest directory
    val fs = deltaLog.dataPath.getFileSystem(deltaLog.hadoopConf)
    val manifestRoot = new Path(deltaLog.dataPath, ManifestDirName)
    touchedDirs.diff(written).foreach { dir =>
      val p = if (dir.isEmpty) manifestRoot else new Path(manifestRoot, dir)
      fs.delete(p, true)
    }
    written.size.toLong
  }

  /** The relative manifest directory for one partition-value map —
    * empty for unpartitioned tables. */
  private def partitionDir(partCols: Seq[String],
                           pv: Map[String, String]): String =
    partCols.map { c =>
      val v = pv.get(c).filter(_ != null)
        .getOrElse(ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      s"${ExternalCatalogUtils.escapePathName(c)}=" +
        ExternalCatalogUtils.escapePathName(v)
    }.mkString("/")

  /** Write one manifest per (selected) partition that still has active
    * files, as a Spark job; file URIs are absolute and sorted for
    * reproducibility. Returns the partition directories written. */
  private def writeManifests(spark: SparkSession, deltaLog: DeltaLog,
                             snapshot: Snapshot,
                             partitionFilter: Option[Set[String]]): Set[String] = {
    import spark.implicits._
    val partCols = snapshot.metadata.partitionColumns
    val dataPathStr = deltaLog.dataPath.toString
    val sconf = new SerializableHadoopConf(deltaLog.hadoopConf)

    val pairs = snapshot.allFilesDS
      .map { a =>
        val abs = read.PartitionUtils.absolutePath(
          new Path(dataPathStr), a.path).toString
        (partitionDir(partCols, a.partitionValues), abs)
      }
    val selected = partitionFilter match {
      case Some(dirs) => pairs.filter(p => dirs.contains(p._1))
      case None => pairs
    }
    val written = selected.groupByKey(_._1).mapGroups { (dir, it) =>
      val files = it.map(_._2).toArray.sorted
      val fs = new Path(dataPathStr).getFileSystem(sconf.value)
      val target = if (dir.isEmpty)
        new Path(s"$dataPathStr/$ManifestDirName/manifest")
      else new Path(s"$dataPathStr/$ManifestDirName/$dir/manifest")
      val out = fs.create(target, true)
      try out.write(files.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      dir
    }.collect().toSet // bounded by partition count
    // emptied unpartitioned table: a reader must still find an (empty)
    // manifest — both on full GENERATE and on the incremental path
    // (leaving NO manifest would break symlink readers until a manual
    // full GENERATE)
    if (written.isEmpty && partCols.isEmpty) {
      val fs = new Path(dataPathStr).getFileSystem(deltaLog.hadoopConf)
      fs.create(new Path(s"$dataPathStr/$ManifestDirName/manifest"), true)
        .close()
      Set("")
    } else written
  }

  private def checkSupported(snapshot: Snapshot): Unit = {
    require(snapshot.metadata.configuration
        .getOrElse(ColumnMapping.DeltaModeKey, "none") == "none",
      "Cannot generate a symlink manifest for a column-mapping table: " +
        "external readers resolve columns by physical parquet name")
    require(snapshot.dvFiles.isEmpty,
      "Cannot generate a symlink manifest while files carry deletion " +
        "vectors: a manifest names whole files, so row-level deletes " +
        "would be resurrected. Run OPTIMIZE to purge the shades first")
  }
}
