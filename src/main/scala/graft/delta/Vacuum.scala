package graft.delta

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** VACUUM: physically delete the files under the table directory that
  * the latest snapshot no longer references, once they have aged past
  * the retention window (default: the table's
  * deletedFileRetentionDuration). A file still named by a younger
  * tombstone is kept, so time travel within the window — and any reader
  * pinned to an old snapshot — stays intact.
  *
  * The deletion rules are written once, in [[Vacuum.Rules]], and two
  * executors apply them:
  *  - the driver walk, for a FULL vacuum of a driver-small state (at most
  *    [[DriverVacuumMaxFiles]] active files, not in distributed-state
  *    mode): zero Spark jobs. It falls back to the job when the walk
  *    finds more than [[DriverVacuumMaxCandidates]] files;
  *  - the Spark job, sized for million-file tables: the recursive listing
  *    runs one task per top-level directory, candidates anti-join the
  *    (possibly distributed) live set, and the deletes run in tasks.
  *
  * LITE (delta-spark 4.0's `VACUUM … LITE`) always runs as the job and
  * lists nothing: its candidates are the removes of the commit range
  * since the last `VACUUM END`'s recorded cutoff — O(recent churn)
  * instead of O(table files). A remove committed before that cutoff
  * carries `deletionTimestamp <= commit time < cutoff`, so it was
  * eligible then. Files the log never tracked (a crashed writer's
  * orphans) are only ever cleaned by a FULL vacuum. */
private[delta] object Vacuum {

  /** FULL vacuum runs on the driver at or below this active-file count
    * (the job's listing and anti-join cost ~6 Spark jobs). */
  val DriverVacuumMaxFiles = 10000L

  /** The driver walk hands over to the job when it lists more than this
    * many files (a small live set can sit in a directory full of
    * orphans). */
  val DriverVacuumMaxCandidates = 200000

  /** The remove slice of the action envelope — all LITE reads from the
    * commit range it scans. */
  case class RemoveSlice(remove: Option[RemoveFile] = None)

  /** A path with a hidden component is never vacuum's to delete: a file
    * under `p=0/_temporary/…` is an in-flight or aborted job's staging
    * (delta-spark skips hidden directories at every level). Two
    * components are data, not hidden: the change-data dir (expired CDC
    * files are vacuumable, or CDF tables leak storage forever) and
    * partition dirs of [._]-named columns (`_col=value`). */
  private val HiddenComponent =
    ("(^|/)(?!" + write.CdcWriter.ChangeDir + "(/|$))(?![._][^/]*=)[._]").r

  private def hiddenName(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  /** The deletion rules of one run. Serializable: the Spark-job lambdas
    * call the same methods the driver walk does. */
  final case class Rules(root: String, cutoff: Long,
                         conf: SerializableHadoopConf) {
    private val rootPrefix = new Path(root).toUri.getPath + "/"

    @transient lazy val fs: FileSystem =
      new Path(root).getFileSystem(conf.value)

    /** The top-level entries of the table directory that get listed. */
    def listTop(): Iterator[FileStatus] =
      fs.listStatus(new Path(root)).iterator.filter { st =>
        val n = st.getPath.getName
        !hiddenName(n) || n == write.CdcWriter.ChangeDir || n.contains("=")
      }

    /** A listed file as a candidate: (key, mtime). */
    def candidate(st: FileStatus): (String, Long) =
      (key(st.getPath), st.getModificationTime)

    /** The listed files below one top-level directory. */
    def listDir(dir: Path): Iterator[(String, Long)] = {
      val it = fs.listFiles(dir, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(st => st.isFile && !hiddenName(st.getPath.getName))
        .map(candidate)
    }

    /** The root-relative key of a file. A log path may be relative or
      * absolute in any spelling (`/t/x`, `file:/t/x`, percent-encoded):
      * each in-table spelling gets the listing's key; a path outside
      * the table keeps its leading `/`. */
    def key(p: Path): String = p.toUri.getPath.stripPrefix(rootPrefix)
    def key(logPath: String): String = key(new Path(new java.net.URI(logPath)))

    /** The keys a log entry keeps alive: its file and its on-disk
      * deletion vector (a DV table's bitmaps live in the table dir too). */
    def keys(path: String, d: Option[DeletionVectorDescriptor]): Seq[String] =
      key(path) +: d.filter(dv.DeletionVectors.isOnDisk)
        .map(x => key(dv.DeletionVectors.absolutePath(x, new Path(root)))).toSeq

    /** Whether a candidate is old enough and vacuum's to delete at all;
      * the caller then drops every key the log keeps alive. */
    def expired(rel: String, age: Long): Boolean =
      age < cutoff && !rel.startsWith("/") &&
        HiddenComponent.findFirstIn(rel).isEmpty

    /** Delete the files named by `rels`; the number actually deleted. */
    def delete(rels: Iterator[String]): Int =
      rels.count(rel => fs.delete(new Path(s"$root/$rel"), false))

    /** The per-commit batch directory a deleted file leaves behind (CDC
      * batches nest one level deeper: `_change_data/batch-<uuid>/`). */
    def batchDir(rel: String): Option[String] = {
      val parts = rel.split('/')
      val d = if (parts.length > 2 && parts.head == write.CdcWriter.ChangeDir)
        s"${parts(0)}/${parts(1)}" else parts.head
      Some(d).filter(d => d.startsWith("batch-") ||
        d.startsWith(s"${write.CdcWriter.ChangeDir}/batch-"))
    }

    /** Remove each batch directory that holds only hidden leftovers
      * (checksum and `_temporary` crumbs). A partition dir of a
      * [._]-named column (`_p=value`) is not a crumb: it counts as empty
      * only when it holds nothing, or the recursive delete would eat live
      * files under it. A directory that cannot be read or deleted is
      * kept. */
    def sweep(dirs: Iterator[String]): Unit =
      dirs.foreach { d =>
        val p = new Path(s"$root/$d")
        try {
          val onlyCrumbs = fs.listStatus(p).forall { st =>
            val n = st.getPath.getName
            if (n.contains("=") && st.isDirectory) {
              fs.listStatus(st.getPath).isEmpty
            } else hiddenName(n)
          }
          if (onlyCrumbs) fs.delete(p, true)
        } catch { case e: java.io.IOException =>
          System.err.println(
            s"graft: vacuum kept $p: ${e.getMessage} (ignored)")
        }
      }
  }

  def run(spark: SparkSession, deltaLog: DeltaLog,
          retentionMillis: Option[Long], dryRun: Boolean,
          lite: Boolean): Int = {
    val snapshot = deltaLog.update()
    checkProtocol(snapshot.protocol)
    val tableRetention =
      DeltaConfigs.TOMBSTONE_RETENTION.fromMetadata(snapshot.metadata)
    val retention = retentionMillis.getOrElse(tableRetention)
    // retention guard (Delta's retentionDurationCheck): an in-flight
    // writer's uncommitted batch files are only protected by their mtime
    // being younger than the cutoff — a sub-retention vacuum could delete
    // files a concurrent commit is about to reference
    val checkEnabled = spark.conf
      .getOption("spark.graft.vacuum.retentionCheck.enabled")
      .forall(_.toBoolean)
    require(!checkEnabled || retention >= tableRetention,
      s"vacuum retention ${retention}ms is below the table's " +
        s"deletedFileRetentionDuration (${tableRetention}ms); this risks " +
        "deleting files of in-flight commits and breaking time travel. " +
        "Set spark.graft.vacuum.retentionCheck.enabled=false to override.")
    val cutoff = deltaLog.clock() - retention
    val rules = Rules(deltaLog.dataPath.toString, cutoff,
      new SerializableHadoopConf(deltaLog.hadoopConf))
    // The snapshot's tombstones are pre-filtered by the TABLE retention,
    // so a vacuum asked to preserve a LONGER window re-replays the log
    // with the requested cutoff — otherwise files removed recently but
    // written long ago are deleted inside the window the caller asked to
    // keep (bounded by what the log and checkpoints still record).
    val tombstones =
      if (cutoff < snapshot.minFileRetentionTimestamp) {
        new Snapshot(spark, deltaLog, snapshot.version, snapshot.logSegment,
          cutoff, snapshot.timestamp).tombstones
      } else snapshot.tombstones
    val protectedKeys = tombstones.filter(_.delTimestamp >= cutoff)
      .flatMap(r => rules.keys(r.path, r.deletionVector))

    // VACUUM START/END (delta-spark's vacuum logging): always on for
    // LITE, whose next run prunes its commit scan with END's cutoff;
    // opt-in otherwise
    val mode = if (lite) "LITE" else "FULL"
    val logging = lite || spark.conf
      .getOption("spark.graft.vacuum.logging.enabled").exists(_.toBoolean)
    def finish(toDelete: Int)(deleteAndSweep: => Int): Int =
      if (dryRun) toDelete
      else {
        if (logging) deltaLog.startTransaction().commit(Nil, "VACUUM START",
          operationParameters = Map("mode" -> mode,
            "retentionCheckEnabled" -> checkEnabled.toString,
            "defaultRetentionMillis" -> tableRetention.toString) ++
            retentionMillis.map(r => "specifiedRetentionMillis" -> r.toString),
          operationMetrics = Map("numFilesToDelete" -> toDelete.toString))
        val deleted = deleteAndSweep
        if (logging) deltaLog.startTransaction().commit(Nil, "VACUUM END",
          operationParameters = Map("status" -> "COMPLETED", "mode" -> mode,
            "cutoffMillis" -> cutoff.toString),
          operationMetrics = Map("numDeletedFiles" -> deleted.toString))
        deleted
      }

    val onDriver = !lite && !snapshot.distributedState &&
      snapshot.numOfFiles <= DriverVacuumMaxFiles
    val walked =
      if (onDriver) driverDeletable(snapshot, rules, protectedKeys) else None
    walked match {
      case Some(rels) =>
        finish(rels.length) {
          val deleted = rules.delete(rels.iterator)
          rules.sweep(rels.iterator.flatMap(rules.batchDir).distinct)
          deleted
        }
      case None =>
        import spark.implicits._
        val (candidates, cached) =
          if (lite) (removedCandidates(spark, deltaLog, snapshot, rules), None)
          else listing(spark, rules)
        val live = snapshot.allFilesDS
          .flatMap(f => rules.keys(f.path, f.deletionVector))
          .union(spark.createDataset(protectedKeys)).toDF("rel")
        val deletable = candidates.filter(c => rules.expired(c._1, c._2))
          .toDF("rel", "age").join(live, Seq("rel"), "left_anti")
          .select("rel").as[String]
          // BARRIER: materialize the survivor set before any delete runs —
          // a broadcast anti-join would otherwise pipeline listing and
          // deleting into ONE stage, racing the tasks still listing
          .persist(StorageLevel.MEMORY_AND_DISK)
        try finish(deletable.count().toInt) {
          val deleted = deletable.mapPartitions(it =>
            Iterator.single(rules.delete(it))).collect().sum
          deletable.flatMap(rules.batchDir).distinct()
            .foreachPartition((it: Iterator[String]) => rules.sweep(it))
          deleted
        } finally {
          deletable.unpersist()
          cached.foreach(_.unpersist())
        }
    }
  }

  /** vacuumProtocolCheck (PROTOCOL.md): GC refuses a table whose protocol
    * it does not fully implement — an unknown feature may keep live data
    * in files this vacuum would classify as orphans. Read-tolerated
    * writer features (UniForm) never change which files are live. */
  private def checkProtocol(p: Protocol): Unit = {
    val missing =
      (if (p.minReaderVersion == 3) TableFeatures.unsupportedReader(p)
       else Nil) ++
      (if (p.minWriterVersion == 7)
         TableFeatures.unsupportedWriter(p)
           .filterNot(TableFeatures.readToleratedWriter)
       else Nil)
    require(missing.isEmpty,
      s"Cannot vacuum: table requires table feature(s) " +
        s"${missing.distinct.mkString(", ")} this engine does not " +
        "implement - files it would delete may be live under those features")
  }

  /** The driver walk: the keys to delete, or None once it lists more than
    * [[DriverVacuumMaxCandidates]] files. */
  private def driverDeletable(
      snapshot: Snapshot, rules: Rules,
      protectedKeys: Seq[String]): Option[Vector[String]] = {
    val live = snapshot.allFiles.iterator
      .flatMap(f => rules.keys(f.path, f.deletionVector)).toSet ++ protectedKeys
    val deletable = Vector.newBuilder[String]
    val it = rules.listTop().flatMap(st =>
      if (st.isDirectory) rules.listDir(st.getPath)
      else Iterator(rules.candidate(st)))
    var n = 0
    while (it.hasNext) {
      val (rel, mtime) = it.next()
      n += 1
      if (n > DriverVacuumMaxCandidates) return None
      if (rules.expired(rel, mtime) && !live.contains(rel)) deletable += rel
    }
    Some(deletable.result())
  }

  /** FULL's candidates as a job: the root level lists in one task (an
    * unpartitioned million-file table would otherwise allocate every
    * FileStatus on the driver), each top-level directory in its own.
    * Returns the persisted root entries too, for the caller to release. */
  private def listing(spark: SparkSession, rules: Rules)
      : (Dataset[(String, Long)], Option[Dataset[_]]) = {
    import spark.implicits._
    // guard on the iterator: mapPartitions runs the closure on EVERY
    // partition of range(1), and an unconditional listing would
    // duplicate every entry numPartitions times
    val tops = spark.range(1).mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else rules.listTop().map(st => (st.getPath.toString, st.isDirectory,
        rules.candidate(st)))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    // root-level files and the directory set stay Datasets end to end (a
    // 1M-partition table would otherwise collect 1M paths just to
    // re-distribute them)
    val fromDirs = tops.filter(_._2).map(_._1).repartition(64)
      .mapPartitions(_.flatMap(d => rules.listDir(new Path(d))))
    (tops.filter(!_._2).map(_._3).union(fromDirs), Some(tops))
  }

  /** LITE's candidates: the removes of the commit range since the last
    * `VACUUM END`'s cutoff, aged by their deletionTimestamp (later than
    * the file's mtime — conservative in the same direction). A key
    * removed in several commits keeps its OLDEST removal; a younger
    * tombstone still protects it through the live set. */
  private def removedCandidates(spark: SparkSession, deltaLog: DeltaLog,
                                snapshot: Snapshot,
                                rules: Rules): Dataset[(String, Long)] = {
    import spark.implicits._
    val fromVersion = deltaLog.history()
      .find(_.operation.contains("VACUUM END"))
      .flatMap(_.operationParameters.flatMap(_.get("cutoffMillis")))
      .map { prevCutoff =>
        try deltaLog.getVersionAtOrAfterTimestamp(prevCutoff.toLong)
        catch { // no commit since the previous cutoff: nothing new
          case _: IllegalArgumentException => snapshot.version + 1
        }
      }
      .getOrElse { // first LITE vacuum: all retained commits
        deltaLog.store.listFrom(
            FileNames.deltaFile(deltaLog.logPath, 0), deltaLog.hadoopConf)
          .filter(f => FileNames.isDeltaFile(f.getPath))
          .map(f => FileNames.deltaVersion(f.getPath))
          .take(1).toList.headOption.getOrElse(0L)
      }
    val deltaPaths = (fromVersion to snapshot.version)
      .map(v => FileNames.deltaFile(deltaLog.logPath, v).toString)
    if (deltaPaths.isEmpty) spark.emptyDataset[(String, Long)]
    else {
      val enc = org.apache.spark.sql.Encoders.product[RemoveSlice]
      spark.read.schema(enc.schema).json(deltaPaths: _*).as(enc)
        .flatMap(_.remove.toSeq.flatMap(r =>
          rules.keys(r.path, r.deletionVector).map((_, r.delTimestamp))))
        .toDF("rel", "age").groupBy("rel")
        .agg(org.apache.spark.sql.functions.min("age"))
        .as[(String, Long)]
    }
  }
}
