package graft.delta

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, Encoder}

import graft.delta.write.LocalParquet

/** `_last_checkpoint` contents (ref: Checkpoints.scala:54-101). */
case class LastCheckpoint(version: Long, size: Long, parts: Option[Int] = None)

/** Checkpoint write/read (SURVEY §2.1 M7/M8).
  *
  * A checkpoint is the snapshot's folded state (protocol, metadata, txns,
  * active files, unexpired tombstones) as parquet, written every
  * `checkpointInterval` commits so readers replay at most one checkpoint
  * plus a bounded number of JSON commits. Every checkpoint runs the same
  * three steps: STAGE each artifact class under one
  * `_delta_log/.checkpoint_tmp_<uuid>/` directory
  * ([[LocalParquet.writeArtifacts]] decides driver or Spark job),
  * PUBLISH each staged file under its protocol name by one rename, then
  * write `_last_checkpoint` (overwrite, best-effort — corrupted hints are
  * repaired by listing, ref Checkpoints.scala:110-210).
  */
object Checkpoints {

  private def checkpointPolicy(snapshot: Snapshot): String =
    DeltaConfigs.CHECKPOINT_POLICY.fromMetadata(snapshot.metadata)

  /** Transaction identifiers a checkpoint must still carry. The protocol
    * lets writers expire them ("Transaction Identifiers"), and delta-spark
    * does so at checkpoint time when
    * `delta.setTransactionRetentionDuration` is set — without expiry a
    * per-file ingest tracker (COPY INTO) or a long-lived streaming appId
    * set grows the checkpoint forever. Expiry needs PROOF of age: a txn
    * without `lastUpdated` is kept unconditionally. Unset (the default)
    * keeps everything. */
  private[delta] def liveSetTransactions(
      snapshot: Snapshot): Seq[SetTransaction] = {
    val cutoff = snapshot.metadata.configuration
      .get("delta.setTransactionRetentionDuration")
      .map(DeltaConfigs.parseIntervalMillis)
      .map(ms => snapshot.deltaLog.clock() - ms)
    cutoff match {
      case None => snapshot.setTransactions
      case Some(c) =>
        snapshot.setTransactions.filter(_.lastUpdated.forall(_ >= c))
    }
  }

  /** Per-file stats a checkpoint writes, from the delta-spark
    * properties `delta.checkpoint.writeStatsAsStruct` /
    * `writeStatsAsJson` (both default true here: the struct is the
    * pruning fast path, the JSON is the interchange form). At 100 TB the
    * stats ARE the bulk of a checkpoint's bytes — turning the JSON
    * duplicate off roughly halves them while every reader keeps pruning
    * from the struct ([[read.DataSkipping]] and the metadata-only
    * aggregate both prefer `stats_parsed`). Turning BOTH off is legal
    * (delta-spark allows it): checkpoint-loaded files then carry no
    * stats, and every stats consumer falls back to scanning — the
    * documented cost, spec-pinned. Captures only the two booleans so the
    * function can ride into the distributed checkpoint job's closure. */
  private[delta] def statsTransform(metadata: Metadata): AddFile => AddFile = {
    val asStruct = metadata.configuration
      .get("delta.checkpoint.writeStatsAsStruct").forall(_.toBoolean)
    val asJson = metadata.configuration
      .get("delta.checkpoint.writeStatsAsJson").forall(_.toBoolean)
    (a: AddFile) => {
      val withStruct =
        if (asStruct) read.DataSkipping.withParsedStats(a)
        else a.copy(stats_parsed = None)
      if (asJson) withStruct else withStruct.copy(stats = None)
    }
  }

  /** The active files as checkpoint rows, in the container they live in.
    * Stats parse ONCE at checkpoint time; every later pruning query reads
    * the `stats_parsed` struct instead of re-walking the JSON. */
  private def fileRows(snapshot: Snapshot,
      files: Either[Seq[AddFile], Dataset[AddFile]])
    : Either[Seq[SingleAction], Dataset[SingleAction]] = {
    val statsXf = statsTransform(snapshot.metadata)
    files match {
      case Left(adds) => Left(adds.map(a => statsXf(a).wrap))
      case Right(adds) => Right(adds.map(a => statsXf(a).wrap)(Encs.singleAction))
    }
  }

  /** Write the snapshot's checkpoint; `parts > 1` produces the protocol's
    * multi-part form `V.checkpoint.i.n.parquet` (at very large file
    * counts no single writer or reader task handles the whole state).
    * Tables with `delta.checkpointPolicy=v2` get a V2 (uuid-named)
    * checkpoint with sidecars instead — multi-part classic checkpoints
    * are not legal under that policy. Beyond the driver-state bound the
    * file list flows checkpoint → checkpoint as a Spark job, never
    * through the driver. */
  def writeCheckpoint(snapshot: Snapshot, parts: Int = 1): Unit =
    writeClassic(snapshot, snapshot.fileState, parts)

  /** [[writeCheckpoint]] with the AddFile set taken from the distributed
    * log replay (M3) whatever the state mode: the file list flows into
    * the checkpoint parquet as a Spark job and never materializes on the
    * driver. */
  def writeCheckpointDistributed(snapshot: Snapshot, parts: Int = 1): Unit =
    writeClassic(snapshot, Right(snapshot.allFilesDistributed), parts)

  private def writeClassic(snapshot: Snapshot,
      files: => Either[Seq[AddFile], Dataset[AddFile]], requested: Int): Unit = {
    if (checkpointPolicy(snapshot) == "v2") return writeV2Checkpoint(snapshot, requested)
    require(requested >= 1, s"parts must be >= 1, got $requested")
    implicit val enc = Encs.singleAction
    val log = snapshot.deltaLog
    // every action but the files is driver-small by construction
    val head = (snapshot.protocol.wrap +: snapshot.metadata.wrap +:
      liveSetTransactions(snapshot).map(_.wrap)) ++
      snapshot.domainActions.map(_.wrap)
    val tombstones = snapshot.tombstones.map(_.wrap)
    val (rows, total) = fileRows(snapshot, files) match {
      case Left(adds) =>
        (Left(head ++ adds ++ tombstones), (head.size + adds.size + tombstones.size).toLong)
      case Right(adds) =>
        // the action count is an aggregation over the (persisted)
        // distributed state — the file list itself never touches the driver
        (Right(snapshot.spark.createDataset(head ++ tombstones).unionByName(adds)),
          head.size + tombstones.size + snapshot.numOfFiles)
    }
    val parts = autoParts(snapshot, requested, total)
    withStaging(snapshot) { staging =>
      val written = staging.stage("parts", rows, enc, parts).map(_._2)
      require(written.nonEmpty, "checkpoint write produced no parquet")
      // CONCURRENT-WRITER GUARD (VERDICT r12 #3): publishing a
      // (possibly multi-part) group is not atomic — two processes
      // explicitly checkpointing the SAME version could interleave
      // delete+rename over the same destinations and mix parts from two
      // different row distributions of the state (losing/duplicating
      // rows). An O_EXCL claim marker elects ONE publisher per version;
      // the loser abandons its staged parts — a checkpoint for this
      // version is being (or was) written, which is the outcome its
      // caller asked for. The automatic cadence path could never reach
      // the interleave (NOTES r12), but the public API can: this turns
      // that adjudication into enforcement (CrossProcessCheckpointSpec).
      val marker = new Path(log.logPath,
        "." + "%020d".format(snapshot.version) + ".checkpoint.publishing")
      if (claimPublish(staging.fs, marker)) {
        try {
          // a near-empty state can yield fewer files than parts
          val dests =
            if (parts == 1) Seq(FileNames.checkpointFileSingular(log.logPath, snapshot.version))
            else FileNames.checkpointFileWithParts(log.logPath, snapshot.version, written.length)
          written.zip(dests).foreach { case (part, dest) => staging.publish(part, dest) }
          writeLastCheckpoint(log, LastCheckpoint(snapshot.version, total,
            parts = Some(written.length).filter(_ > 1)))
        } finally {
          try staging.fs.delete(marker, false)
          catch { case t: java.io.IOException =>
            System.err.println(
              s"graft: checkpoint publish marker $marker delete failed (ignored): $t")
          }
        }
      }
    }
  }

  /** V2 checkpoint write (`delta.checkpointPolicy=v2`): the file actions
    * go to sidecar parquets under `_delta_log/_sidecars/`, and a single
    * uuid-named main parquet carries `checkpointMetadata`, protocol,
    * metadata, txns and the sidecar references. Works in both driver and
    * distributed state modes (the file list never touches the driver in
    * the latter).
    *
    * '''Sidecar carry-over''' — the reason the V2 format exists. Adds are
    * bucketed by a stable hash of their (canonicalized) path, one bucket
    * range per sidecar, with the bucket encoded in the sidecar's NAME
    * (`<uuid>.b<i>of<n>.<j>.parquet`). The next checkpoint re-references
    * every sidecar whose bucket no commit in the interval touched and
    * rewrites only the touched buckets — at 100 TB (millions of
    * AddFiles, checkpoint every 10 commits) this turns the largest
    * recurring metadata cost from O(table) into O(churn). Tombstones are
    * TIME-expiring, so they never carry over: they live in their own
    * `<uuid>.tombstones.<j>.parquet` sidecars, rewritten from the
    * snapshot each checkpoint so expiry keeps its cadence. Log cleanup
    * stays safe because it already keeps any sidecar referenced by a
    * surviving main file ([[DeltaLog.cleanUpExpiredLogs]]).
    *
    * Carry-over degrades to a full rewrite whenever its premises fail
    * ([[planV2CarryOver]]): a foreign/pre-carry-over previous checkpoint,
    * a metadata or protocol change in the interval (the stats form or
    * schema the carried files were written under may have changed), an
    * explicit part-count raise, or buckets grown past 2x the target part
    * size (rebucket).
    *
    * Concurrent writers need no publish claim here (unlike the classic
    * multi-part path): every V2 main and sidecar is uuid-named, so two
    * processes checkpointing the same version produce two disjoint,
    * individually-complete checkpoints — a reader selects one main and
    * sees only that writer's files; `_last_checkpoint` is a last-wins
    * atomic overwrite. */
  def writeV2Checkpoint(snapshot: Snapshot, parts: Int = 1): Unit = {
    val log = snapshot.deltaLog
    val plan = planV2CarryOver(snapshot, parts)
    // full-rewrite bucket count: driven by the SIDECAR size target, not
    // the classic part size — finer buckets are what make carry-over
    // worth anything below millions of files
    val sidecarSize =
      DeltaConfigs.CHECKPOINT_SIDECAR_SIZE.fromMetadata(snapshot.metadata)
    val nBuckets = plan.map(_.nBuckets).getOrElse(math.max(parts,
      math.ceil(snapshot.numOfFiles.toDouble / sidecarSize.toDouble)
        .toInt.max(1)))
    // bucket on the CANONICAL path: foreign logs legally mix relative and
    // absolute spellings of the same file, and a remove spelled
    // differently from its add must still land in the add's bucket
    val canonical = snapshot.canonicalPath
    val bucketOf = (sa: SingleAction) => sidecarBucket(canonical(sa.add.get.path), nBuckets)
    val uuid = java.util.UUID.randomUUID().toString
    val tombstones = snapshot.tombstones.map(_.wrap)
    withStaging(snapshot) { staging =>
      val sidecarDir = FileNames.sidecarDir(log.logPath)
      staging.fs.mkdirs(sidecarDir)
      def publishSidecars(staged: Seq[(Int, Path)],
                          name: (Int, Int) => String): Seq[SidecarFile] =
        staged.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (b, files) =>
          files.map(_._2).zipWithIndex.map { case (file, j) =>
            val dest = new Path(sidecarDir, name(b, j))
            staging.publish(file, dest)
            val st = staging.fs.getFileStatus(dest)
            SidecarFile(dest.getName, sizeInBytes = Some(st.getLen),
              modificationTime = Some(st.getModificationTime))
          }
        }
      // 1. add sidecars, one per (changed) bucket; a carry-over that
      // changed no bucket stages nothing
      val changed = plan.map(_.changed)
      val addSidecars = if (changed.exists(_.isEmpty)) Seq.empty else {
        val keep = (sa: SingleAction) => changed.forall(_.contains(bucketOf(sa)))
        val rows = fileRows(snapshot, snapshot.fileState) match {
          case Left(adds) => Left(adds.filter(keep))
          case Right(adds) => Right(adds.filter(keep))
        }
        publishSidecars(staging.stage("adds", rows, Encs.singleAction,
          changed.fold(nBuckets)(_.size), Some(bucketOf)),
          (b, j) => s"$uuid.b${b}of$nBuckets.$j.parquet")
      }
      // 2. tombstone sidecars: rewritten from the snapshot every time so
      // retention-based expiry is applied on the checkpoint cadence
      val tombstoneSidecars = publishSidecars(staging.stage("tombstones",
        Left(tombstones), Encs.singleAction,
        autoParts(snapshot, 1, tombstones.size.toLong)),
        (_, j) => s"$uuid.tombstones.$j.parquet")
      val sidecars = (plan.map(_.carried).getOrElse(Seq.empty) ++ addSidecars ++
        tombstoneSidecars).sortBy(_.path)

      // 3. main file: exactly one checkpointMetadata + the non-file
      // actions + the sidecar references
      val mainRows: Seq[V2MainAction] =
        V2MainAction(checkpointMetadata = Some(CheckpointMetadata(snapshot.version))) +:
        V2MainAction(protocol = Some(snapshot.protocol)) +:
        V2MainAction(metaData = Some(snapshot.metadata)) +:
        (liveSetTransactions(snapshot).map(t => V2MainAction(txn = Some(t))) ++
          snapshot.domainActions.map(d => V2MainAction(domainMetadata = Some(d))) ++
          sidecars.map(s => V2MainAction(sidecar = Some(s))))
      staging.publish(staging.stage("main", Left(mainRows), Encs.v2MainAction, 1).head._2,
        FileNames.v2CheckpointFile(log.logPath, snapshot.version, uuid, "parquet"))
      writeLastCheckpoint(log, LastCheckpoint(snapshot.version,
        snapshot.numOfFiles + tombstones.size + mainRows.size, parts = None))
    }
  }

  /** Name prefix of a checkpoint's staging directory under `_delta_log`. */
  private val StagingPrefix = ".checkpoint_tmp_"

  /** Names a checkpoint leaves in `_delta_log` only when its process dies
    * mid-write: the staging directory, the classic publish claim marker
    * and a stale claim's reclaim ticket. [[DeltaLog.cleanUpExpiredLogs]]
    * sweeps the expired ones. */
  private[delta] val RemnantGlobs: Seq[String] = Seq(StagingPrefix + "*",
    ".*.checkpoint.publishing", ".*.checkpoint.publishing.reclaim.*")

  /** One checkpoint's staging directory, with one subdirectory per
    * artifact class. */
  private final class Staging(spark: org.apache.spark.sql.SparkSession,
                              val fs: FileSystem, dir: Path) {
    def stage[T](artifact: String, rows: Either[Seq[T], Dataset[T]],
                 enc: Encoder[T], parts: Int,
                 bucket: Option[T => Int] = None): Seq[(Int, Path)] =
      LocalParquet.writeArtifacts(spark, fs, new Path(dir, artifact), rows,
        enc, parts, bucket)

    /** Move a staged file to its protocol name, replacing an existing
      * one (an idempotent re-checkpoint). */
    def publish(staged: Path, dest: Path): Unit = {
      fs.delete(dest, false)
      if (!fs.rename(staged, dest)) {
        throw new java.io.IOException(s"rename $staged -> $dest failed")
      }
    }
  }

  private def withStaging(snapshot: Snapshot)(body: Staging => Unit): Unit = {
    val log = snapshot.deltaLog
    val fs = log.logPath.getFileSystem(log.hadoopConf)
    val dir = new Path(log.logPath, StagingPrefix + java.util.UUID.randomUUID())
    try body(new Staging(snapshot.spark, fs, dir)) finally fs.delete(dir, true)
  }

  private def writeLastCheckpoint(log: DeltaLog, lc: LastCheckpoint): Unit =
    log.store.write(FileNames.lastCheckpointFile(log.logPath),
      Iterator(JsonCodec.mapper.writeValueAsString(lc)),
      overwrite = true, log.hadoopConf)

  /** One add-bucket sidecar name this writer produces:
    * `<uuid>.b<bucket>of<nBuckets>.<j>.parquet`. The bucket geometry
    * lives in the NAME so the next checkpoint's planner recovers the
    * manifest from the previous main file alone — no side channel a
    * foreign reader could misread (to them these are opaque sidecars). */
  private val BucketSidecarName = """.*\.b(\d+)of(\d+)\.\d+\.parquet""".r
  private val TombstoneSidecarName = """.*\.tombstones\.\d+\.parquet""".r

  /** Stable bucket of one (canonicalized) file path. Java's
    * `String.hashCode` is pinned by its spec, so the same path lands in
    * the same bucket in every JVM and session — the invariant carry-over
    * rests on. */
  private[delta] def sidecarBucket(path: String, nBuckets: Int): Int =
    math.floorMod(path.hashCode, nBuckets)

  private[delta] case class V2CarryPlan(
      nBuckets: Int,
      /** Previous-checkpoint sidecars re-referenced verbatim. */
      carried: Seq[SidecarFile],
      /** Buckets a commit in the interval touched — rewritten from the
        * current state (a touched bucket whose files all vanished simply
        * produces no sidecar). */
      changed: Set[Int])

  /** Decide whether this checkpoint can carry unchanged sidecars over
    * from the previous one; `None` = full rewrite. See
    * [[writeV2Checkpoint]] for the policy rationale. */
  private[delta] def planV2CarryOver(
      snapshot: Snapshot, requestedParts: Int): Option[V2CarryPlan] = {
    val main = snapshot.v2Main.getOrElse(return None)
    val prevV = snapshot.logSegment.checkpointVersion.getOrElse(return None)
    val buckets = Vector.newBuilder[(Int, Int, SidecarFile)]
    main.sidecars.foreach { s =>
      val name = V2Checkpoints.sidecarPath(snapshot.deltaLog.logPath, s).getName
      name match {
        case BucketSidecarName(b, n) => buckets += ((b.toInt, n.toInt, s))
        case TombstoneSidecarName() => // rewritten every checkpoint
        case _ => return None // foreign / pre-carry-over layout
      }
    }
    val parsed = buckets.result()
    if (parsed.isEmpty) return None
    val ns = parsed.map(_._2).distinct
    if (ns.size != 1) return None
    val nBuckets = ns.head
    val sidecarSize =
      DeltaConfigs.CHECKPOINT_SIDECAR_SIZE.fromMetadata(snapshot.metadata)
    if (requestedParts > nBuckets ||
        snapshot.numOfFiles > 2L * sidecarSize * nBuckets) return None
    // One STREAMING pass over the interval (nothing parsed is retained —
    // a backfill commit since the last checkpoint can carry 500k+ adds,
    // and caching them driver-side just to plan a checkpoint would be
    // the exact materialization the state bound exists to prevent):
    //  - a metadata/protocol change forces a full rewrite (it may alter
    //    the stats form or schema the carried files were written under;
    //    both are rare, so rewriting on them costs nothing steady-state);
    //  - add/remove paths mark their buckets changed.
    val canonical = snapshot.canonicalPath
    var metaOrProtoChanged = false
    val changedB = Set.newBuilder[Int]
    snapshot.lightCommitActionsAfter(prevV).foreach { case (_, as) =>
      as.foreach {
        case _: Metadata | _: Protocol => metaOrProtoChanged = true
        case a: AddFile =>
          changedB += sidecarBucket(canonical(a.path), nBuckets)
        case r: RemoveFile =>
          changedB += sidecarBucket(canonical(r.path), nBuckets)
        case _ =>
      }
    }
    if (metaOrProtoChanged) return None
    val changed = changedB.result()
    Some(V2CarryPlan(nBuckets,
      parsed.collect { case (b, _, s) if !changed.contains(b) => s },
      changed))
  }

  /** The larger of the caller/config-requested part count and the
    * SIZE-derived one: states beyond `delta.checkpoint.partSize` actions
    * split automatically so no single writer or reader task owns the
    * whole state (M7 auto-sizing, the `checkpointParts` semantics of the
    * reference generalized to derive from state size). */
  private def autoParts(snapshot: Snapshot, requested: Int,
                        actionCount: Long): Int = {
    val partSize =
      DeltaConfigs.CHECKPOINT_PART_SIZE.fromMetadata(snapshot.metadata)
    math.max(requested,
      math.ceil(actionCount.toDouble / partSize.toDouble).toInt.max(1))
  }

  /** How long a crashed publisher's claim marker blocks re-election.
    * Readers only ever select COMPLETE checkpoint groups, so a
    * half-published group behind a stale marker is invisible — reclaim
    * just restores writability of that version's checkpoint. */
  private[delta] val PublishClaimGraceMs: Long = 10 * 60 * 1000L

  /** O_EXCL marker create. On file:// the Hadoop local FS create is
    * check-then-act, so the kernel primitive does the electing (the same
    * hole the commit path closes in ObjectStoreLogStore). */
  private def atomicCreateMarker(fs: org.apache.hadoop.fs.FileSystem,
                                 p: Path): Boolean =
    try {
      if (storage.LogStore.isLocalScheme(p, fs)) {
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(p.toUri.getPath))
      } else {
        val out = fs.create(p, false)
        out.close()
      }
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case e: java.io.IOException => if (fs.exists(p)) false else throw e
    }

  /** Elect ONE publisher for this version's checkpoint group. A stale
    * claim (crashed winner) is reclaimed after the grace period. */
  // private[delta] so the reclaim-race spec can drive it directly
  private[delta] def claimPublish(fs: org.apache.hadoop.fs.FileSystem,
                                  marker: Path): Boolean =
    atomicCreateMarker(fs, marker) || {
      try {
        val st = fs.getFileStatus(marker)
        val instance = st.getModificationTime
        if (System.currentTimeMillis() - instance > PublishClaimGraceMs) {
          reclaimStaleClaim(fs, marker, instance)
        } else false
      } catch {
        // the holder finished and removed it between our create and stat
        case _: java.io.FileNotFoundException => atomicCreateMarker(fs, marker)
      }
    }

  /** Reclaim a stale claim ATOMICALLY. Plain delete-then-create lets two
    * reclaimers interleave — B's delete removes A's freshly re-created
    * marker and both claims succeed, the exact mixed-part-set hazard the
    * marker enforces against (ADVICE r13). Two guards close it:
    *
    *  1. an O_EXCL reclaim TICKET named by the stale instance's mtime —
    *     at most one reclaimer per stale instance ever passes (create is
    *     the one FS primitive with no overwrite/TOCTOU ambiguity; two
    *     instances can't share an mtime, they are >= a grace period
    *     apart);
    *  2. a re-stat immediately before the delete verifying the marker is
    *     STILL that instance — a late reclaimer that re-acquires the
    *     ticket after the winner released it sees the winner's fresh
    *     mtime and backs off without deleting.
    *
    * The ticket is released in `finally`; one leaks only on JVM death
    * mid-reclaim, and a leaked ticket older than the grace period is
    * swept (returning false — the sweeper unwedges the version for the
    * NEXT caller rather than racing onward itself). Residual windows all
    * require a process pausing LONGER than the 10-minute grace at a
    * specific line — the irreducible lease hazard of any crash-reclaim
    * scheme without a lock service. */
  private def reclaimStaleClaim(fs: org.apache.hadoop.fs.FileSystem,
                                marker: Path, instance: Long): Boolean = {
    val ticket = new Path(marker.getParent,
      s"${marker.getName}.reclaim.$instance")
    if (!atomicCreateMarker(fs, ticket)) {
      // another reclaimer owns this instance — or its JVM died holding
      // the ticket: sweep a grace-old ticket so the version cannot stay
      // wedged forever behind a crashed reclaimer
      try {
        val tst = fs.getFileStatus(ticket)
        if (System.currentTimeMillis() - tst.getModificationTime >
            PublishClaimGraceMs) {
          fs.delete(ticket, false)
        }
      } catch { case _: java.io.FileNotFoundException => () }
      return false
    }
    try {
      val stillStale =
        try fs.getFileStatus(marker).getModificationTime == instance
        catch { case _: java.io.FileNotFoundException => false }
      if (!stillStale) false
      else {
        fs.delete(marker, false)
        atomicCreateMarker(fs, marker)
      }
    } finally fs.delete(ticket, false)
  }

  /** Row shape of a V2 checkpoint's MAIN parquet file: the non-file
    * action columns plus `checkpointMetadata` and `sidecar` (top-level —
    * Spark's generated serializer must reach the constructor). */
  private[delta] case class V2MainAction(
      txn: Option[SetTransaction] = None,
      metaData: Option[Metadata] = None,
      protocol: Option[Protocol] = None,
      checkpointMetadata: Option[CheckpointMetadata] = None,
      sidecar: Option[SidecarFile] = None,
      domainMetadata: Option[DomainMetadata] = None)

  /** Read `_last_checkpoint`; None when it is missing (every
    * checkpoint-less table) or unreadable, and the caller falls back to a
    * full listing. An unreadable hint is reported: some writer left it. */
  def lastCheckpoint(log: DeltaLog): Option[LastCheckpoint] = {
    val hint = FileNames.lastCheckpointFile(log.logPath)
    try {
      log.store.read(hint, log.hadoopConf).headOption.map(
        JsonCodec.mapper.readValue(_, classOf[LastCheckpoint]))
    } catch {
      case _: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException =>
        None
      case t: Exception =>
        System.err.println(s"graft: unreadable checkpoint hint $hint (ignored): $t")
        None
    }
  }
}
