package graft.delta

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Reading V2 (uuid-named) checkpoints — PROTOCOL.md "V2 Checkpoints".
  *
  * Fixtures are HAND-BUILT from the public spec (lesson 33: round-trips
  * can share a misreading): a real table's log is rewritten with a
  * uuid-named checkpoint whose main file is json or parquet, file actions
  * inline or in `_delta_log/_sidecars/` parquets, then every commit at or
  * below the checkpoint version is DELETED so the read can only succeed
  * through the v2 machinery. */
/** Parquet main-file row shape for hand-built v2 fixtures (top-level —
  * local case classes have no TypeTag for encoders). */
case class V2WideAction(txn: Option[SetTransaction] = None,
                        add: Option[AddFile] = None,
                        remove: Option[RemoveFile] = None,
                        metaData: Option[Metadata] = None,
                        protocol: Option[Protocol] = None,
                        sidecar: Option[SidecarFile] = None)

class V2CheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def log(dir: String) = DeltaLog.forTable(spark, dir)

  /** Rows 0..19 across two commits; returns the log (at version 1). */
  private def seedTable(dir: String): DeltaLog = {
    DeltaTable.write((0L until 10L).toDF("id").coalesce(1), dir)
    DeltaTable.write((10L until 20L).toDF("id").coalesce(1), dir)
    log(dir)
  }

  /** Write `actions` as a single-file sidecar parquet and return its
    * sidecar action (relative path + true size). */
  private def writeSidecar(dir: String, name: String,
                           actions: Seq[SingleAction]): SidecarFile = {
    implicit val enc = Encoders.product[SingleAction]
    val tmp = new File(dir, s"_delta_log/.sidecar_tmp_$name")
    spark.createDataset(actions).coalesce(1)
      .write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
    val dest = new File(dir, s"_delta_log/_sidecars/$name")
    dest.getParentFile.mkdirs()
    require(part.renameTo(dest), s"rename $part -> $dest")
    tmp.listFiles().foreach(_.delete()); tmp.delete()
    SidecarFile(name, sizeInBytes = Some(dest.length()))
  }

  /** Replace the log's classic layout with a v2 checkpoint at `version`:
    * main file (json or parquet) + optional sidecars; deletes every
    * commit <= version so replay MUST go through the checkpoint. */
  private def installV2(dir: String, l: DeltaLog, json: Boolean,
                        withSidecars: Boolean): Unit = {
    val snap = l.update()
    val proto = Protocol(3, 7,
      readerFeatures = Some(Seq("v2Checkpoint")),
      writerFeatures = Some(Seq("v2Checkpoint")))
    val fileActions = snap.allFiles.map(_.wrap)
    val sidecars: Seq[SidecarFile] =
      if (withSidecars) {
        val (a, b) = fileActions.splitAt(1)
        Seq(writeSidecar(dir, "sc-aaaa.parquet", a),
          writeSidecar(dir, "sc-bbbb.parquet", b))
      } else Nil
    val inline = if (withSidecars) Nil else fileActions
    val logPath = l.logPath
    if (json) {
      val lines =
        Seq(s"""{"checkpointMetadata":{"version":${snap.version}}}""") ++
          (proto.wrap +: snap.metadata.wrap +: inline).map(JsonCodec.toJson) ++
          sidecars.map(s => s"""{"sidecar":${JsonCodec.mapper.writeValueAsString(s)}}""")
      l.store.write(
        FileNames.v2CheckpointFile(logPath, snap.version, "11112222-uuid", "json"),
        lines.iterator, overwrite = true, l.hadoopConf)
    } else {
      // parquet main: SingleAction columns + a sidecar column
      implicit val enc = Encoders.product[V2WideAction]
      val rows =
        Seq(V2WideAction(protocol = Some(proto)),
          V2WideAction(metaData = Some(snap.metadata))) ++
          inline.map(sa => V2WideAction(add = sa.add)) ++
          sidecars.map(s => V2WideAction(sidecar = Some(s)))
      val tmp = new File(dir, "_delta_log/.v2_tmp")
      spark.createDataset(rows).coalesce(1)
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = new Path(FileNames.v2CheckpointFile(
        logPath, snap.version, "33334444-uuid", "parquet").toUri.getPath)
      require(part.renameTo(new File(dest.toString)), s"rename to $dest")
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
    // remove the commits the checkpoint subsumes — reads must now go
    // through the v2 checkpoint or fail
    (0L to snap.version).foreach { v =>
      new File(new Path(logPath, f"$v%020d.json").toUri.getPath).delete()
    }
    DeltaLog.clearCache()
  }

  private def readIds(dir: String): Seq[Long] =
    DeltaTable.forPath(spark, dir).toDF.select("id").as[Long]
      .collect().sorted.toSeq

  test("json main + sidecars: state reconstructs through the sidecars") {
    withTempDir { dir =>
      installV2(dir, seedTable(dir), json = true, withSidecars = true)
      val snap = log(dir).update()
      assert(snap.version == 1)
      assert(snap.protocol.readerFeatures.get.contains("v2Checkpoint"))
      assert(snap.allFiles.size == 2)
      assert(readIds(dir) == (0L until 20L))
      // the v2Checkpoint writer feature is implemented (checkpoints
      // honor delta.checkpointPolicy), so appends on the table work
      DeltaTable.write((90L until 95L).toDF("id"), dir)
      assert(readIds(dir) == ((0L until 20L) ++ (90L until 95L)))
    }
  }

  test("parquet main with inline file actions (no sidecars)") {
    withTempDir { dir =>
      installV2(dir, seedTable(dir), json = false, withSidecars = false)
      val snap = log(dir).update()
      assert(snap.allFiles.size == 2)
      assert(readIds(dir) == (0L until 20L))
    }
  }

  test("parquet main + sidecars via the DISTRIBUTED state path") {
    withTempDir { dir =>
      installV2(dir, seedTable(dir), json = false, withSidecars = true)
      spark.conf.set(Snapshot.DriverStateMaxBytesKey, "0")
      try {
        val snap = log(dir).update()
        assert(snap.distributedState, "fixture must exercise the job path")
        assert(readIds(dir) == (0L until 20L))
      } finally spark.conf.unset(Snapshot.DriverStateMaxBytesKey)
    }
  }

  test("a classic checkpoint at the same version is preferred") {
    withTempDir { dir =>
      val l = seedTable(dir)
      Checkpoints.writeCheckpoint(l.update())
      // v2 twin at the same version whose sidecar DOES NOT EXIST — the
      // read succeeds only if the classic instance wins the selection
      val snap = l.update()
      val lines =
        Seq(s"""{"checkpointMetadata":{"version":${snap.version}}}""",
          JsonCodec.toJson(snap.protocol.wrap),
          JsonCodec.toJson(snap.metadata.wrap),
          """{"sidecar":{"path":"does-not-exist.parquet","sizeInBytes":1}}""")
      l.store.write(
        FileNames.v2CheckpointFile(l.logPath, snap.version, "broken-uuid", "json"),
        lines.iterator, overwrite = true, l.hadoopConf)
      (0L to snap.version).foreach { v =>
        new File(new Path(l.logPath, f"$v%020d.json").toUri.getPath).delete()
      }
      DeltaLog.clearCache()
      assert(readIds(dir) == (0L until 20L))
    }
  }

  test("time travel to a later commit stacked on a v2 checkpoint") {
    withTempDir { dir =>
      val l = seedTable(dir)
      // commit v2 on top of version 1's checkpoint BEFORE installing it
      DeltaTable.write((20L until 25L).toDF("id").coalesce(1), dir)
      // hand-install the v2 checkpoint at version 1 (not head)
      val snap1 = l.getSnapshotForVersionAsOf(1)
      val sc = writeSidecar(dir, "sc-tt.parquet", snap1.allFiles.map(_.wrap))
      val lines =
        Seq("""{"checkpointMetadata":{"version":1}}""",
          JsonCodec.toJson(snap1.protocol.wrap),
          JsonCodec.toJson(snap1.metadata.wrap),
          s"""{"sidecar":${JsonCodec.mapper.writeValueAsString(sc)}}""")
      l.store.write(
        FileNames.v2CheckpointFile(l.logPath, 1L, "tt-uuid", "json"),
        lines.iterator, overwrite = true, l.hadoopConf)
      (0L to 1L).foreach { v =>
        new File(new Path(l.logPath, f"$v%020d.json").toUri.getPath).delete()
      }
      DeltaLog.clearCache()
      // head = checkpoint state + the surviving version-2 commit
      assert(readIds(dir) == (0L until 25L))
      // pinned AT the checkpoint version
      assert(DeltaTable.forPath(spark, dir).asOfVersion(1)
        .select("id").as[Long].collect().sorted.toSeq == (0L until 20L))
    }
  }

  test("checkpointPolicy=v2 writes uuid-named checkpoints with sidecars") {
    withTempDir { dir =>
      DeltaTable.write((0L until 10L).toDF("id"), dir, configuration = Map(
        "delta.checkpointPolicy" -> "v2",
        "delta.checkpointInterval" -> "2"))
      (1 to 3).foreach(i =>
        DeltaTable.write((i * 10L until i * 10L + 10L).toDF("id"), dir))
      val logDir = new File(dir, "_delta_log")
      val v2s = logDir.listFiles().map(_.getName)
        .filter(n => FileNames.isV2CheckpointFile(new Path(n)))
      assert(v2s.nonEmpty, "the interval must have produced a v2 checkpoint")
      assert(logDir.listFiles().map(_.getName)
        .forall(n => !n.matches("""\d+\.checkpoint\.parquet""")),
        "policy v2 must never write classic checkpoints")
      val sidecars = new File(logDir, "_sidecars").listFiles()
      assert(sidecars != null && sidecars.nonEmpty)

      // our own reader replays it: drop the subsumed commits, reopen
      val cpV = v2s.map(n => n.split('.').head.toLong).max
      (0L to cpV).foreach { v =>
        new File(logDir, f"$v%020d.json").delete()
      }
      DeltaLog.clearCache()
      assert(readIds(dir) == (0L until 40L))
      // tombstones survive the v2 round-trip too
      DeltaTable.forPath(spark, dir).delete($"id" < 5L)
      assert(readIds(dir) == (5L until 40L))
    }
  }

  /** Sidecar names referenced by the NEWEST v2 checkpoint main file. */
  private def latestV2Sidecars(dir: String): Set[String] = {
    val l = log(dir)
    val logDir = new File(dir, "_delta_log")
    val mains = logDir.listFiles()
      .filter(f => FileNames.isV2CheckpointFile(new Path(f.getName)))
    assert(mains.nonEmpty, "no v2 checkpoint written")
    val newest = mains.maxBy(f =>
      FileNames.checkpointVersion(new Path(f.getName)))
    val hp = new Path(newest.getAbsolutePath)
    val st = hp.getFileSystem(l.hadoopConf).getFileStatus(hp)
    V2Checkpoints.readMain(spark, l.logPath, st, l.hadoopConf).sidecars
      .map(s => V2Checkpoints.sidecarPath(l.logPath, s).getName).toSet
  }

  private def dropSubsumedCommits(dir: String): Unit = {
    val logDir = new File(dir, "_delta_log")
    val cpV = logDir.listFiles()
      .filter(f => FileNames.isV2CheckpointFile(new Path(f.getName)))
      .map(f => FileNames.checkpointVersion(new Path(f.getName))).max
    (0L to cpV).foreach(v => new File(logDir, f"$v%020d.json").delete())
    DeltaLog.clearCache()
  }

  test("sidecar carry-over: a 1-file append rewrites at most one sidecar " +
      "and replay still matches") {
    withTempDir { dir =>
      DeltaTable.write((0L until 400L).toDF("id").repartition(8), dir,
        configuration = Map(
          "delta.checkpointPolicy" -> "v2",
          "delta.checkpointParts" -> "4",
          "delta.checkpointInterval" -> "1000")) // manual checkpoints only
      val l = log(dir)
      Checkpoints.writeCheckpoint(l.update(), parts = 4)
      val a = latestV2Sidecars(dir)
      assert(a.nonEmpty && a.forall(_.matches(""".*\.b\d+of\d+\.\d+\.parquet""")),
        s"full write must produce bucket-named sidecars: $a")

      DeltaTable.write((400L until 410L).toDF("id").coalesce(1), dir)
      Checkpoints.writeCheckpoint(l.update(), parts = 4)
      val b = latestV2Sidecars(dir)
      assert((b -- a).size == 1,
        s"a 1-file append must rewrite exactly one bucket sidecar; " +
          s"new = ${b -- a}")
      assert((a -- b).size <= 1,
        s"only the touched bucket's previous sidecar may drop; " +
          s"dropped = ${a -- b}")
      assert((a intersect b).nonEmpty, "unchanged sidecars must carry over")

      // replay THROUGH the carried checkpoint: subsumed commits deleted,
      // the state must still be exact
      dropSubsumedCommits(dir)
      assert(readIds(dir) == (0L until 410L))
    }
  }

  test("sidecar carry-over works through the DISTRIBUTED state path") {
    withTempDir { dir =>
      DeltaTable.write((0L until 400L).toDF("id").repartition(8), dir,
        configuration = Map(
          "delta.checkpointPolicy" -> "v2",
          "delta.checkpointParts" -> "4",
          "delta.checkpointInterval" -> "1000"))
      val l = log(dir)
      // first checkpoint from driver state (distributedState derives
      // from checkpoint BYTES — there is no checkpoint yet)
      Checkpoints.writeCheckpoint(l.update(), parts = 4)
      val a = latestV2Sidecars(dir)
      spark.conf.set(Snapshot.DriverStateMaxBytesKey, "1") // force distributed
      try {
        DeltaTable.write((400L until 410L).toDF("id").coalesce(1), dir)
        val snap = l.update()
        assert(snap.distributedState, "precondition: distributed mode")
        Checkpoints.writeCheckpoint(snap, parts = 4)
        val b = latestV2Sidecars(dir)
        assert((b -- a).size == 1, s"one rewritten bucket: ${b -- a}")
        assert((a intersect b).nonEmpty, "carry-over must engage")
        dropSubsumedCommits(dir)
        assert(readIds(dir) == (0L until 410L))
      } finally spark.conf.unset(Snapshot.DriverStateMaxBytesKey)
    }
  }

  test("sidecar carry-over: removes rewrite the touched bucket, land in a " +
      "tombstone sidecar, and never resurrect") {
    withTempDir { dir =>
      // range layout so the delete's stats pruning touches FEW files,
      // and MORE buckets than the delete can possibly touch (6 removed
      // files + their rewritten adds < 16 buckets) so at least one
      // occupied bucket is structurally guaranteed to carry over —
      // bucket assignment hashes per-run uuid paths, so anything
      // probabilistic here would flake
      DeltaTable.write(
        (0L until 400L).toDF("id").repartitionByRange(24, $"id"), dir,
        configuration = Map(
          "delta.checkpointPolicy" -> "v2",
          "delta.checkpointParts" -> "16",
          "delta.checkpointInterval" -> "1000"))
      val l = log(dir)
      Checkpoints.writeCheckpoint(l.update(), parts = 16)
      val a = latestV2Sidecars(dir)

      // a delete that empties some files and rewrites others
      DeltaTable.forPath(spark, dir).delete($"id" < 100L)
      Checkpoints.writeCheckpoint(l.update(), parts = 16)
      val b = latestV2Sidecars(dir)
      assert(b.exists(_.contains(".tombstones.")),
        s"the delete's removes must land in a tombstone sidecar: $b")
      assert((a intersect b).nonEmpty,
        "buckets the delete did not touch must carry over")

      dropSubsumedCommits(dir)
      assert(readIds(dir) == (100L until 400L),
        "carried + rewritten sidecars must reconstruct the exact state")
    }
  }

  test("sidecar carry-over: a metadata change in the interval forces a " +
      "full rewrite") {
    withTempDir { dir =>
      DeltaTable.write((0L until 400L).toDF("id").repartition(8), dir,
        configuration = Map(
          "delta.checkpointPolicy" -> "v2",
          "delta.checkpointParts" -> "4",
          "delta.checkpointInterval" -> "1000"))
      val l = log(dir)
      Checkpoints.writeCheckpoint(l.update(), parts = 4)
      val a = latestV2Sidecars(dir)

      // the stats form the carried files were written under may change
      // with the metadata — carry-over must not trust them
      DeltaTable.forPath(spark, dir)
        .setProperties(Map("delta.checkpoint.writeStatsAsJson" -> "false"))
      DeltaTable.write((400L until 410L).toDF("id").coalesce(1), dir)
      Checkpoints.writeCheckpoint(l.update(), parts = 4)
      val b = latestV2Sidecars(dir)
      assert((a intersect b).isEmpty,
        s"metadata change must rewrite every sidecar; carried = ${a intersect b}")
      dropSubsumedCommits(dir)
      assert(readIds(dir) == (0L until 410L))
    }
  }

  test("log cleanup reclaims sidecars of expired v2 checkpoints only") {
    withTempDir { dir =>
      val l = log(dir)
      // manual clock rides ON TOP of real time: cleanup compares real
      // file mtimes against (clock - retention), so the advanced clock
      // must land the cutoff past the files' true timestamps
      var now = System.currentTimeMillis()
      l.clock = () => now
      DeltaTable.write((0L until 10L).toDF("id"), dir, configuration = Map(
        "delta.checkpointPolicy" -> "v2",
        "delta.checkpointParts" -> "4",
        "delta.checkpointInterval" -> "2",
        "delta.logRetentionDuration" -> "interval 1 days",
        "delta.enableExpiredLogCleanup" -> "false"))
      (1 to 3).foreach(i =>
        DeltaTable.write((i * 10L until i * 10L + 10L).toDF("id")
          .coalesce(1), dir))
      val scDir = new File(dir, "_delta_log/_sidecars")
      val earlySidecars = scDir.listFiles().map(_.getName).toSet
      assert(earlySidecars.nonEmpty)

      // ...two days later, more SINGLE-FILE commits roll a NEWER v2
      // checkpoint that carries the untouched buckets over. Their files
      // are named into one bucket that held an early sidecar, so that
      // sidecar is rewritten and orphaned wherever v3's random file
      // landed. The bucket is v3's own when it held an early sidecar, so
      // only one early bucket is rewritten and the others carry over
      now += 2L * 24 * 3600 * 1000
      val BucketSidecar = """.*\.b(\d+)of(\d+)\.\d+\.parquet""".r
      val early = earlySidecars.toSeq.collect {
        case BucketSidecar(b, n) => (b.toInt, n.toInt)
      }
      val earlyBuckets = early.map(_._1).toSet
      val canonical = l.update().canonicalPath
      def bucketOf(path: String) =
        Checkpoints.sidecarBucket(canonical(path), early.head._2)
      val v3Bucket = l.getChanges(3L, endVersion = Some(3L)).flatMap(_._2)
        .collectFirst { case a: AddFile => bucketOf(a.path) }.get
      val target = if (earlyBuckets(v3Bucket)) v3Bucket else earlyBuckets.min
      (4 to 5).foreach { i =>
        val stage = new File(dir, s"_stage$i").getPath
        DeltaTable.write((i * 10L until i * 10L + 10L).toDF("id")
          .coalesce(1), stage)
        val add = log(stage).update().allFiles.head
        val name = Iterator.from(0).map(k => s"part-$i-$k.parquet")
          .find(bucketOf(_) == target).get
        java.nio.file.Files.move(new File(stage, add.path).toPath,
          new File(dir, name).toPath)
        l.startTransaction().commit(Seq(add.copy(path = name)), "WRITE")
      }
      val allSidecars = scDir.listFiles().map(_.getName).toSet
      assert(allSidecars.size > earlySidecars.size)

      val deleted = l.cleanUpExpiredLogs()
      assert(deleted > 0)
      // ignore the local filesystem's .crc shadow files
      val kept = scDir.listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).toSet
      // the reference set is "referenced by a SURVIVING main": with
      // carry-over the live checkpoint re-references most of the early
      // sidecars (they must survive cleanup even with expired mtimes),
      // while buckets it rewrote leave their old files unreferenced —
      // those are reclaimed with their expired main
      val logDir = new File(dir, "_delta_log")
      val referenced = logDir.listFiles()
        .filter(f => FileNames.isV2CheckpointFile(new Path(f.getName)))
        .flatMap { f =>
          val hp = new Path(f.getAbsolutePath)
          val st = hp.getFileSystem(l.hadoopConf).getFileStatus(hp)
          V2Checkpoints.readMain(spark, l.logPath, st, l.hadoopConf).sidecars
            .map(s => V2Checkpoints.sidecarPath(l.logPath, s).getName)
        }.toSet
      assert(kept == referenced,
        s"kept ($kept) must be exactly the surviving mains' references ($referenced)")
      assert(kept.intersect(earlySidecars).nonEmpty,
        "carried-over early sidecars must survive cleanup")
      assert((allSidecars -- kept).nonEmpty,
        "rewritten buckets' orphaned sidecars must be reclaimed")
      assert(readIds(dir) == (0L until 60L))
    }
  }

  test("unsupported reader feature alongside v2Checkpoint refuses by name") {
    withTempDir { dir =>
      val l = seedTable(dir)
      val snap = l.update()
      val proto = Protocol(3, 7,
        readerFeatures = Some(Seq("v2Checkpoint", "someFutureThing")),
        writerFeatures = Some(Seq("v2Checkpoint")))
      val lines =
        Seq("""{"checkpointMetadata":{"version":1}}""",
          JsonCodec.toJson(proto.wrap),
          JsonCodec.toJson(snap.metadata.wrap)) ++
          snap.allFiles.map(a => JsonCodec.toJson(a.wrap))
      l.store.write(
        FileNames.v2CheckpointFile(l.logPath, 1L, "gate-uuid", "json"),
        lines.iterator, overwrite = true, l.hadoopConf)
      (0L to 1L).foreach { v =>
        new File(new Path(l.logPath, f"$v%020d.json").toUri.getPath).delete()
      }
      DeltaLog.clearCache()
      val e = intercept[IllegalArgumentException] { readIds(dir) }
      assert(e.getMessage.contains("someFutureThing"))
    }
  }
}
