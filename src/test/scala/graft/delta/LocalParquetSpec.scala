package graft.delta

import java.io.File
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier, TimeUnit}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Encoder

import graft.SparkSpec
import graft.delta.write.LocalParquet

/** Driver-side checkpoint IO: each action encoder is bound once per
  * thread, the driver read decodes exactly what the Spark-job read
  * decodes, and a failed write reports its own cause and leaves no file. */
class LocalParquetSpec extends SparkSpec {
  import spark.implicits._

  private val actionEncs: Seq[Encoder[_]] = Seq(Encs.lightAction,
    Encs.stateAction, Encs.v2StateAction, Encs.singleAction, Encs.v2MainAction)

  /** `f` on a thread of its own: it starts with no encoder bound. */
  private def onFreshThread[T](f: => T): T = {
    var out: Option[T] = None
    var err: Throwable = null
    val t = new Thread(() => try out = Some(f) catch { case e: Throwable => err = e })
    t.start()
    t.join()
    if (err != null) throw err
    out.get
  }

  /** Partitioned table (3 commits) with a classic checkpoint at its head. */
  private def checkpointedTable(dir: String): DeltaLog = {
    DeltaTable.write((1 to 20).map(i => (i, s"g${i % 2}")).toDF("v", "grp"),
      dir, partitionBy = Seq("grp"))
    (1 to 2).foreach(i =>
      DeltaTable.write(Seq((100 + i, "g0")).toDF("v", "grp"), dir))
    val log = DeltaLog.forTable(spark, dir)
    Checkpoints.writeCheckpoint(log.update())
    log
  }

  private def coldLoad(dir: String): Snapshot = {
    DeltaLog.clearCache()
    val snap = DeltaLog.forTable(spark, dir).update()
    assert(snap.allFiles.nonEmpty)
    snap
  }

  private def sorted[T](rows: Seq[T]): Seq[String] = rows.map(_.toString).sorted

  test("a second cold load and checkpoint write on one thread bind nothing new") {
    withTempDir { dir =>
      checkpointedTable(dir)
      onFreshThread {
        val first = coldLoad(dir)
        val afterLoad = LocalParquet.bindBuilds
        assert(afterLoad > 0, "the cold load must decode the checkpoint driver-side")
        coldLoad(dir)
        assert(LocalParquet.bindBuilds == afterLoad)

        Checkpoints.writeCheckpoint(first)
        val afterWrite = LocalParquet.bindBuilds
        assert(afterWrite > afterLoad, "the first write binds the serializer")
        Checkpoints.writeCheckpoint(first)
        assert(LocalParquet.bindBuilds == afterWrite)
      }
    }
  }

  test("a thread holds at most one binding per action encoder") {
    withTempDir { classic =>
      withTempDir { v2 =>
        checkpointedTable(classic)
        DeltaTable.write((0L until 10L).toDF("id"), v2,
          configuration = Map("delta.checkpointPolicy" -> "v2"))
        DeltaTable.write((10L until 20L).toDF("id"), v2)
        onFreshThread {
          (1 to 6).foreach { _ =>
            Checkpoints.writeCheckpoint(coldLoad(classic))
            Checkpoints.writeCheckpoint(coldLoad(v2))
          }
          val bound = LocalParquet.boundEncoders
          assert(bound.nonEmpty && bound.size <= actionEncs.size)
          assert(bound.forall(e => actionEncs.exists(_ eq e)), bound)
        }
      }
    }
  }

  test("two threads checkpoint and read two tables at once, matching the job path") {
    withTempDir { a =>
      withTempDir { b =>
        val logs = Seq(checkpointedTable(a), checkpointedTable(b))
        val rounds = 4
        val barrier = new CyclicBarrier(logs.size)
        val errors = new ConcurrentLinkedQueue[Throwable]()
        val threads = logs.map { log =>
          new Thread(() => try {
            val head = log.update()
            val fs = log.logPath.getFileSystem(log.hadoopConf)
            val cp = Seq(FileNames.checkpointFileSingular(log.logPath, head.version))
            (1 to rounds).foreach { _ =>
              barrier.await(60, TimeUnit.SECONDS)
              Checkpoints.writeCheckpoint(head)
              val driver = LocalParquet.readArtifacts(spark, fs, cp,
                Some(1L), Encs.singleAction)
              val job = spark.read.schema(Encs.singleAction.schema)
                .parquet(cp.map(_.toString): _*)
                .as[SingleAction](Encs.singleAction).collect().toSeq
              val same = driver.nonEmpty && sorted(driver) == sorted(job)
              assert(same, s"driver and job rows of ${cp.head} differ")
              val travelled = log.getSnapshotForVersionAsOf(head.version)
              assert(travelled.allFiles.map(_.path).toSet ==
                head.allFiles.map(_.path).toSet)
            }
          } catch { case e: Throwable => errors.add(e); barrier.reset() })
        }
        threads.foreach(_.start())
        threads.foreach(_.join(120000))
        assert(threads.forall(!_.isAlive), "writers did not finish")
        Option(errors.peek()).foreach(e => throw e)
      }
    }
  }

  /** Partitioned, merge-on-read table whose checkpoint at its head
    * carries deletion vectors, tags and `stats_parsed`. */
  private def richCheckpoint(dir: String, extraConf: Map[String, String]): DeltaLog = {
    DeltaTable.write((0L until 30L).map(i => (i, s"p${i % 3}")).toDF("id", "p")
      .repartition(2), dir, partitionBy = Seq("p"),
      configuration = Map("delta.enableDeletionVectors" -> "true") ++ extraConf)
    DeltaTable.write((30L until 40L).map(i => (i, s"p${i % 3}")).toDF("id", "p"), dir)
    DeltaTable.forPath(spark, dir).delete($"id" % 4 === 0)
    val log = DeltaLog.forTable(spark, dir)
    val tagged = log.update().allFiles.maxBy(_.path)
    log.startTransaction().commit(Seq(tagged.copy(dataChange = false,
      tags = Some(Map("origin" -> "LocalParquetSpec")))), "MANUAL")
    val head = log.update()
    assert(head.allFiles.exists(_.deletionVector.isDefined))
    assert(head.allFiles.exists(_.tags.isDefined))
    Checkpoints.writeCheckpoint(head)
    log
  }

  /** Reads `paths` through `enc` driver-side and by a Spark job. */
  private def assertDriverMatchesJob[T](log: DeltaLog, paths: Seq[Path],
                                        enc: Encoder[T]): Seq[T] = {
    val fs = log.logPath.getFileSystem(log.hadoopConf)
    val bytes = paths.map(p => fs.getFileStatus(p).getLen).sum
    assert(bytes <= LocalParquet.MaxDriverReadBytes)
    val driver = LocalParquet.readArtifacts(spark, fs, paths, Some(bytes), enc)
    val job = LocalParquet.readArtifacts(spark, fs, paths,
      Some(LocalParquet.MaxDriverReadBytes + 1), enc)
    val same = driver.nonEmpty && sorted(driver) == sorted(job)
    assert(same, s"driver and job rows differ through ${enc.schema.simpleString}")
    driver
  }

  private def assertRichAdds(rows: Seq[SingleAction]): Unit = {
    val adds = rows.flatMap(_.add)
    assert(adds.exists(_.deletionVector.isDefined))
    assert(adds.exists(_.tags.isDefined))
    assert(adds.nonEmpty && adds.forall(_.stats_parsed.isDefined))
    assert(adds.map(_.partitionValues("p")).toSet == Set("p0", "p1", "p2"))
  }

  test("driver read matches the job path on a classic checkpoint with DVs, tags and stats") {
    withTempDir { dir =>
      val log = richCheckpoint(dir, Map.empty)
      val cp = Seq(FileNames.checkpointFileSingular(log.logPath, log.update().version))
      assertRichAdds(assertDriverMatchesJob(log, cp, Encs.singleAction))
      assertDriverMatchesJob(log, cp, Encs.stateAction)
      assertDriverMatchesJob(log, cp, Encs.lightAction)
    }
  }

  test("driver read matches the job path on a V2 checkpoint's main file and sidecars") {
    withTempDir { dir =>
      val log = richCheckpoint(dir, Map("delta.checkpointPolicy" -> "v2"))
      val fs = log.logPath.getFileSystem(log.hadoopConf)
      val main = fs.listStatus(log.logPath).map(_.getPath)
        .filter(FileNames.isV2CheckpointFile).filter(_.getName.endsWith(".parquet"))
      assert(main.length == 1)
      val mainRows = assertDriverMatchesJob(log, main.toSeq, Encs.v2StateAction)
      val sidecars = mainRows.flatMap(_.sidecar)
        .map(V2Checkpoints.sidecarPath(log.logPath, _))
      assert(sidecars.nonEmpty)
      assertRichAdds(assertDriverMatchesJob(log, sidecars, Encs.singleAction))
      assertDriverMatchesJob(log, sidecars, Encs.stateAction)
    }
  }

  test("a row failing to serialize mid-file surfaces its own error and leaves no file") {
    withTempDir { dir =>
      val path = new File(dir, "part-00000.parquet")
      val good = (0 until 50).map(i => AddFile(s"f$i", Map("p" -> "x")).wrap)
      val bad = AddFile("bad", Map((null: String) -> "x")).wrap
      val e = intercept[Throwable](LocalParquet.write(spark, path.toString,
        good ++ Seq(bad) ++ good, Encs.singleAction))
      val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(c => String.valueOf(c.getMessage).contains("NULL_MAP_KEY")),
        chain.map(_.toString).mkString("\n"))
      assert(!path.exists(), "a failed write must not leave a partial file")
      // the same thread's binding still serializes well-formed rows
      assert(LocalParquet.write(spark, path.toString, good, Encs.singleAction) == 50)
      assert(path.exists())
    }
  }

  /** What one checkpoint of a table's head wrote, read back after the
    * write and the fresh load through it. */
  private case class Written(artifacts: Seq[String], hint: String,
                             hintParts: Int, partFiles: Int,
                             state: Seq[String], jobs: Int)

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Checkpoints the head of `dir` (through the job when `viaJob`: a
    * 1-byte driver-state bound puts the file list in a Dataset), then
    * removes everything it wrote and restores the previous hint, so the
    * next call sees the same table. */
  private def checkpointHead(dir: String, parts: Int, viaJob: Boolean): Written = {
    if (viaJob) spark.conf.set(Snapshot.DriverStateMaxBytesKey, "1")
    DeltaLog.clearCache()
    val log = DeltaLog.forTable(spark, dir)
    val fs = log.logPath.getFileSystem(log.hadoopConf)
    def files(): Set[Path] = Seq(log.logPath, FileNames.sidecarDir(log.logPath))
      .filter(fs.exists).flatMap(d => fs.listStatus(d).filter(_.isFile).map(_.getPath)).toSet
    val hintPath = FileNames.lastCheckpointFile(log.logPath)
    def hint() = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(hintPath.toUri)), "UTF-8")
    val before = files()
    val hintBefore = if (fs.exists(hintPath)) Some(hint()) else None
    val jobs = try {
      val head = log.update()
      assert(head.distributedState == viaJob)
      head.tombstones
      jobsLaunchedBy(Checkpoints.writeCheckpoint(head, parts))._2
    } finally spark.conf.unset(Snapshot.DriverStateMaxBytesKey)
    val added = (files() -- before).toSeq.filterNot(_.getName.startsWith("."))
    val written = hint()
    DeltaLog.clearCache()
    val reloaded = DeltaLog.forTable(spark, dir).update()
    assert(reloaded.logSegment.checkpointVersion.contains(reloaded.version))
    val state = (reloaded.allFiles ++ reloaded.tombstones ++
      reloaded.setTransactions :+ reloaded.metadata :+ reloaded.protocol)
      .map(_.toString).sorted
    (files() -- before).foreach(fs.delete(_, false))
    hintBefore match {
      case Some(h) => log.store.write(hintPath, Iterator(h), overwrite = true, log.hadoopConf)
      case None => fs.delete(hintPath, false)
    }
    DeltaLog.clearCache()
    val lc = JsonCodec.mapper.readValue(written, classOf[LastCheckpoint])
    Written(added.map(p => Uuid.replaceAllIn(p.getName, "<uuid>")).sorted, written,
      lc.parts.getOrElse(1), added.count(FileNames.isCheckpointFile), state, jobs)
  }

  /** The same checkpoint written on the driver and through the job:
    * same state, same artifact names and hint; only the driver side runs
    * no job. */
  private def assertSameOnBothSides(dir: String, parts: Int): Written = {
    val driver = checkpointHead(dir, parts, viaJob = false)
    val job = checkpointHead(dir, parts, viaJob = true)
    assert(driver.jobs == 0, "the driver-side checkpoint launched a Spark job")
    assert(job.jobs > 0, "the job-side checkpoint ran on the driver")
    assert(driver.state == job.state)
    assert(driver.artifacts == job.artifacts)
    assert(driver.hint == job.hint)
    Seq(driver, job).foreach(w => assert(w.hintParts == w.partFiles, w))
    driver
  }

  /** 24 files over four commits, two of them removed (tombstones), and
    * one streaming txn. */
  private def churnedTable(dir: String, conf: Map[String, String]): Unit = {
    DeltaTable.write((0 until 40).toDF("v").repartition(8), dir, configuration = conf)
    DeltaTable.write((40 until 80).toDF("v").repartition(8), dir)
    DeltaTable.write((80 until 120).toDF("v").repartition(8), dir)
    val log = DeltaLog.forTable(spark, dir)
    val gone = log.update().allFiles.sortBy(_.path).take(2).map(_.remove())
    log.startTransaction().commit(gone :+ SetTransaction("stream-a", 3L),
      DeltaOperations.ManualUpdate)
  }

  test("a classic single-part checkpoint is the same on the driver and through the job") {
    withTempDir { dir =>
      churnedTable(dir, Map.empty)
      val w = assertSameOnBothSides(dir, parts = 1)
      assert(w.artifacts == Seq("00000000000000000003.checkpoint.parquet",
        "_last_checkpoint"))
    }
  }

  test("a classic 3-part checkpoint is the same on the driver and through the job") {
    withTempDir { dir =>
      churnedTable(dir, Map.empty)
      val w = assertSameOnBothSides(dir, parts = 3)
      assert(w.partFiles == 3, w.artifacts)
    }
  }

  test("a V2 checkpoint with tombstones and a carry-over is the same on the driver and through the job") {
    withTempDir { dir =>
      churnedTable(dir, Map("delta.checkpointPolicy" -> "v2",
        "delta.checkpoint.sidecarSize" -> "4"))
      val log = DeltaLog.forTable(spark, dir)
      Checkpoints.writeCheckpoint(log.update())
      DeltaTable.write(Seq(1000).toDF("v"), dir)
      val head = log.update()
      assert(head.tombstones.nonEmpty)
      val plan = Checkpoints.planV2CarryOver(head, 1)
      assert(plan.exists(p => p.carried.nonEmpty && p.changed.nonEmpty), plan)
      val w = assertSameOnBothSides(dir, parts = 1)
      assert(w.artifacts.exists(_.matches("""<uuid>\.b\d+of\d+\.0\.parquet""")), w.artifacts)
      assert(w.artifacts.contains("<uuid>.tombstones.0.parquet"), w.artifacts)
    }
  }
}
