package graft.delta

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The scale contract for snapshot state (VERDICT round 1 #1 / M5):
  *
  *  - metadata-only access must never fold the checkpoint's AddFiles
  *    (P&M short-circuit, ref SnapshotImpl.scala:161-246);
  *  - above the driver-state byte bound, scans prune DISTRIBUTIVELY and
  *    only surviving files reach the driver — a many-thousand-file table
  *    with a selective filter never materializes its file list.
  */
class DistributedStateSpec extends SparkSpec {
  import spark.implicits._

  /** Commit `n` synthetic AddFiles (log-only; no parquet behind them) in
    * partitions other than the real one — if a scan ever touches them,
    * the read fails loudly on the missing files. */
  private def commitSyntheticFiles(dir: String, n: Int, salt: String = "",
                                   size: Long = 1024L): Unit = {
    val log = DeltaLog.forTable(spark, dir)
    val adds = (1 to n).map { i =>
      AddFile(
        path = s"p=ghost${i % 50}/part-$salt$i.parquet",
        partitionValues = Map("p" -> s"ghost${i % 50}"),
        size = size, modificationTime = 1L, dataChange = true,
        stats = Some(s"""{"numRecords":10,"minValues":{"v":$i},"maxValues":{"v":$i},"nullCount":{"v":0}}"""))
    }
    log.startTransaction().commit(adds, DeltaOperations.ManualUpdate)
  }

  test("metadata access on a checkpointed table never folds the file state") {
    withTempDir { dir =>
      DeltaTable.write((1 to 10).map(i => (i, s"real")).toDF("v", "p"),
        dir, partitionBy = Seq("p"),
        configuration = Map("delta.checkpointInterval" -> "2"))
      commitSyntheticFiles(dir, 500, "a")
      Seq("b", "c").foreach(s => commitSyntheticFiles(dir, 10, s)) // past a checkpoint
      DeltaLog.clearCache()
      val snap = DeltaLog.forTable(spark, dir).update()
      assert(snap.logSegment.checkpointVersion.nonEmpty, "test needs a checkpoint")

      val m = snap.metadata
      val p = snap.protocol
      val hist = DeltaLog.forTable(spark, dir).history()
      assert(m.partitionColumns == Seq("p"))
      assert(p.minReaderVersion == 1)
      assert(hist.nonEmpty)
      assert(!snap.fullStateComputed,
        "metadata/protocol/history access folded the checkpoint's AddFiles")
      assert(!snap.filesMaterialized,
        "metadata-only callers materialized the file list on the driver")
    }
  }

  test("distributed mode: selective scan collects only pruned survivors") {
    withTempDir { dir =>
      spark.conf.set(Snapshot.DriverStateMaxBytesKey, "1") // force distributed
      try {
        DeltaTable.write((1 to 20).map(i => (i, "real")).toDF("v", "p"),
          dir, partitionBy = Seq("p"),
          configuration = Map("delta.checkpointInterval" -> "2"))
        commitSyntheticFiles(dir, 3000, "a")
        commitSyntheticFiles(dir, 1000, "b") // triggers checkpoint at interval
        DeltaLog.clearCache()
        val log = DeltaLog.forTable(spark, dir)
        val snap = log.update()
        assert(snap.distributedState, "byte bound should force distributed state")

        // the scan prunes p='real' as a Spark job; the 4000 ghost files are
        // never driver-materialized AND never read (they don't exist on disk)
        val rows = snap.toDF.filter($"p" === "real")
          .agg(sum($"v")).as[Long].head()
        assert(rows == (1 to 20).sum)
        assert(!snap.fullStateComputed)
        assert(!snap.filesMaterialized,
          "scan in distributed mode collected the full file list")

        // scan-API pruning stays distributed too
        val scanned = DeltaTable.forPath(spark, dir).scan($"p" === "real").getFiles
        assert(scanned.nonEmpty && scanned.forall(_.partitionValues("p") == "real"))
        assert(!snap.filesMaterialized)

        // file-count metadata comes from an aggregation, not a collect
        assert(snap.numOfFiles == scanned.size + 4000)
        assert(!snap.filesMaterialized)
      } finally {
        spark.conf.unset(Snapshot.DriverStateMaxBytesKey)
      }
    }
  }

  test("distributed mode: compact selects candidates without materializing " +
      "the file list") {
    withTempDir { dir =>
      spark.conf.set(Snapshot.DriverStateMaxBytesKey, "1") // force distributed
      try {
        // several small REAL files in p=real...
        (1 to 6).foreach(i =>
          DeltaTable.write(Seq((i, "real")).toDF("v", "p"), dir,
            partitionBy = if (i == 1) Seq("p") else Nil,
            configuration =
              if (i == 1) Map("delta.checkpointInterval" -> "2") else Map.empty))
        // ...plus 3000 ghost files ABOVE the size target: candidate
        // selection must exclude them in the Spark job, never reading or
        // driver-materializing them (they don't exist on disk)
        commitSyntheticFiles(dir, 3000, "big", size = 10L * 1024 * 1024 * 1024)
        DeltaLog.clearCache()
        val log = DeltaLog.forTable(spark, dir)
        val snap = log.update()
        assert(snap.distributedState, "byte bound should force distributed state")

        val v = DeltaTable.forPath(spark, dir).compact()
        assert(v == snap.version + 1)
        assert(!snap.fullStateComputed)
        assert(!snap.filesMaterialized,
          "compact candidate selection collected the full file list")

        // the real partition compacted to one file; data intact
        val after = log.update()
        val scanned = DeltaTable.forPath(spark, dir).scan($"p" === "real").getFiles
        assert(scanned.size == 1, s"expected 1 compacted file, got ${scanned.size}")
        assert(after.toDF.filter($"p" === "real")
          .agg(sum($"v")).as[Long].head() == (1 to 6).sum)
      } finally {
        spark.conf.unset(Snapshot.DriverStateMaxBytesKey)
      }
    }
  }

  test("distributed mode: replaceWhere prunes candidates without " +
      "materializing the file list") {
    withTempDir { dir =>
      spark.conf.set(Snapshot.DriverStateMaxBytesKey, "1")
      try {
        DeltaTable.write(Seq((1, "real"), (2, "real")).toDF("v", "p"), dir,
          partitionBy = Seq("p"),
          configuration = Map("delta.checkpointInterval" -> "2"))
        commitSyntheticFiles(dir, 2000, "rw")
        commitSyntheticFiles(dir, 10, "rw2") // cross the checkpoint boundary
        DeltaLog.clearCache()
        val log = DeltaLog.forTable(spark, dir)
        val snap = log.update()
        assert(snap.distributedState)

        DeltaTable.forPath(spark, dir).replaceWhere(
          Seq((9, "real")).toDF("v", "p"), $"p" === "real")
        assert(!snap.fullStateComputed)
        assert(!snap.filesMaterialized,
          "replaceWhere collected the full file list")
        assert(log.update().toDF.filter($"p" === "real")
          .select($"v").as[Int].collect().toSeq == Seq(9))
      } finally spark.conf.unset(Snapshot.DriverStateMaxBytesKey)
    }
  }

  test("distributed mode: compact caps files per commit") {
    withTempDir { dir =>
      spark.conf.set(Snapshot.DriverStateMaxBytesKey, "1")
      try {
        (1 to 6).foreach(i =>
          DeltaTable.write(Seq(i).toDF("v"), dir,
            configuration =
              if (i == 1) Map("delta.checkpointInterval" -> "2") else Map.empty))
        DeltaLog.clearCache()
        val log = DeltaLog.forTable(spark, dir)
        assert(log.update().distributedState)
        // an incremental pass rewrites at most maxFilesPerCommit files
        DeltaTable.forPath(spark, dir).compact(maxFilesPerCommit = 3)
        val hist = DeltaTable.forPath(spark, dir).history()
          .filter($"operation" === "OPTIMIZE").collect()
        assert(hist.length == 1)
        val removed = hist.head.getAs[Map[String, String]]("operationMetrics")(
          "numRemovedFiles").toInt
        assert(removed == 3, s"cap not applied: removed $removed files")
        assert(log.update().toDF.as[Int].collect().sorted.toSeq == (1 to 6))
      } finally {
        spark.conf.unset(Snapshot.DriverStateMaxBytesKey)
      }
    }
  }

  test("distributed mode: merge resolves matched files without " +
      "materializing the file list") {
    withTempDir { dir =>
      spark.conf.set(Snapshot.DriverStateMaxBytesKey, "1")
      try {
        (1 to 8).foreach(i =>
          DeltaTable.write(Seq((i, i * 10)).toDF("id", "price"), dir,
            configuration =
              if (i == 1) Map("delta.checkpointInterval" -> "2") else Map.empty))
        DeltaLog.clearCache()
        val log = DeltaLog.forTable(spark, dir)
        val snap = log.update()
        assert(snap.distributedState)

        val source = Seq((3, 999), (100, 555)).toDF("id", "price")
        DeltaTable.forPath(spark, dir)
          .merge(source.alias("s"), $"t.id" === $"s.id")
          .whenMatchedUpdate(Map("price" -> $"s.price"))
          .whenNotMatchedInsertAll()
          .execute()
        assert(!snap.filesMaterialized,
          "merge matched-file resolution collected the full file list")
        val rows = log.update().toDF.as[(Int, Int)].collect().toMap
        assert(rows(3) == 999 && rows(100) == 555 && rows(5) == 50)
        assert(rows.size == 9)
      } finally {
        spark.conf.unset(Snapshot.DriverStateMaxBytesKey)
      }
    }
  }

  test("distributed mode: partition-bounded merge collects only the " +
      "candidate partition's files") {
    withTempDir { dir =>
      spark.conf.set(Snapshot.DriverStateMaxBytesKey, "1")
      try {
        (1 to 8).foreach(i =>
          DeltaTable.write(
            Seq((i, s"p${i % 4}", i * 10.0)).toDF("id", "part", "price"),
            dir,
            partitionBy = if (i == 1) Seq("part") else Nil,
            configuration =
              if (i == 1) Map("delta.checkpointInterval" -> "2") else Map.empty))
        DeltaLog.clearCache()
        val log = DeltaLog.forTable(spark, dir)
        val snap = log.update()
        assert(snap.distributedState)

        DeltaTable.forPath(spark, dir)
          .merge(Seq((1, "p1", 999.0)).toDF("id", "part", "price"),
            $"t.part" === lit("p1") && $"t.id" === $"s.id")
          .whenMatchedUpdate(Map("price" -> $"s.price"))
          .whenNotMatchedInsertAll()
          .execute()
        // candidate selection ran as a pruning job over the distributed
        // state — the full file list never reached the driver
        assert(!snap.filesMaterialized,
          "partition-bounded merge materialized the full file list")
        val rows = log.update().toDF
          .select($"id", $"price").as[(Int, Double)].collect().toMap
        assert(rows(1) == 999.0 && rows(2) == 20.0 && rows.size == 8)
      } finally {
        spark.conf.unset(Snapshot.DriverStateMaxBytesKey)
      }
    }
  }

  test("distributed mode: persisted state carries parsed stats even for " +
      "post-checkpoint commits") {
    withTempDir { dir =>
      spark.conf.set(Snapshot.DriverStateMaxBytesKey, "1")
      try {
        // checkpoint lands at version 3 (interval 2); versions 4-5 are
        // JSON-only commits whose stats would otherwise re-parse per query
        (1 to 6).foreach(i =>
          DeltaTable.write(spark.range(i * 100, i * 100 + 10).toDF("id"), dir,
            configuration =
              if (i == 1) Map("delta.checkpointInterval" -> "2") else Map.empty))
        DeltaLog.clearCache()
        val snap = DeltaLog.forTable(spark, dir).update()
        assert(snap.distributedState)
        val files = snap.allFilesDistributed.collect()
        assert(files.forall(_.stats_parsed.isDefined),
          "persisted state must carry stats_parsed for ALL files")
        // pruning against the persisted state walks no JSON
        val before = read.DataSkipping.statsJsonParses.get()
        assert(snap.toDF.filter($"id" >= 600).count() == 10)
        assert(read.DataSkipping.statsJsonParses.get() == before,
          "pruning the persisted state must not re-parse stats JSON")
      } finally {
        spark.conf.unset(Snapshot.DriverStateMaxBytesKey)
      }
    }
  }

  test("distributed mode: vacuum never materializes the file list") {
    withTempDir { dir =>
      spark.conf.set(Snapshot.DriverStateMaxBytesKey, "1")
      try {
        // FLAT table: root-level files exercise the in-task root listing
        (1 to 6).foreach(i =>
          DeltaTable.write(Seq(i).toDF("v"), dir,
            configuration =
              if (i == 1) Map("delta.checkpointInterval" -> "2") else Map.empty))
        val log = DeltaLog.forTable(spark, dir)
        val start = 3000000000000L
        log.clock = () => start
        DeltaTable.forPath(spark, dir).compact()
        DeltaLog.clearCache()
        val log2 = DeltaLog.forTable(spark, dir)
        log2.clock = () => start + 8L * 24 * 3600 * 1000
        val snap = log2.update()
        assert(snap.distributedState)
        val deleted = DeltaTable.forPath(spark, dir).vacuum()
        assert(deleted >= 6, s"deleted only $deleted")
        assert(!snap.filesMaterialized,
          "vacuum collected the full file list on the driver")
        assert(log2.update().toDF.as[Int].collect().sorted.toSeq == (1 to 6))
      } finally {
        spark.conf.unset(Snapshot.DriverStateMaxBytesKey)
      }
    }
  }

  test("distributed file state caches per main snapshot, released on update") {
    withTempDir { dir =>
      spark.conf.set(Snapshot.DriverStateMaxBytesKey, "1")
      try {
        DeltaTable.write((1 to 10).toDF("v"), dir,
          configuration = Map("delta.checkpointInterval" -> "1"))
        DeltaTable.write(Seq(11).toDF("v"), dir)
        DeltaLog.clearCache()
        val log = DeltaLog.forTable(spark, dir)
        val snap = log.update()
        assert(snap.distributedState)
        // the main snapshot hands out ONE persisted dataset
        val ds1 = snap.allFilesDistributed
        assert(ds1 eq snap.allFilesDistributed)
        assert(ds1.storageLevel.useMemory || ds1.storageLevel.useDisk)
        // a time-travel snapshot never caches (nobody manages its lifetime)
        val tt = log.getSnapshotForVersionAsOf(1)
        assert(!(tt.allFilesDistributed eq tt.allFilesDistributed))
        // superseding the snapshot releases the persisted state
        DeltaTable.write(Seq(12).toDF("v"), dir)
        log.update()
        assert(ds1.storageLevel ==
          org.apache.spark.storage.StorageLevel.NONE)
      } finally {
        spark.conf.unset(Snapshot.DriverStateMaxBytesKey)
      }
    }
  }

  test("driver and distributed modes produce identical scans and checkpoints") {
    withTempDir { dir =>
      DeltaTable.write((1 to 40).map(i => (i, s"g${i % 4}")).toDF("v", "g"),
        dir, partitionBy = Seq("g"),
        configuration = Map("delta.checkpointInterval" -> "3"))
      DeltaTable.forPath(spark, dir).deleteWhere($"g" === "g1")
      (1 to 3).foreach(i =>
        DeltaTable.write(Seq((100 + i, s"g${i % 4}")).toDF("v", "g"), dir))

      def readAll(): Set[(Int, String)] = {
        DeltaLog.clearCache()
        DeltaTable.forPath(spark, dir).toDF
          .select($"v", $"g").as[(Int, String)].collect().toSet
      }
      // a partition filter (drops g3) plus a stats filter (drops the
      // single-row v > 100 appends): the same answers in both modes, and
      // a cold driver-mode listing launches no Spark job
      def listings() = {
        DeltaLog.clearCache()
        val snap = DeltaLog.forTable(spark, dir).update()
        val cond = read.PartitionUtils.resolveFilter(spark,
          snap.metadata.schema, $"g" =!= "g3" && $"v" < 50)
        val (part, data) = read.PartitionUtils
          .splitMetadataAndDataPredicates(cond, snap.metadata.partitionColumns)
        val ((matching, scanned), jobs) = jobsLaunchedBy((
          snap.filesMatching(part, data).map(_.path).toSet,
          new read.DeltaScan(snap, Some(cond)).getFiles.map(_.path).toSet))
        val detail = DeltaTable.forPath(spark, dir).detail()
          .select("num_files", "size_in_bytes").as[(Long, Long)].head()
        (matching, scanned, detail, jobs)
      }
      val driverMode = readAll()
      val (dMatching, dScanned, dDetail, dJobs) = listings()
      assert(dJobs == 0, s"driver-mode listing launched $dJobs Spark job(s)")
      assert(dMatching.nonEmpty && dMatching.size < dScanned.size)
      assert(dMatching.subsetOf(dScanned))
      spark.conf.set(Snapshot.DriverStateMaxBytesKey, "1")
      try {
        val distributedMode = readAll()
        assert(DeltaLog.forTable(spark, dir).update().distributedState)
        assert(distributedMode == driverMode)
        val (matching, scanned, detail, _) = listings()
        assert(matching == dMatching)
        assert(scanned == dScanned)
        assert(detail == dDetail)
        // a DML rewrite in distributed mode stays correct
        DeltaTable.forPath(spark, dir).deleteWhere($"g" === "g2")
        val afterDelete = readAll()
        assert(afterDelete == driverMode.filterNot(_._2 == "g2"))
      } finally {
        spark.conf.unset(Snapshot.DriverStateMaxBytesKey)
      }
    }
  }
}
