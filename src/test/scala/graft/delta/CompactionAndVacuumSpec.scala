package graft.delta

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CompactionAndVacuumSpec extends SparkSpec {
  import spark.implicits._

  /** A FULL-vacuum rule case, run on both executors: the driver walk
    * (these tables are small) and the Spark job (distributed state
    * forced). */
  private def vacuumTest(name: String)(body: => Unit): Unit = {
    test(name)(body)
    test(s"$name [Spark job]") {
      spark.conf.set(Snapshot.DriverStateMaxBytesKey, "1")
      try body finally spark.conf.unset(Snapshot.DriverStateMaxBytesKey)
    }
  }

  test("compact bin-packs small files without changing data") {
    withTempDir { dir =>
      (1 to 12).foreach(i =>
        DeltaTable.write(Seq((i, s"g${i % 2}")).toDF("v", "grp"), dir,
          partitionBy = if (i == 1) Seq("grp") else Nil))
      val log = DeltaLog.forTable(spark, dir)
      val before = log.update()
      assert(before.allFiles.size >= 12)
      val expected = before.toDF.as[(Int, String)].collect().toSet

      val table = DeltaTable.forPath(spark, dir)
      val v = table.compact()
      assert(v == before.version + 1)
      val after = log.update()
      // one output per partition (tiny data, 128MB target)
      assert(after.allFiles.size == 2, s"got ${after.allFiles.map(_.path)}")
      assert(after.toDF.as[(Int, String)].collect().toSet == expected)
      assert(after.allFiles.forall(!_.dataChange))
      // recorded as OPTIMIZE with metrics
      val hist = table.history().filter($"operation" === "OPTIMIZE")
      assert(hist.count() == 1)
      // time travel before the compaction still works (files not deleted)
      assert(table.asOfVersion(before.version).count() == 12)
    }
  }

  test("plain OPTIMIZE converges on partitioned tables in one rewrite pass") {
    withTempDir { dir =>
      // 3 partitions × 4 small files each
      (1 to 4).foreach { i =>
        DeltaTable.write(
          (0 until 3).map(p => (i * 10 + p, s"p$p")).toDF("v", "grp"),
          dir, partitionBy = if (i == 1) Seq("grp") else Nil)
      }
      val log = DeltaLog.forTable(spark, dir)
      val before = log.update()
      assert(before.allFiles.size == 12, before.allFiles.map(_.path).toString)
      val expected = before.toDF.as[(Int, String)].collect().toSet
      val v0 = before.version

      spark.sql(s"OPTIMIZE '$dir'")
      val after = log.update()
      // exactly ONE compaction commit; the fixpoint loop detects
      // convergence WITHOUT committing no-op full-table rewrites (the
      // old global bin-packer re-produced one small file per partition
      // every pass and committed until its round cap)
      assert(after.version == v0 + 1,
        s"expected one OPTIMIZE commit, table went $v0 -> ${after.version}")
      assert(after.allFiles.size == 3, after.allFiles.map(_.path).toString)
      assert(after.toDF.as[(Int, String)].collect().toSet == expected)

      // a second OPTIMIZE finds nothing to do and commits nothing
      spark.sql(s"OPTIMIZE '$dir'")
      assert(log.update().version == after.version)
    }
  }

  test("compact rewrites only partitions whose file count shrinks") {
    withTempDir { dir =>
      DeltaTable.write(
        (1 to 3).map(i => (i, "multi")).toDF("v", "grp"), dir,
        partitionBy = Seq("grp"))
      DeltaTable.write((10 to 12).map(i => (i, "multi")).toDF("v", "grp"), dir)
      DeltaTable.write(Seq((99, "single")).toDF("v", "grp"), dir)
      val log = DeltaLog.forTable(spark, dir)
      val before = log.update()
      val singleFile = before.allFiles
        .filter(_.partitionValues.get("grp").contains("single"))
      assert(singleFile.size == 1)

      DeltaTable.forPath(spark, dir).compact()
      val after = log.update()
      // the lone-file partition is untouched: same AddFile survives
      assert(after.allFiles.map(_.path).contains(singleFile.head.path),
        "single-file partition must not be rewritten")
      assert(after.allFiles
        .count(_.partitionValues.get("grp").contains("multi")) == 1)
    }
  }

  test("autoCompact bin-packs after writes without failing them") {
    withTempDir { dir =>
      (1 to 6).foreach { i =>
        DeltaTable.write(Seq((i, "a")).toDF("v", "grp").coalesce(1), dir,
          partitionBy = if (i == 1) Seq("grp") else Nil,
          configuration = if (i == 1)
            Map("delta.autoOptimize.autoCompact" -> "true") else Map.empty)
      }
      val log = DeltaLog.forTable(spark, dir)
      val snap = log.update()
      // every append landed AND the confetti folded as it accumulated
      assert(snap.toDF.as[(Int, String)].collect().map(_._1).sorted.toSeq ==
        (1 to 6).toSeq)
      assert(snap.allFiles.size <= 2,
        s"autoCompact left ${snap.allFiles.size} files")
      val ops = DeltaTable.forPath(spark, dir).history()
        .select($"operation").as[String].collect()
      assert(ops.contains("OPTIMIZE"), ops.mkString(", "))
    }
  }

  test("compact splits an oversized partition toward the target size " +
      "and still converges") {
    withTempDir { dir =>
      (1 to 8).foreach { i =>
        DeltaTable.write(
          (1 to 50).map(j => (i * 1000 + j, "a")).toDF("v", "grp").coalesce(1),
          dir, partitionBy = if (i == 1) Seq("grp") else Nil)
      }
      val log = DeltaLog.forTable(spark, dir)
      val before = log.update()
      assert(before.allFiles.size == 8)
      val total = before.allFiles.map(_.size).sum
      val target = total / 3 // forces >1 bin for the single partition
      val expected = before.toDF.as[(Int, String)].collect().toSet

      val table = DeltaTable.forPath(spark, dir)
      table.compact(targetFileBytes = target)
      val after = log.update()
      // split into ~3 bins (hash imbalance may merge a bucket), never
      // one oversized monolith, never the original confetti
      assert(after.allFiles.size >= 2 && after.allFiles.size < 8,
        s"got ${after.allFiles.size} files")
      assert(after.toDF.as[(Int, String)].collect().toSet == expected)

      // converged: a second pass at the same target commits nothing
      table.compact(targetFileBytes = target)
      assert(log.update().version == after.version)
    }
  }

  test("a stream across a compaction does not re-emit rows") {
    withTempDir { base =>
      val dir = s"$base/table"
      val dst = s"$base/dst"
      def runOnce(): Unit = {
        val q = spark.readStream.format("graft-delta").load(dir)
          .writeStream.format("graft-delta")
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(dst)
        q.awaitTermination(60000)
      }
      DeltaTable.write((1 to 6).toDF("v"), dir)
      runOnce()
      assert(DeltaTable.forPath(spark, dst).toDF.count() == 6)

      DeltaTable.forPath(spark, dir).compact()
      DeltaTable.write(Seq(7).toDF("v"), dir)
      runOnce()
      // only the genuinely new row arrives; the rewrite is invisible
      assert(DeltaTable.forPath(spark, dst).toDF.as[Int].collect().sorted.toSeq ==
        (1 to 7).toSeq)
    }
  }

  vacuumTest("vacuum with a retention longer than the table's window " +
      "re-protects files whose tombstones expired from state") {
    withTempDir { dir =>
      val day = 24L * 3600 * 1000
      val start = 3000000000000L
      DeltaTable.write((1 to 8).map(i => (i, s"g${i % 2}")).toDF("v", "grp"),
        dir, partitionBy = Seq("grp"),
        configuration = Map("delta.deletedFileRetentionDuration" -> "interval 1 days"))
      val log = DeltaLog.forTable(spark, dir)
      val table = DeltaTable.forPath(spark, dir)

      // metadata-only delete at T+30d: files stay on disk, tombstoned
      log.clock = () => start + 30 * day
      table.deleteWhere($"grp" === "g0")

      // at T+32d the tombstones have EXPIRED from state (1-day table
      // window; the append bumps the version so the snapshot refreshes)
      log.clock = () => start + 32 * day
      DeltaTable.write(Seq((99, "g1")).toDF("v", "grp"), dir)
      assert(log.update().tombstones.isEmpty)

      // ...but a vacuum preserving 5 days must still protect them: the
      // files were removed at T+30d, inside the requested window
      val deleted = table.vacuum(Some(5 * day))
      assert(deleted == 0,
        s"vacuum deleted $deleted file(s) inside the requested retention window")
      // time travel to the pre-delete version still reads all 8 rows
      assert(table.asOfVersion(0).count() == 8)

      // a window that ends AFTER the delete may collect them
      val deleted2 = table.vacuum(Some(1 * day))
      assert(deleted2 > 0)
    }
  }

  test("object-store write cache prunes entries past the TTL") {
    val old = System.currentTimeMillis() -
      storage.ObjectStoreLogStore.cacheTtlMillis - 1000
    storage.ObjectStoreLogStore.writtenPaths.put("file:/tmp/ttl-test/0.json",
      java.lang.Long.valueOf(old))
    storage.ObjectStoreLogStore.writtenPaths.put("file:/tmp/ttl-test/1.json",
      java.lang.Long.valueOf(System.currentTimeMillis()))
    storage.ObjectStoreLogStore.pruneExpired()
    assert(!storage.ObjectStoreLogStore.writtenPaths
      .containsKey("file:/tmp/ttl-test/0.json"))
    assert(storage.ObjectStoreLogStore.writtenPaths
      .containsKey("file:/tmp/ttl-test/1.json"))
    storage.ObjectStoreLogStore.writtenPaths.remove("file:/tmp/ttl-test/1.json")
  }

  vacuumTest("vacuum deletes unreferenced files after the retention window") {
    withTempDir { dir =>
      (1 to 6).foreach(i => DeltaTable.write(Seq(i).toDF("v"), dir))
      val log = DeltaLog.forTable(spark, dir)
      val table = DeltaTable.forPath(spark, dir)
      val preCompactVersion = log.update().version
      val start = 3000000000000L
      log.clock = () => start // tombstones from the compaction get ts=start
      table.compact()

      // tombstones are young: their files are protected
      assert(table.vacuum() == 0)

      // jump past the 1-week retention — protection lapses
      log.clock = () => start + 8L * 24 * 3600 * 1000
      val deleted = table.vacuum()
      assert(deleted >= 6, s"deleted only $deleted")

      // current snapshot intact; pre-compaction snapshot is gone
      DeltaLog.clearCache()
      assert(DeltaTable.forPath(spark, dir).toDF.as[Int].collect().sorted.toSeq ==
        (1 to 6).toSeq)
      // a COUNT would now answer from metadata alone (MetadataOnlyCount
      // — same as delta-spark's metadata-only query, which never probes
      // file existence); reading VALUES must hit the vacuumed files
      intercept[Exception] {
        DeltaTable.forPath(spark, dir).asOfVersion(preCompactVersion)
          .as[Int].collect()
      }
    }
  }

  vacuumTest("vacuum never deletes under a hidden path COMPONENT of a shared " +
      "directory (a converted table's p= dirs outlive any one commit)") {
    // this engine's own writes land in write-once batch-<uuid>/ dirs, so
    // hidden crumbs there belong to that dir's own finished job and are
    // swept WITH the dir once its files expire. A CONVERTED table keeps
    // the user's original layout: partition dirs are shared and
    // long-lived, so a foreign job's _temporary staging under them is
    // not vacuum's to collect (delta-spark skips hidden components too)
    withTempDir { dir =>
      import org.apache.hadoop.fs.Path
      (1 to 3).toDF("v").withColumn("p", $"v" % 2)
        .write.mode("overwrite").partitionBy("p").parquet(dir)
      DeltaTable.convertToDelta(spark, dir, Seq("p"))
      val log = DeltaLog.forTable(spark, dir)
      val table = DeltaTable.forPath(spark, dir)
      val start = 3000000000000L
      log.clock = () => start
      // rewrite everything away from the converted layout: the p= dirs'
      // original files become expired tombstones = vacuum candidates
      table.compact(targetFileBytes = 1L)
      spark.sql(s"OPTIMIZE '$dir' ZORDER BY (v)").collect()

      val fs = new Path(dir).getFileSystem(log.hadoopConf)
      val staged = new Path(dir, "p=0/_temporary/0/part-00000.parquet")
      fs.mkdirs(staged.getParent)
      fs.create(staged, true).close()
      fs.setTimes(staged, 1000L, -1) // ancient mtime: past any retention

      log.clock = () => start + 8L * 24 * 3600 * 1000
      val deleted = table.vacuum()
      assert(deleted >= 1, s"the rewritten originals must collect: $deleted")
      assert(fs.exists(staged),
        "vacuum deleted a file under a hidden directory component")
      // correctness unharmed
      assert(table.toDF.select($"v").as[Int].collect().sorted.toSeq ==
        Seq(1, 2, 3))
    }
  }

  test("OPTIMIZE WHERE compacts only the matching partitions") {
    withTempDir { dir =>
      // two partitions, 3 small files each
      (1 to 3).foreach { i =>
        DeltaTable.write(Seq((i, "a"), (i, "b")).toDF("id", "part")
          .repartition(2), dir, partitionBy = Seq("part"))
      }
      val table = DeltaTable.forPath(spark, dir)
      val before = table.deltaLog.update().allFiles
        .groupBy(_.partitionValues("part")).view.mapValues(_.size).toMap
      assert(before("a") == 3 && before("b") == 3)

      spark.sql(s"OPTIMIZE '$dir' WHERE part = 'a'")
      val after = table.deltaLog.update().allFiles
        .groupBy(_.partitionValues("part")).view.mapValues(_.size).toMap
      assert(after("a") == 1, s"partition a not compacted: $after")
      assert(after("b") == 3, s"partition b was touched: $after")
      assert(table.toDF.count() == 6)
    }
  }

  vacuumTest("vacuum DRY RUN counts deletable files without deleting") {
    withTempDir { dir =>
      (1 to 4).foreach(i => DeltaTable.write(Seq(i).toDF("v"), dir))
      val log = DeltaLog.forTable(spark, dir)
      val table = DeltaTable.forPath(spark, dir)
      val start = 3000000000000L
      log.clock = () => start
      table.compact()
      log.clock = () => start + 8L * 24 * 3600 * 1000

      val wouldDelete = table.vacuum(dryRun = true)
      assert(wouldDelete >= 4, s"dry run reported $wouldDelete")
      // nothing was touched: pre-compaction time travel still works
      assert(table.asOfVersion(3).toDF.count() == 4)

      // the SQL face: VACUUM ... DRY RUN returns the same count
      val viaSql = spark.sql(s"VACUUM '$dir' DRY RUN").collect()
        .head.getLong(1)
      assert(viaSql == wouldDelete.toLong)
      // a real vacuum afterwards actually deletes that many
      assert(table.vacuum() == wouldDelete)
    }
  }

  test("sub-retention vacuum is refused unless explicitly overridden") {
    withTempDir { dir =>
      DeltaTable.write(Seq(1).toDF("v"), dir)
      val table = DeltaTable.forPath(spark, dir)
      // a 0-hour vacuum could race an in-flight writer's uncommitted
      // batch files — refused by default
      val e = intercept[IllegalArgumentException] { table.vacuum(Some(0L)) }
      assert(e.getMessage.contains("retentionCheck"), e.getMessage)
      spark.conf.set("spark.graft.vacuum.retentionCheck.enabled", "false")
      try assert(table.vacuum(Some(0L)) == 0) // nothing unreferenced anyway
      finally spark.conf.unset("spark.graft.vacuum.retentionCheck.enabled")
    }
  }

  vacuumTest("vacuum sweeps emptied per-commit batch directories") {
    withTempDir { dir =>
      (1 to 4).foreach(i => DeltaTable.write(Seq(i).toDF("v"), dir))
      val log = DeltaLog.forTable(spark, dir)
      val table = DeltaTable.forPath(spark, dir)
      val start = 3000000000000L
      log.clock = () => start
      table.compact()
      log.clock = () => start + 8L * 24 * 3600 * 1000
      assert(table.vacuum() >= 4)
      // the four original batch dirs are now empty and swept; the
      // compacted file's dir survives
      val batchDirs = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch-"))
      assert(batchDirs.length == 1, batchDirs.map(_.getName).mkString(", "))
    }
  }

  vacuumTest("a crashed writer's orphan batch dir is vacuumed after retention") {
    withTempDir { dir =>
      DeltaTable.write(Seq(1, 2, 3).toDF("v"), dir)
      // simulate a writer that died after its distributed write but before
      // the commit: a batch dir with a parquet file the log never recorded
      val orphanDir = new java.io.File(dir, "batch-orphaned00")
      Seq(9).toDF("v").write.parquet(orphanDir.toString)
      val orphanParquets =
        orphanDir.listFiles().count(_.getName.endsWith(".parquet"))
      assert(orphanParquets >= 1)

      val log = DeltaLog.forTable(spark, dir)
      val table = DeltaTable.forPath(spark, dir)
      // fresh orphans are protected by their mtime (an in-flight writer's
      // files look exactly like this)
      assert(table.vacuum() == 0)

      // after the retention window the orphan is garbage and gets removed
      log.clock = () => System.currentTimeMillis() + 8L * 24 * 3600 * 1000
      val deleted = table.vacuum()
      assert(deleted == orphanParquets, s"deleted $deleted")
      assert(!orphanDir.exists() ||
        orphanDir.listFiles().forall(!_.getName.endsWith(".parquet")))
      // committed data untouched
      DeltaLog.clearCache()
      assert(DeltaTable.forPath(spark, dir).toDF.as[Int].collect().sorted.toSeq ==
        Seq(1, 2, 3))
    }
  }
  test("REORG APPLY (PURGE) rewrites shaded files only; OPTIMIZE would " +
      "also bin-pack") {
    withTempDir { dir =>
      // partition a: one DV-shaded file; partition b: three small
      // unshaded files (bin-packable but NOT purge work)
      DeltaTable.write(
        (1 to 100).map(i => (i, "a")).toDF("v", "part").coalesce(1), dir,
        partitionBy = Seq("part"),
        configuration = Map("delta.enableDeletionVectors" -> "true"))
      (0 until 3).foreach(i => DeltaTable.write(
        Seq((1000 + i, "b")).toDF("v", "part").coalesce(1), dir))
      val table = DeltaTable.forPath(spark, dir)
      table.delete($"v" <= 10 && $"part" === "a") // shades partition a
      val log = DeltaLog.forTable(spark, dir)
      val before = log.update().allFiles
      assert(before.count(_.deletionVector.isDefined) == 1)
      val bFilesBefore = before.filter(_.partitionValues("part") == "b")
        .map(_.path).toSet

      spark.sql(s"REORG TABLE '$dir' APPLY (PURGE)")
      val after = log.update()
      assert(after.allFiles.forall(_.deletionVector.isEmpty),
        "purge must clear every deletion vector")
      assert(after.allFiles.filter(_.partitionValues("part") == "b")
        .map(_.path).toSet == bFilesBefore,
        "REORG must not bin-pack unshaded files")
      assert(table.toDF.count() == 93)
      val op = log.history().flatMap(_.operation).head
      assert(op == "REORG", s"recorded operation: $op")

      // idempotent: nothing left to purge -> no new commit
      val v = after.version
      spark.sql(s"REORG TABLE '$dir' APPLY (PURGE)")
      assert(log.update().version == v, "purge with no shades must no-op")

      // plain OPTIMIZE still bin-packs partition b afterwards
      table.compact()
      assert(log.update().allFiles
        .count(_.partitionValues("part") == "b") == 1)
      assert(table.toDF.count() == 93)
    }
  }

  test("REORG refuses ZORDER/FULL combinations") {
    withTempDir { dir =>
      DeltaTable.write(Seq((1, "a")).toDF("v", "part"), dir)
      val t = DeltaTable.forPath(spark, dir)
      intercept[IllegalArgumentException](
        t.compact(zOrderBy = Seq("v"), purgeOnly = true))
      intercept[IllegalArgumentException](
        t.compact(fullReCluster = true, purgeOnly = true))
    }
  }

  vacuumTest("FULL vacuum reclaims expired change-data files; fresh ones are " +
      "protected by the retention window") {
    withTempDir { dir =>
      import org.apache.hadoop.fs.Path
      DeltaTable.write(Seq((1, "a"), (2, "b")).toDF("id", "v"), dir,
        configuration = Map("delta.enableChangeDataFeed" -> "true"))
      val table = DeltaTable.forPath(spark, dir)
      table.delete($"id" === 1) // writes change files under _change_data/
      val log = DeltaLog.forTable(spark, dir)
      val fs = new Path(dir).getFileSystem(log.hadoopConf)
      val cdcDir = new Path(dir, write.CdcWriter.ChangeDir)
      def cdcFiles: Int =
        if (!fs.exists(cdcDir)) 0
        else {
          val it = fs.listFiles(cdcDir, true)
          var n = 0
          while (it.hasNext) { if (it.next().isFile) n += 1 }
          n
        }
      assert(cdcFiles > 0, "delete on a CDF table must write change files")

      // inside the retention window nothing collects
      assert(table.vacuum() == 0)
      assert(cdcFiles > 0)

      // past retention the change files are vacuum's to reclaim —
      // delta-spark deletes expired _change_data files too; skipping the
      // dir as "hidden" would leak CDF storage forever
      val start = 3000000000000L
      log.clock = () => start + 8L * 24 * 3600 * 1000
      val deleted = table.vacuum()
      assert(deleted >= 1, s"expected expired files to collect: $deleted")
      assert(cdcFiles == 0, "expired change files must be reclaimed")
      // the emptied _change_data batch dirs are swept with them
      assert(!fs.exists(cdcDir) || fs.listStatus(cdcDir).isEmpty)

      // live data unharmed
      DeltaLog.clearCache()
      assert(DeltaTable.forPath(spark, dir).toDF.select($"id").as[Int]
        .collect().toSet == Set(2))
    }
  }

  vacuumTest("FULL vacuum reclaims rewritten files under partition dirs of " +
      "[._]-named columns (component shape `_p=value` is data, not hidden)") {
    withTempDir { dir =>
      import org.apache.hadoop.fs.Path
      DeltaTable.write(Seq((1, 0), (2, 1), (3, 0)).toDF("v", "_p"), dir,
        partitionBy = Seq("_p"))
      val log = DeltaLog.forTable(spark, dir)
      val table = DeltaTable.forPath(spark, dir)
      val start = 3000000000000L
      log.clock = () => start
      // the DML rewrite tombstones the original file under _p=0; once
      // the window lapses that file must collect even though its path
      // component starts with an underscore
      table.delete($"v" === 1)
      log.clock = () => start + 8L * 24 * 3600 * 1000
      val deleted = table.vacuum()
      assert(deleted >= 1,
        s"rewritten files under _p= dirs must collect, got $deleted")
      DeltaLog.clearCache()
      assert(DeltaTable.forPath(spark, dir).toDF.select($"v").as[Int]
        .collect().sorted.toSeq == Seq(2, 3))
    }
  }
}
