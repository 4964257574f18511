package graft.delta

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkSpec

class DeltaTableSpec extends SparkSpec {
  import spark.implicits._

  private def sampleDF(n: Int, offset: Int = 0) =
    (offset until offset + n).map(i => (i.toLong, s"name_$i", s"g${i % 3}"))
      .toDF("id", "name", "grp")

  test("create, append, read back") {
    withTempDir { dir =>
      DeltaTable.write(sampleDF(10), dir)
      DeltaTable.write(sampleDF(5, 10), dir)
      val t = DeltaTable.forPath(spark, dir)
      assert(t.version == 1)
      assert(t.toDF.count() == 15)
      assert(t.toDF.agg(sum($"id")).as[Long].head() == (0 until 15).sum)
    }
  }

  test("overwrite replaces table contents") {
    withTempDir { dir =>
      DeltaTable.write(sampleDF(10), dir)
      DeltaTable.write(sampleDF(3, 100), dir, SaveMode.Overwrite)
      val t = DeltaTable.forPath(spark, dir)
      assert(t.toDF.count() == 3)
      assert(t.toDF.select(min($"id")).as[Long].head() == 100L)
    }
  }

  test("partitioned writes succeed under dynamic partitionOverwriteMode") {
    withTempDir { dir =>
      val key = "spark.sql.sources.partitionOverwriteMode"
      spark.conf.set(key, "dynamic")
      try {
        DeltaTable.write(sampleDF(30), dir, partitionBy = Seq("grp"))
        DeltaTable.write(sampleDF(6, 30), dir, partitionBy = Seq("grp"))
        DeltaTable.write(sampleDF(3, 100), dir, SaveMode.Overwrite,
          partitionBy = Seq("grp"))
      } finally spark.conf.unset(key)
      val t = DeltaTable.forPath(spark, dir)
      // overwrite stays a whole-table replace; the log names exactly the
      // files the committed tasks wrote
      assert(t.toDF.select("id").as[Long].collect().sorted.toSeq ==
        Seq(100L, 101L, 102L))
      val logged = t.deltaLog.update().allFiles.map(_.path)
      assert(logged.forall(p => new java.io.File(s"$dir/$p").isFile), logged)
      assert(logged.map(_.split("/").dropRight(1).last).toSet ==
        Set("grp=g0", "grp=g1", "grp=g2"))
    }
  }

  test("the direct-write result list is dropped when the write fails") {
    withTempDir { dir =>
      val batch = s"$dir/batch-failing"
      val e = intercept[IllegalStateException] {
        graft.delta.write.DirectWriteCommitProtocol.write(spark, batch) {
          spark.range(3).write.parquet(batch) // commits and publishes
          throw new IllegalStateException("fails after the job committed")
        }
      }
      assert(e.getMessage.contains("after the job committed"))
      // nothing stale is left for a later claim of the same batch
      assert(graft.delta.write.DirectWriteCommitProtocol
        .write(spark, batch)(()).isEmpty)
    }
  }

  test("partitioned write records partition values from the log") {
    withTempDir { dir =>
      DeltaTable.write(sampleDF(30), dir, partitionBy = Seq("grp"))
      val log = DeltaLog.forTable(spark, dir)
      val files = log.snapshot.allFiles
      assert(files.forall(_.partitionValues.keySet == Set("grp")))
      assert(files.map(_.partitionValues("grp")).toSet == Set("g0", "g1", "g2"))
      val t = DeltaTable.forPath(spark, dir)
      // schema order preserved: partition col stays in declared position
      assert(t.toDF.columns.toSeq == Seq("id", "name", "grp"))
      assert(t.toDF.filter($"grp" === "g1").count() == 10)
    }
  }

  test("partition pruning reaches the file scan") {
    withTempDir { dir =>
      DeltaTable.write(sampleDF(30), dir, partitionBy = Seq("grp"))
      val t = DeltaTable.forPath(spark, dir)
      val scan = t.scan($"grp" === "g1" && $"id" > 3)
      assert(scan.pushedPredicate.isDefined)
      assert(scan.residualPredicate.isDefined)
      val pruned = scan.getFiles
      assert(pruned.nonEmpty)
      assert(pruned.forall(_.partitionValues("grp") == "g1"))
      // physical plan only lists g1 files
      val df = t.toDF.filter($"grp" === "g1")
      df.collect() // force execution so the scan's metrics are final
      val scanned: Long = df.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }).sum
      val all = DeltaLog.forTable(spark, dir).snapshot.numOfFiles
      assert(scanned > 0 && scanned < all,
        s"expected pruning: scanned=$scanned of $all")
    }
  }

  test("metadata-only delete on partition predicate") {
    withTempDir { dir =>
      DeltaTable.write(sampleDF(30), dir, partitionBy = Seq("grp"))
      val t = DeltaTable.forPath(spark, dir)
      t.deleteWhere($"grp" === "g0")
      assert(t.toDF.count() == 20)
      intercept[IllegalArgumentException] {
        t.deleteWhere($"id" > 5) // residual predicate → rejected
      }
    }
  }

  test("time travel by version and getChanges") {
    withTempDir { dir =>
      DeltaTable.write(sampleDF(10), dir)
      DeltaTable.write(sampleDF(5, 10), dir)
      DeltaTable.write(sampleDF(2, 100), dir, SaveMode.Overwrite)
      val t = DeltaTable.forPath(spark, dir)
      assert(t.asOfVersion(0).count() == 10)
      assert(t.asOfVersion(1).count() == 15)
      assert(t.toDF.count() == 2)

      val log = DeltaLog.forTable(spark, dir)
      val changes = log.getChanges(0).toVector
      assert(changes.map(_._1) == Vector(0L, 1L, 2L))
      val v2Adds = changes(2)._2.collect { case a: AddFile => a }
      val v2Removes = changes(2)._2.collect { case r: RemoveFile => r }
      assert(v2Adds.nonEmpty && v2Removes.nonEmpty)
    }
  }

  test("history records operations newest-first") {
    withTempDir { dir =>
      DeltaTable.write(sampleDF(10), dir)
      DeltaTable.write(sampleDF(5, 10), dir)
      val ops = DeltaTable.forPath(spark, dir).history()
        .select("operation").as[String].collect().toSeq
      assert(ops == Seq("WRITE", "CREATE TABLE"))
    }
  }

  test("checkpoint written at interval and snapshot loads from it") {
    withTempDir { dir =>
      // checkpointInterval=4 to keep the test fast
      DeltaTable.write(sampleDF(2), dir,
        configuration = Map("delta.checkpointInterval" -> "4"))
      (1 to 4).foreach(i => DeltaTable.write(sampleDF(2, i * 10), dir))
      val log = DeltaLog.forTable(spark, dir)
      val lc = Checkpoints.lastCheckpoint(log)
      assert(lc.exists(_.version == 4))
      val fs = log.logPath.getFileSystem(log.hadoopConf)
      assert(fs.exists(FileNames.checkpointFileSingular(log.logPath, 4)))
      // fresh log (bypassing the cache) must reconstruct from checkpoint
      DeltaLog.clearCache()
      val t2 = DeltaTable.forPath(spark, dir)
      assert(t2.version == 4)
      assert(t2.toDF.count() == 10)
      // and time travel to a pre-checkpoint version still works
      assert(t2.asOfVersion(1).count() == 4)
    }
  }

  test("schema evolution: append with added nullable column") {
    withTempDir { dir =>
      DeltaTable.write(sampleDF(5), dir)
      val widened = sampleDF(3, 50).withColumn("extra", lit(1.5))
      DeltaTable.write(widened, dir)
      val t = DeltaTable.forPath(spark, dir)
      assert(t.toDF.columns.toSeq == Seq("id", "name", "grp", "extra"))
      assert(t.toDF.filter($"extra".isNull).count() == 5)
      // incompatible change (dropping a column) is rejected
      intercept[IllegalArgumentException] {
        DeltaTable.write(Seq((1L, "x")).toDF("id", "name"), dir)
      }
    }
  }

  test("Overwrite with a NEW partitionBy (same type shape) repartitions " +
      "the table: metadata updates, pruning follows the new key") {
    withTempDir { dir =>
      val df = (0 until 40).map(i => (i.toLong, s"g${i % 2}", s"h${i % 4}"))
        .toDF("id", "a", "b")
      DeltaTable.write(df, dir, partitionBy = Seq("a"))
      assert(DeltaLog.forTable(spark, dir).update()
        .metadata.partitionColumns == Seq("a"))
      // repartition by 'b' with an IDENTICAL schema: previously no
      // Metadata action was emitted and the commit failed on
      // partition-value mismatch after the data was already written
      DeltaTable.write(df, dir, SaveMode.Overwrite, partitionBy = Seq("b"))
      val snap = DeltaLog.forTable(spark, dir).update()
      assert(snap.metadata.partitionColumns == Seq("b"))
      assert(snap.allFiles.forall(_.partitionValues.keySet == Set("b")))
      assert(DeltaTable.forPath(spark, dir).toDF
        .filter($"b" === "h1").count() == 10)
    }
  }

  test("append-time schema evolution resolves columns case-insensitively") {
    withTempDir { dir =>
      DeltaTable.write(Seq((1L, "x")).toDF("userId", "name"), dir)
      // same columns, different spelling + one genuinely new column
      DeltaTable.write(Seq((2L, "y", 3.0)).toDF("userid", "NAME", "score"),
        dir)
      val snap = DeltaLog.forTable(spark, dir).update()
      // table spelling wins; 'score' appended nullable
      assert(snap.metadata.schema.fieldNames.toSeq ==
        Seq("userId", "name", "score"))
      assert(DeltaTable.forPath(spark, dir).toDF.count() == 2)
    }
  }

  test("FSCK REPAIR drops entries for vanished files; DRY RUN only reports") {
    withTempDir { dir =>
      DeltaTable.write(
        spark.range(0, 30).toDF("id").repartitionByRange(3, col("id")), dir)
      val log = DeltaLog.forTable(spark, dir)
      val files = log.update().allFiles
      assert(files.size == 3)
      // vanish one data file OUT-OF-BAND (no log entry)
      val victimRel = files.map(_.path).sorted.head
      val victim = new java.io.File(read.PartitionUtils
        .absolutePath(log.dataPath, victimRel).toUri.getPath)
      assert(victim.delete(), s"victim must exist: $victim")
      // value reads crash on the missing file (COUNT alone would answer
      // from metadata and mask it)
      intercept[Exception](
        DeltaTable.forPath(spark, dir).toDF.agg(sum($"id")).collect())
      // DRY RUN reports the missing entry and commits nothing
      val v0 = log.update().version
      assert(DeltaTable.forPath(spark, dir).fsckRepair(dryRun = true) == 1L)
      assert(spark.sql(s"FSCK REPAIR TABLE '$dir' DRY RUN")
        .collect().head.getLong(1) == 1L)
      assert(log.update().version == v0, "dry run must not commit")
      // the repair removes exactly the vanished entry; reads recover
      assert(spark.sql(s"FSCK REPAIR TABLE '$dir'")
        .collect().head.getLong(1) == 1L)
      assert(log.update().version == v0 + 1)
      assert(log.update().allFiles.size == 2)
      val survivors = DeltaTable.forPath(spark, dir).toDF
        .select($"id").as[Long].collect()
      assert(survivors.length > 0 && survivors.length < 30)
      assert(log.history().head.operation.contains("FSCK"))
      // idempotent: a healthy table repairs nothing
      assert(DeltaTable.forPath(spark, dir).fsckRepair() == 0L)
      assert(log.update().version == v0 + 1)
      // the repair's readVersion is the version its existence scan saw —
      // scan and conflict-check interval share one read version, so a
      // commit landing in between is covered by conflict detection
      assert(log.history().head.readVersion.contains(v0))
    }
  }
}
