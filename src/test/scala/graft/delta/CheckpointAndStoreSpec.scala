package graft.delta

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.SparkSpec
import graft.delta.storage.{HadoopFileSystemLogStore, LogStore, ObjectStoreLogStore}

class CheckpointAndStoreSpec extends SparkSpec {
  import spark.implicits._

  test("multi-part checkpoint round-trips the snapshot state") {
    withTempDir { dir =>
      DeltaTable.write((1 to 40).map(i => (i, s"g${i % 4}")).toDF("v", "grp"),
        dir, partitionBy = Seq("grp"))
      (1 to 3).foreach(i => DeltaTable.write(Seq((100 + i, "g0")).toDF("v", "grp"), dir))
      val log = DeltaLog.forTable(spark, dir)
      val before = log.update()
      Checkpoints.writeCheckpoint(before, parts = 3)

      val lc = Checkpoints.lastCheckpoint(log)
      assert(lc.exists(_.parts.exists(_ > 1)))
      val fs = log.logPath.getFileSystem(log.hadoopConf)
      val cpFiles = fs.listStatus(log.logPath)
        .filter(f => FileNames.isCheckpointFile(f.getPath))
      assert(cpFiles.length == lc.get.parts.get)
      assert(cpFiles.forall(f =>
        FileNames.checkpointParts(f.getPath).isDefined))

      DeltaLog.clearCache()
      val after = DeltaLog.forTable(spark, dir).update()
      assert(after.version == before.version)
      assert(after.allFiles.map(_.path).toSet == before.allFiles.map(_.path).toSet)
      assert(after.metadata.partitionColumns == Seq("grp"))
      assert(after.toDF.count() == 43)
    }
  }

  test("checkpoint auto-sizes parts from state size without explicit parts") {
    withTempDir { dir =>
      // 25 single-row files; partSize=10 actions → the state (protocol +
      // metadata + 25 adds) must split into ceil(27/10) = 3 parts even
      // though the caller never asks for parts
      DeltaTable.write((1 to 25).map(i => (i, i)).toDF("k", "v").repartition(25),
        dir, configuration = Map("delta.checkpoint.partSize" -> "10"))
      val log = DeltaLog.forTable(spark, dir)
      val before = log.update()
      Checkpoints.writeCheckpoint(before)

      val lc = Checkpoints.lastCheckpoint(log)
      assert(lc.exists(_.parts.exists(_ > 1)),
        s"expected auto multi-part, got ${lc.flatMap(_.parts)}")
      DeltaLog.clearCache()
      val after = DeltaLog.forTable(spark, dir).update()
      assert(after.allFiles.map(_.path).toSet == before.allFiles.map(_.path).toSet)
      assert(after.toDF.count() == 25)
      // and the distributed writer derives the same sizing from a count
      // aggregation (never a driver materialization)
      Checkpoints.writeCheckpointDistributed(before)
      assert(Checkpoints.lastCheckpoint(log).exists(_.parts.exists(_ > 1)))
      DeltaLog.clearCache()
      assert(DeltaLog.forTable(spark, dir).update().toDF.count() == 25)
    }
  }

  test("distributed checkpoint write reconstructs the same state") {
    withTempDir { dir =>
      DeltaTable.write((1 to 30).map(i => (i, s"g${i % 3}")).toDF("v", "grp"),
        dir, partitionBy = Seq("grp"))
      DeltaTable.forPath(spark, dir).deleteWhere($"grp" === "g2")
      DeltaTable.write(Seq((99, "g2")).toDF("v", "grp"), dir)
      val log = DeltaLog.forTable(spark, dir)
      val before = log.update()
      Checkpoints.writeCheckpointDistributed(before, parts = 2)

      DeltaLog.clearCache()
      val after = DeltaLog.forTable(spark, dir).update()
      assert(after.version == before.version)
      assert(after.allFiles.map(f => (f.path, f.size)).toSet ==
        before.allFiles.map(f => (f.path, f.size)).toSet)
      assert(after.metadata.id == before.metadata.id)
      assert(after.toDF.count() == before.toDF.count())
    }
  }

  test("a driver-small checkpoint written under codec `none` round-trips") {
    withTempDir { dir =>
      DeltaTable.write((1 to 10).toDF("v"), dir)
      DeltaTable.write((11 to 20).toDF("v"), dir)
      val log = DeltaLog.forTable(spark, dir)
      // `none` is a legal session value but not a CompressionCodecName
      spark.conf.set("spark.sql.parquet.compression.codec", "none")
      try Checkpoints.writeCheckpoint(log.update())
      finally spark.conf.unset("spark.sql.parquet.compression.codec")
      val cp = FileNames.checkpointFileSingular(log.logPath, 1)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(cp, log.hadoopConf))
      try assert(reader.getFooter.getBlocks.get(0).getColumns.get(0)
        .getCodec.name == "UNCOMPRESSED")
      finally reader.close()
      DeltaLog.clearCache()
      val after = DeltaLog.forTable(spark, dir).update()
      assert(after.logSegment.checkpointVersion.contains(1L))
      assert(after.toDF.count() == 20)
    }
  }

  test("an incomplete multi-part checkpoint is ignored") {
    withTempDir { dir =>
      DeltaTable.write((1 to 10).toDF("v"), dir)
      DeltaTable.write((11 to 20).toDF("v"), dir)
      val log = DeltaLog.forTable(spark, dir)
      Checkpoints.writeCheckpoint(log.update(), parts = 3)
      val fs = log.logPath.getFileSystem(log.hadoopConf)
      // delete one part — the group is no longer complete
      val parts = fs.listStatus(log.logPath)
        .filter(f => FileNames.checkpointParts(f.getPath).isDefined)
      fs.delete(parts.head.getPath, false)

      DeltaLog.clearCache()
      // replay must fall back to the JSON commits and still see all rows
      assert(DeltaTable.forPath(spark, dir).toDF.count() == 20)
    }
  }

  test("scheme-based LogStore selection and per-scheme override") {
    assert(LogStore.forPath(new Path("file:///tmp/t/_delta_log"))
      .isInstanceOf[HadoopFileSystemLogStore])
    assert(LogStore.forPath(new Path("s3a://bucket/t/_delta_log"))
      .isInstanceOf[ObjectStoreLogStore])
    assert(LogStore.forPath(new Path("hdfs://nn/t/_delta_log"))
      .isInstanceOf[HadoopFileSystemLogStore])
    val conf = new Configuration()
    conf.set("graft.logStore.file.impl",
      classOf[ObjectStoreLogStore].getName)
    assert(LogStore.forPath(new Path("file:///tmp/t/_delta_log"), conf)
      .isInstanceOf[ObjectStoreLogStore])
  }

  test("object-store LogStore: put-if-absent and listing sees own writes") {
    withTempDir { dir =>
      val store = new ObjectStoreLogStore
      val conf = new Configuration()
      val p = new Path(s"file:$dir/_delta_log/${"0" * 20}.json")
      store.write(p, Iterator("""{"commitInfo":{}}"""), overwrite = false, conf)
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
        store.write(p, Iterator("x"), overwrite = false, conf)
      }
      assert(store.read(p, conf) == Seq("""{"commitInfo":{}}"""))
      val listed = store.listFrom(
        new Path(s"file:$dir/_delta_log/${"0" * 20}."), conf).toSeq
      assert(listed.map(_.getPath.getName).contains("0" * 20 + ".json"))
    }
  }

  test("a full write-checkpoint-read cycle works through the object store") {
    withTempDir { dir =>
      spark.sparkContext.hadoopConfiguration.set(
        "graft.logStore.file.impl", classOf[ObjectStoreLogStore].getName)
      try {
        DeltaLog.clearCache()
        DeltaTable.write((1 to 15).toDF("v"), dir,
          configuration = Map("delta.checkpointInterval" -> "2"))
        (1 to 3).foreach(i => DeltaTable.write(Seq(100 + i).toDF("v"), dir))
        DeltaLog.clearCache()
        assert(DeltaTable.forPath(spark, dir).toDF.count() == 18)
      } finally {
        spark.sparkContext.hadoopConfiguration.unset("graft.logStore.file.impl")
        DeltaLog.clearCache()
      }
    }
  }
}
