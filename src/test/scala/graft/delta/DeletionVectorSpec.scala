package graft.delta

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.delta.dv.{DeletionVectors, RoaringBitmapArray, Z85}

/** Deletion-vector READS (PROTOCOL.md "Deletion Vectors"): descriptors on
  * AddFile locate a serialized roaring bitmap of deleted row positions,
  * applied inside the scan: each file's descriptor rides with its splits
  * and a row whose `_metadata.row_index` is in the bitmap is dropped. The
  * byte-level tests pin our codec to the PUBLISHED formats (Z85 reference
  * vector, hand-built RoaringFormatSpec layouts) rather than to our own
  * writer, and cross-check it against an independent writer, the
  * RoaringBitmap jar's `Roaring64NavigableMap.serializePortable`: a
  * hand-built layout can share the codec's misreading of the format. */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------- Z85
  test("Z85 encodes the published reference vector") {
    val bytes =
      Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b).map(_.toByte)
    assert(Z85.encode(bytes) == "HelloWorld")
    assert(Z85.decode("HelloWorld", 8).toSeq == bytes.toSeq)
  }

  test("Z85 zero-pads the tail and truncates it back") {
    val bytes = Array[Byte](1, 2, 3, 4, 5)
    val enc = Z85.encode(bytes)
    assert(enc.length == 10) // padded to 8 bytes -> 2 groups
    assert(Z85.decode(enc, 5).toSeq == bytes.toSeq)
  }

  test("Z85 uuid round trip is 20 chars") {
    val u = java.util.UUID.fromString("00112233-4455-6677-8899-aabbccddeeff")
    val enc = Z85.encodeUuid(u)
    assert(enc.length == 20)
    assert(Z85.decodeUuid(enc) == u)
  }

  // ----------------------------------------------- roaring, golden bytes
  test("portable serialization matches a hand-built RoaringFormatSpec layout") {
    // values 1, 2 (key 0) and 100000 = 1*2^16 + 34464 (key 1): one 32-bit
    // bitmap, two array containers
    val bm = RoaringBitmapArray(1L, 2L, 100000L)
    val expected = ByteBuffer.allocate(4 + 8 + 4 + (4 + 4 + 8 + 8 + 6))
      .order(ByteOrder.LITTLE_ENDIAN)
    expected.putInt(1681511377) // portable magic
    expected.putLong(1L) // one 32-bit bitmap
    expected.putInt(0) // its bucket key
    expected.putInt(12346) // SERIAL_COOKIE_NO_RUNCONTAINER
    expected.putInt(2) // two containers
    expected.putShort(0); expected.putShort(1) // key 0, cardinality-1 = 1
    expected.putShort(1); expected.putShort(0) // key 1, cardinality-1 = 0
    expected.putInt(24); expected.putInt(28) // container offsets
    expected.putShort(1); expected.putShort(2) // container 0: values 1, 2
    expected.putShort(34464.toShort) // container 1: value 34464
    assert(bm.serialize().toSeq == expected.array().toSeq)
    val back = RoaringBitmapArray.deserialize(expected.array())
    assert(back.values.toSeq == Seq(1L, 2L, 100000L))
    assert(back.cardinality == 3L)
  }

  test("run containers deserialize (foreign run-compressed writers)") {
    // hand-built: cookie 12347 with size 1, run flag set, one run [5, 9]
    val bb = ByteBuffer.allocate(4 + 8 + 4 + (4 + 1 + 4 + 2 + 4))
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(1681511377)
    bb.putLong(1L)
    bb.putInt(0) // bucket key
    bb.putInt(12347) // SERIAL_COOKIE, (size-1)=0 in the high bits
    bb.put(1.toByte) // run-flag bitset: container 0 is a run container
    bb.putShort(0); bb.putShort(4) // key 0, cardinality-1 = 4
    // size 1 < 4 => NO offset header with the run cookie
    bb.putShort(1) // one run
    bb.putShort(5); bb.putShort(4) // start 5, length 4 => 5..9
    val bm = RoaringBitmapArray.deserialize(bb.array())
    assert(bm.values.toSeq == Seq(5L, 6L, 7L, 8L, 9L))
    assert(bm.contains(7L) && !bm.contains(10L))
  }

  test("a run overflowing the 16-bit container space is refused, not " +
      "silently truncated into the wrong row positions") {
    // same layout as above but run [65000, +1000] reaches 66000 — values
    // past 0xFFFF would wrap onto other row positions and shade the
    // WRONG rows; the parse must fail loudly instead
    val bb = ByteBuffer.allocate(4 + 8 + 4 + (4 + 1 + 4 + 2 + 4))
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(1681511377)
    bb.putLong(1L)
    bb.putInt(0) // bucket key
    bb.putInt(12347)
    bb.put(1.toByte)
    bb.putShort(0); bb.putShort(1000)
    bb.putShort(1)
    bb.putShort(65000.toShort); bb.putShort(1000)
    val e = intercept[IllegalArgumentException] {
      RoaringBitmapArray.deserialize(bb.array())
    }
    assert(e.getMessage.contains("16-bit"), e.getMessage)
  }

  test("a bitmap container whose header count disagrees with its bits " +
      "is refused") {
    // one bitmap container holding 0..4999 whose header claims 5001
    val bb = ByteBuffer.allocate(4 + 8 + 4 + (4 + 4 + 4 + 4 + 8192))
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(1681511377)
    bb.putLong(1L)
    bb.putInt(0) // bucket key
    bb.putInt(12346)
    bb.putInt(1) // one container
    bb.putShort(0); bb.putShort(5000) // key 0, cardinality-1 = 5000
    bb.putInt(16) // container offset
    val words = new Array[Long](1024)
    (0 until 5000).foreach(v => words(v >>> 6) |= 1L << (v & 63))
    words.foreach(bb.putLong)
    val e = intercept[IllegalArgumentException] {
      RoaringBitmapArray.deserialize(bb.array())
    }
    assert(e.getMessage.contains("header said 5001"), e.getMessage)
  }

  test("a blob without per-bucket keys fails loudly") {
    // {1, 2, 100000} laid out with the bucket key left out: the reader
    // takes the cookie for a key and the container count for a cookie
    val bb = ByteBuffer.allocate(4 + 8 + (4 + 4 + 8 + 8 + 6))
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(1681511377)
    bb.putLong(1L)
    bb.putInt(12346)
    bb.putInt(2)
    bb.putShort(0); bb.putShort(1)
    bb.putShort(1); bb.putShort(0)
    bb.putInt(24); bb.putInt(28)
    bb.putShort(1); bb.putShort(2)
    bb.putShort(34464.toShort)
    intercept[Exception](RoaringBitmapArray.deserialize(bb.array()))
  }

  test("bucket keys that do not increase are refused") {
    // buckets 0 (empty) and 1 (one array container); the second key,
    // at byte 24, rewritten to 0
    val bytes = RoaringBitmapArray((1L << 32) + 5L).serialize()
    assert(bytes.length == 4 + 8 + (4 + 8) + (4 + 8 + 4 + 4 + 2))
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).putInt(24, 0)
    val e = intercept[IllegalArgumentException] {
      RoaringBitmapArray.deserialize(bytes)
    }
    assert(e.getMessage.contains("increasing"), e.getMessage)
  }

  test("a far bucket key costs at most what its blob holds") {
    // 24 bytes: magic, count 1, the key, an empty 32-bit bitmap
    def blob(key: Int): Array[Byte] = {
      val bb = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(RoaringBitmapArray.PortableMagic).putLong(1L).putInt(key)
      bb.putInt(12346).putInt(0)
      bb.array()
    }
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val self = Thread.currentThread().getId
    Seq(1 << 22, Int.MaxValue).foreach { key =>
      val before = threads.getThreadAllocatedBytes(self)
      val outcome = scala.util.Try(RoaringBitmapArray.deserialize(blob(key)))
      val allocated = threads.getThreadAllocatedBytes(self) - before
      outcome.failed.foreach(e =>
        assert(e.isInstanceOf[IllegalArgumentException], s"key $key: $e"))
      outcome.foreach(bm => assert(bm.isEmpty, s"key $key"))
      assert(allocated < (16L << 20), s"key $key allocated $allocated bytes")
    }
  }

  test("serialization equals the RoaringBitmap jar's portable writer, " +
      "and the jar's bytes read back") {
    import org.roaringbitmap.longlong.Roaring64NavigableMap
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // one bucket's 32-bit values: sparse draws with duplicates, and
    // sometimes a dense run past the 4096-value array container limit
    val inBucket: Gen[Seq[Long]] = for {
      sparse <- Gen.listOf(Gen.chooseNum(0L, 0xffffffffL))
      dense <- Gen.option(for {
        start <- Gen.chooseNum(0L, 0xffffffffL - 65536L)
        len <- Gen.chooseNum(4097, 65536)
      } yield start until start + len)
    } yield sparse ++ sparse.take(3) ++ dense.getOrElse(Nil)
    // buckets below 2^8 (positions below 2^40): either every bucket up
    // to the largest, or a few with gaps between them
    val buckets: Gen[Seq[Int]] = Gen.oneOf(
      Gen.chooseNum(0, 4).map(max => 0 to max),
      Gen.chooseNum(1, 4).flatMap(n => Gen.pick(n, 0 until 256))
        .map(_.toSeq.sorted))
    val positions: Gen[Seq[Long]] = buckets.flatMap(bs =>
      Gen.sequence[Seq[Seq[Long]], Seq[Long]](bs.map(b =>
        inBucket.map(_.map(v => (b.toLong << 32) | v)))).map(_.flatten))
    val magic = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(RoaringBitmapArray.PortableMagic).array()
    var full, gapped = 0
    val prop = Prop.forAll(positions) { ps =>
      val jar = new Roaring64NavigableMap()
      ps.foreach(jar.addLong)
      val out = new java.io.ByteArrayOutputStream()
      jar.serializePortable(new java.io.DataOutputStream(out))
      val jarBytes = magic ++ out.toByteArray
      val ours = RoaringBitmapArray.fromUnsorted(ps.toArray)
      val expected = ps.distinct.sorted
      val everyBucket = ps.isEmpty ||
        ps.map(_ >>> 32).distinct.size == (ps.max >>> 32) + 1
      if (everyBucket) full += 1 else gapped += 1
      val fromJar = RoaringBitmapArray.deserialize(jarBytes)
      (!everyBucket || ours.serialize().sameElements(jarBytes)) &&
        fromJar.values.toSeq == expected &&
        fromJar.serialize().sameElements(ours.serialize()) &&
        RoaringBitmapArray.deserialize(ours.serialize()).values.toSeq == expected
    }
    val result = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(60)
        .withInitialSeed(org.scalacheck.rng.Seed(2020L)),
      prop)
    assert(result.passed, s"scalacheck: ${result.status}")
    assert(full > 0 && gapped > 0, s"$full sets without gaps, $gapped with")
  }

  test("bitmap containers round-trip above 4096 cardinality") {
    val values = (0 until 5000).map(i => i.toLong * 2)
    val bm = RoaringBitmapArray(values: _*)
    val back = RoaringBitmapArray.deserialize(bm.serialize())
    assert(back.cardinality == 5000L)
    assert(back.values.toSeq == values)
    assert(back.contains(4998L) && !back.contains(4999L))
  }

  test("values above 2^32 land in later bitmaps") {
    val big = (1L << 32) + 5L
    val bm = RoaringBitmapArray(7L, big)
    val back = RoaringBitmapArray.deserialize(bm.serialize())
    assert(back.values.toSeq == Seq(7L, big))
    assert(back.contains(big) && !back.contains((1L << 32) + 4L))
  }

  // ------------------------------------------------------ file framing
  test("on-disk DV framing: offsets, sizes and CRC round trip; corruption detected") {
    withTempDir { dir =>
      val table = new org.apache.hadoop.fs.Path(dir)
      val conf = spark.sessionState.newHadoopConf()
      val bms = Seq(RoaringBitmapArray(1L, 3L), RoaringBitmapArray(0L, 2L, 4L))
      val descs = DeletionVectors.writeDvFile(table, conf, bms)
      assert(descs.map(_.cardinality) == Seq(2L, 3L))
      assert(descs.head.offset.contains(1)) // after the version byte
      descs.zip(bms).foreach { case (d, bm) =>
        val read = DeletionVectors.readBitmap(d, table, conf)
        assert(read.values.toSeq == bm.values.toSeq)
      }
      // flip one bitmap byte -> the CRC must catch it
      val p = DeletionVectors.absolutePath(descs.head, table)
      val f = new java.io.File(p.toUri.getPath)
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      bytes(descs.head.offset.get + 4 + 2) =
        (bytes(descs.head.offset.get + 4 + 2) ^ 0x1).toByte
      java.nio.file.Files.write(f.toPath, bytes)
      // drop Hadoop's local-FS .crc sidecar so the PROTOCOL's CRC (the one
      // that exists on object stores) is the check that fires
      new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
      val e = intercept[IllegalArgumentException] {
        DeletionVectors.readBitmap(descs.head, table, conf)
      }
      assert(e.getMessage.contains("CRC"))
    }
  }

  // -------------------------------------------------------- end to end
  /** One commit that shades `pick`ed file with a DV over `positions`:
    * protocol bump to table features + remove(path, oldDv) + add(path,
    * newDv) — the add deliberately listed FIRST so path-only replay
    * keying would fold the pair wrong (the (path, dvId) key is what makes
    * the order irrelevant). */
  private def attachDv(dir: String, positions: Seq[Long], inline: Boolean,
                       pick: Seq[AddFile] => AddFile = _.head): Unit = {
    val log = DeltaLog.forTable(spark, dir)
    val snap = log.update()
    val add = pick(snap.allFiles)
    val bm = RoaringBitmapArray(positions: _*)
    val dv =
      if (inline) DeletionVectors.inline(bm)
      else DeletionVectors.writeDvFile(log.dataPath, log.hadoopConf, Seq(bm)).head
    val actions: Seq[Action] = Seq(
      Protocol(minReaderVersion = 3, minWriterVersion = 7,
        readerFeatures = Some(Seq("deletionVectors")),
        writerFeatures = Some(Seq("deletionVectors"))),
      add.copy(deletionVector = Some(dv), dataChange = true),
      add.remove(dataChange = true)) // carries the PREVIOUS dv (or none)
    val v = snap.version + 1
    log.store.write(FileNames.deltaFile(log.logPath, v),
      actions.map(JsonCodec.toJson).iterator, overwrite = false,
      log.hadoopConf)
  }

  /** A one-file table whose row position EQUALS its id (0..n-1). */
  private def seedTable(dir: String, n: Int): Unit =
    DeltaTable.write(
      (0 until n).map(_.toLong).toDF("id")
        .repartition(1).sortWithinPartitions("id"),
      dir)

  test("inline DV hides exactly the deleted positions") {
    withTempDir { dir =>
      seedTable(dir, 10)
      attachDv(dir, Seq(2L, 5L), inline = true)
      val got = DeltaTable.forPath(spark, dir).toDF
        .select("id").as[Long].collect().sorted.toSeq
      assert(got == Seq(0L, 1L, 3L, 4L, 6L, 7L, 8L, 9L))
    }
  }

  test("uuid-file DV + update: replay keys by (path, dvId), newest bitmap wins") {
    withTempDir { dir =>
      seedTable(dir, 8)
      attachDv(dir, Seq(1L), inline = false)
      val afterFirst = DeltaTable.forPath(spark, dir).toDF
        .select("id").as[Long].collect().sorted.toSeq
      assert(afterFirst == Seq(0L, 2L, 3L, 4L, 5L, 6L, 7L))
      // grow the DV: remove(path, dv1) + add(path, dv2) in ONE commit
      attachDv(dir, Seq(1L, 3L, 6L), inline = false)
      val afterSecond = DeltaTable.forPath(spark, dir).toDF
        .select("id").as[Long].collect().sorted.toSeq
      assert(afterSecond == Seq(0L, 2L, 4L, 5L, 7L))
      // the distributed fold agrees (same (path, dvId) keying)
      val snap = DeltaLog.forTable(spark, dir).update()
      val dist = snap.allFilesDistributed.collect()
      assert(dist.length == 1 && dist.head.deletionVector.exists(_.cardinality == 3))
    }
  }

  test("DV on one file of a partitioned table leaves other partitions whole") {
    withTempDir { dir =>
      val df = (0 until 6).map(i => (i.toLong, if (i < 3) "a" else "b"))
        .toDF("id", "p").repartition(1).sortWithinPartitions("p", "id")
      DeltaTable.write(df, dir, partitionBy = Seq("p"))
      // delete position 0 of partition a's file (id 0)
      attachDv(dir, Seq(0L), inline = true,
        pick = _.find(_.partitionValues("p") == "a").get)
      val got = DeltaTable.forPath(spark, dir).toDF
        .select("id", "p").as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(got == Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "b")))
    }
  }

  test("checkpoint preserves descriptors; distributed state filters too") {
    withTempDir { dir =>
      seedTable(dir, 6)
      attachDv(dir, Seq(0L, 4L), inline = false)
      val log = DeltaLog.forTable(spark, dir)
      Checkpoints.writeCheckpoint(log.update())
      DeltaLog.clearCache()
      // state now replays from the checkpoint alone (it is the newest
      // version); descriptors must have survived the parquet round trip
      val viaCheckpoint = DeltaTable.forPath(spark, dir).toDF
        .select("id").as[Long].collect().sorted.toSeq
      assert(viaCheckpoint == Seq(1L, 2L, 3L, 5L))
      // force the distributed-state path through the same checkpoint
      DeltaLog.clearCache()
      spark.conf.set(Snapshot.DriverStateMaxBytesKey, "0")
      try {
        val snap = DeltaLog.forTable(spark, dir).update()
        assert(snap.distributedState)
        val got = DeltaTable.forPath(spark, dir).toDF
          .select("id").as[Long].collect().sorted.toSeq
        assert(got == Seq(1L, 2L, 3L, 5L))
      } finally {
        spark.conf.unset(Snapshot.DriverStateMaxBytesKey)
        DeltaLog.clearCache()
      }
    }
  }

  test("time travel before the DV still sees every row") {
    withTempDir { dir =>
      seedTable(dir, 5)
      attachDv(dir, Seq(2L), inline = true)
      val log = DeltaLog.forTable(spark, dir)
      val v0 = log.getSnapshotForVersionAsOf(0)
      val all = new graft.delta.read.DeltaScanBuilder(v0).buildDF(None)
        .select("id").as[Long].collect().sorted.toSeq
      assert(all == Seq(0L, 1L, 2L, 3L, 4L))
      val now = DeltaTable.forPath(spark, dir).toDF
        .select("id").as[Long].collect().sorted.toSeq
      assert(now == Seq(0L, 1L, 3L, 4L))
    }
  }

  test("streaming: snapshot excludes deleted rows; ignoreChanges re-emits minus the new DV") {
    withTempDir { dir =>
      seedTable(dir, 8)
      attachDv(dir, Seq(1L), inline = true)
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
      val q = spark.readStream.format("graft-delta")
        .option("ignoreChanges", "true").load(dir)
        .writeStream
        .option("checkpointLocation", s"$dir/_ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          seen.synchronized {
            seen += ((id, batch.select("id").as[Long].collect().sorted.toSeq))
          }
          ()
        }
        .start()
      try {
        q.processAllAvailable()
        val initial = seen.synchronized(seen.flatMap(_._2).sorted.toSeq)
        assert(initial == Seq(0L, 2L, 3L, 4L, 5L, 6L, 7L),
          s"initial snapshot must not resurrect DV-deleted rows: $initial")
        // mid-stream DV growth: under ignoreChanges the rewritten file
        // re-emits MINUS its (new) deletion vector
        attachDv(dir, Seq(1L, 3L, 6L), inline = false)
        q.processAllAvailable()
        val reEmitted = seen.synchronized(
          seen.drop(1).flatMap(_._2).sorted.toSeq)
        assert(reEmitted == Seq(0L, 2L, 4L, 5L, 7L),
          s"re-emitted file must exclude the new DV positions: $reEmitted")
      } finally q.stop()
    }
  }

  test("every read surface returns only the live rows of a shaded table") {
    withTempDir { wh =>
      spark.conf.set("spark.sql.catalog.graftdv", "graft.sql.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graftdv.warehouse", wh)
      val dir = s"$wh/db/t"
      DeltaTable.write(
        (0 until 10).map(i => (i.toLong, s"p${i % 2}")).toDF("id", "p")
          .repartition(1), dir, partitionBy = Seq("p"),
        configuration = Map("delta.enableDeletionVectors" -> "true"))
      DeltaTable.forPath(spark, dir).delete($"id" <= 3L)
      assert(DeltaLog.forTable(spark, dir).update().dvCardinality == 4L)
      val live = (4L until 10L).toSeq

      val streamed = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = spark.readStream.format("graft-delta").load(dir).writeStream
        .option("checkpointLocation", s"$wh/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          streamed.synchronized(streamed ++= ids(batch)); ()
        }.start()
      try q.awaitTermination() finally q.stop()

      val surfaces: Seq[(String, Seq[Long], Long)] = Seq(
        ("DeltaTable.toDF", ids(DeltaTable.forPath(spark, dir).toDF),
          DeltaTable.forPath(spark, dir).toDF.count()),
        ("format(graft-delta).load",
          ids(spark.read.format("graft-delta").load(dir)),
          spark.read.format("graft-delta").load(dir).count()),
        ("catalog SELECT", ids(spark.sql("SELECT id FROM graftdv.db.t")),
          spark.sql("SELECT count(*) FROM graftdv.db.t").as[Long].head()),
        ("graft_table", ids(spark.sql(s"SELECT id FROM graft_table('$dir')")),
          spark.sql(s"SELECT count(*) FROM graft_table('$dir')").as[Long].head()),
        ("readStream initial snapshot", streamed.sorted.toSeq,
          streamed.size.toLong))
      surfaces.foreach { case (name, got, count) =>
        assert(got == live, s"$name returned $got")
        assert(count == live.size, s"$name counted $count")
      }
      // a filtered SQL read and a catalog DML still see the live rows only
      assert(spark.sql("SELECT count(*) FROM graftdv.db.t WHERE p = 'p0'")
        .as[Long].head() == 3L)
      // a self-join filters each side exactly once, inside its scan: the
      // only join is the query's own
      val self = spark.sql("SELECT count(*) FROM graftdv.db.t a " +
        "JOIN graftdv.db.t b ON a.id = b.id")
      assert(self.as[Long].head() == live.size)
      val optimized = self.queryExecution.optimizedPlan
      assert(optimized.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.exists(_.prettyName == "dv_row_is_live") => f
      }.size == 2, optimized)
      assert(optimized.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.size == 1, optimized)
      spark.sql("UPDATE graftdv.db.t SET id = id + 100 WHERE id >= 8")
      assert(ids(spark.sql("SELECT id FROM graftdv.db.t")) ==
        Seq(4L, 5L, 6L, 7L, 108L, 109L))
    }
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").as[Long].collect().sorted.toSeq

  test("a shaded multi-row-group file read in mid-file splits returns " +
      "exactly its live rows, vectorized and not") {
    withTempDir { dir =>
      spark.conf.set("parquet.block.size", "16384")
      try DeltaTable.write((0 until 20000).map(i => (i.toLong, s"row-$i"))
        .toDF("id", "pad").repartition(1).sortWithinPartitions("id"), dir)
      finally spark.conf.unset("parquet.block.size")
      val log = DeltaLog.forTable(spark, dir)
      val file = log.update().allFiles.head
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(log.dataPath, file.path), log.hadoopConf))
      val rowGroups = try reader.getFooter.getBlocks.size finally reader.close()
      assert(rowGroups > 4, s"$rowGroups row groups")
      val deleted = ((0L until 20000L by 7L) :+ 19999L).toSet
      attachDv(dir, deleted.toSeq.sorted, inline = false)
      val live = (0L until 20000L).filterNot(deleted)
      Seq("true", "false").foreach { vectorized =>
        spark.conf.set("spark.sql.parquet.enableVectorizedReader", vectorized)
        spark.conf.set("spark.sql.files.maxPartitionBytes", (file.size / 5).toString)
        try {
          val df = DeltaTable.forPath(spark, dir).toDF
          assert(df.rdd.getNumPartitions > 1, s"vectorized=$vectorized")
          assert(ids(df) == live, s"vectorized=$vectorized")
          assert(df.count() == live.size, s"vectorized=$vectorized")
        } finally {
          spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
          spark.conf.unset("spark.sql.files.maxPartitionBytes")
        }
      }
    }
  }

  test("a scan whose surviving files carry no DV runs no more jobs than " +
      "the same scan over a DV-free copy") {
    withTempDir { root =>
      val data = (0 until 40).map(i => (i.toLong, if (i < 20) "a" else "b"))
        .toDF("id", "p").repartition(1)
      Seq("shaded", "clean").foreach(name =>
        DeltaTable.write(data, s"$root/$name", partitionBy = Seq("p"),
          configuration = Map("delta.enableDeletionVectors" -> "true")))
      DeltaTable.forPath(spark, s"$root/shaded").delete($"id" < 5L)
      assert(DeltaLog.forTable(spark, s"$root/shaded").update().dvCardinality == 5L)
      def scan(name: String): Long = DeltaTable.forPath(spark, s"$root/$name")
        .toDF.filter($"p" === "b").agg(sum("id")).as[Long].head()
      // warm both, so only the scan itself is counted
      scan("shaded"); scan("clean")
      val (shadedSum, shadedJobs) = jobsLaunchedBy(scan("shaded"))
      val (cleanSum, cleanJobs) = jobsLaunchedBy(scan("clean"))
      assert(shadedSum == (20L until 40L).sum && cleanSum == shadedSum)
      assert(shadedJobs <= cleanJobs,
        s"shaded scan ran $shadedJobs jobs, DV-free copy $cleanJobs")
    }
  }

  test("a distributed-state snapshot with a shade returns the live rows") {
    withTempDir { dir =>
      DeltaTable.write((0 until 30).map(i => (i.toLong, s"p${i % 3}"))
        .toDF("id", "p").repartition(3), dir, partitionBy = Seq("p"),
        configuration = Map("delta.enableDeletionVectors" -> "true"))
      DeltaTable.forPath(spark, dir).delete($"id" % 4L === 0L)
      val live = (0L until 30L).filterNot(_ % 4 == 0)
      DeltaLog.clearCache()
      spark.conf.set(Snapshot.DriverStateMaxBytesKey, "1") // force distributed
      try {
        val snap = DeltaLog.forTable(spark, dir).update()
        assert(snap.distributedState && snap.dvCardinality == 8L)
        val table = DeltaTable.forPath(spark, dir)
        assert(ids(table.toDF) == live)
        assert(ids(table.toDF.filter($"p" === "p1")) == live.filter(_ % 3 == 1))
        assert(ids(spark.read.format("graft-delta").load(dir)) == live)
      } finally {
        spark.conf.unset(Snapshot.DriverStateMaxBytesKey)
        DeltaLog.clearCache()
      }
    }
  }

  test("appends to a DV table work; unknown writer features still refuse by name") {
    withTempDir { dir =>
      seedTable(dir, 4)
      attachDv(dir, Seq(1L), inline = true)
      // deletionVectors is now a SUPPORTED writer feature: plain appends
      // are protocol-legal and must not disturb the shade
      DeltaTable.write(Seq(99L).toDF("id"), dir)
      val got = DeltaTable.forPath(spark, dir).toDF
        .select("id").as[Long].collect().sorted.toSeq
      assert(got == Seq(0L, 2L, 3L, 99L))
      // a genuinely unimplemented feature still refuses, naming itself
      val log = DeltaLog.forTable(spark, dir)
      val v = log.update().version + 1
      val protoUp: Seq[Action] = Seq(
        Protocol(minReaderVersion = 3, minWriterVersion = 7,
          readerFeatures = Some(Seq("deletionVectors")),
          writerFeatures = Some(Seq("deletionVectors", "icebergCompatV2"))))
      log.store.write(FileNames.deltaFile(log.logPath, v),
        protoUp.map(JsonCodec.toJson).iterator,
        overwrite = false, log.hadoopConf)
      val e = intercept[IllegalArgumentException] {
        DeltaTable.write(Seq(100L).toDF("id"), dir)
      }
      assert(e.getMessage.contains("icebergCompatV2"), e.getMessage)
    }
  }

  // ------------------------------------------- bulk builder / union (r15)
  test("fromUnsorted equals incremental add across container shapes") {
    val rnd = new scala.util.Random(42)
    // spans array containers, a dense bitmap container, two 32-bit
    // bitmaps, duplicates, and unsorted order
    val values: Array[Long] =
      (rnd.shuffle((100000L to 170000L by 1L).toVector).take(50000) ++
        Seq(0L, 1L, 65535L, 65536L, (1L << 32) + 5, (1L << 32) + 5,
          (3L << 32) | 0xffffL) ++
        (0 until 500).map(_ => rnd.nextLong(1L << 40))).toArray
    val bulk = RoaringBitmapArray.fromUnsorted(values)
    val incr = RoaringBitmapArray.empty()
    values.foreach(incr.add)
    assert(bulk.serialize().toSeq == incr.serialize().toSeq)
    assert(bulk.cardinality == values.distinct.length)
  }

  test("union equals element-wise add and keeps serialized form canonical") {
    val rnd = new scala.util.Random(7)
    val a = Array.fill(20000)(rnd.nextLong(1L << 20))
    val b = Array.fill(20000)(rnd.nextLong(1L << 36))
    val u = RoaringBitmapArray.fromUnsorted(a)
    u.union(RoaringBitmapArray.fromUnsorted(b))
    val ref = RoaringBitmapArray.fromUnsorted(a ++ b)
    assert(u.serialize().toSeq == ref.serialize().toSeq)
    // disjoint-high-bitmap union grows the array without trailing gaps
    val lo = RoaringBitmapArray(1L, 2L)
    lo.union(RoaringBitmapArray((5L << 32) | 9L))
    assert(lo.contains((5L << 32) | 9L) && lo.contains(1L))
    assert(RoaringBitmapArray.deserialize(lo.serialize()).cardinality == 3L)
  }
}
