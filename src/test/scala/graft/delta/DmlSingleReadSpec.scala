package graft.delta

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** A shading DML whose hit rows feed two consumers reads its candidate
  * files once: DV UPDATE (shade + write) and DV DELETE with CDF on
  * (shade + delete image). The predicate reads every column, so a second
  * scan of the files would double the bytes. */
class DmlSingleReadSpec extends SparkSpec {
  import spark.implicits._

  /** Input bytes every task of `f` read (files and cached blocks). The
    * listener bus delivers in order, so once a marker job run afterwards
    * has started, every task of `f` has been counted. Parquet's vectored
    * reads fill buffers on other threads, which the task's byte count
    * never sees, so they are off while `f` runs. */
  private def bytesReadBy(f: => Unit): Long = {
    val sc = spark.sparkContext
    val vectored = "parquet.hadoop.vectored.io.enabled"
    val bytes = new AtomicLong
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "read-marker"))
          marker.countDown()
    }
    sc.addSparkListener(listener)
    spark.conf.set(vectored, "false")
    try {
      f
      sc.setJobGroup("read-marker", "flush the listener bus")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(30, TimeUnit.SECONDS), "listener bus did not drain")
      bytes.get
    } finally {
      spark.conf.unset(vectored)
      sc.removeSparkListener(listener)
    }
  }

  private def fixture(dir: String, conf: Map[String, String]): (DeltaTable, Long) = {
    DeltaTable.write(spark.range(0, 20000).select($"id",
        concat(lit("payload-"), sha1($"id".cast("string"))).as("s"))
      .repartition(2), dir,
      configuration = conf + ("delta.enableDeletionVectors" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    (t, t.deltaLog.update().allFiles.map(_.size).sum)
  }

  // hits 1 row in 100; reads both columns
  private val hit = pmod($"id", lit(100L)) === 0L && length($"s") > 0

  test("DV UPDATE reads its candidate files once") {
    withTempDir { dir =>
      val (t, candidateBytes) = fixture(dir, Map.empty)
      val read = bytesReadBy(t.update(hit, Map("s" -> concat($"s", lit("!")))))
      assert(read <= candidateBytes * 1.2,
        s"read $read bytes of $candidateBytes candidate bytes")
      assert(t.toDF.filter($"s".endsWith("!")).count() == 200L)
    }
  }

  test("DV DELETE with CDF on reads its candidate files once") {
    withTempDir { dir =>
      val (t, candidateBytes) =
        fixture(dir, Map("delta.enableChangeDataFeed" -> "true"))
      val read = bytesReadBy(t.delete(hit))
      assert(read <= candidateBytes * 1.2,
        s"read $read bytes of $candidateBytes candidate bytes")
      assert(t.changes(1, 1).count() == 200L)
      assert(t.toDF.count() == 19800L)
    }
  }
}
