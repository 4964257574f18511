package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession + temp-dir helpers for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .withExtensions(new graft.GraftExtensions)
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def withTempDir[T](f: String => T): T = {
    val dir = Files.createTempDirectory("graft-test-").toFile
    try f(dir.getAbsolutePath)
    finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm))
        x.delete()
      }
      rm(dir)
    }
  }

  /** `f`'s result and the number of Spark jobs it launched. Listener
    * events arrive asynchronously but in order, so a marker job run
    * afterwards flushes them: once its start is seen, every earlier
    * job's start has been counted. */
  def jobsLaunchedBy[T](f: => T): (T, Int) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      sc.setJobGroup("jobs-marker", "flush the listener bus")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("jobs-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("jobs-marker"), "listener bus did not drain")
      (out, groups.asScala.count(_ != "jobs-marker"))
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = {
    graft.delta.DeltaLog.clearCache()
    super.afterAll()
  }
}
