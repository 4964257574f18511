package graft.delta

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SparkSpec

/** A log may name an in-table file by absolute URI (the protocol allows
  * it; another writer may do so). VACUUM must key such a path as the
  * listing does, root-relative, or it deletes a live file and a file a
  * young tombstone still protects. Each case runs on every executor: the
  * driver walk, the Spark job (distributed state forced) and LITE. */
class VacuumAbsolutePathSpec extends SparkSpec {
  import spark.implicits._

  private val Day = 24L * 3600 * 1000
  private val Start = 3000000000000L

  /** v0 adds `live` (row 1), v1 adds `gone` (row 2), v2 removes `gone` at
    * `Start`; every commit then names both files as `file:/<root>/<rel>`.
    * Returns the two root-relative paths. In-commit timestamps let the
    * manual clock govern the version-timestamp mapping LITE prunes by. */
  private def absoluteLog(dir: String): (String, String) = {
    DeltaTable.write(Seq(1).toDF("v").coalesce(1), dir,
      configuration = Map("delta.enableInCommitTimestamps" -> "true"))
    val log = DeltaLog.forTable(spark, dir)
    val live = log.update().allFiles.head.path
    DeltaTable.write(Seq(2).toDF("v").coalesce(1), dir)
    val gone = log.update().allFiles.map(_.path).filterNot(_ == live).head
    log.clock = () => Start
    log.startTransaction().commit(
      log.update().allFiles.filter(_.path == gone).map(_.remove(Start)),
      "DELETE")
    val root = new File(dir).getAbsolutePath
    new File(dir, "_delta_log").listFiles().filter(_.getName.endsWith(".json"))
      .foreach { f =>
        val json = Seq(live, gone).foldLeft(
            new String(Files.readAllBytes(f.toPath), UTF_8)) { (s, rel) =>
          s.replace(s""""path":"$rel"""", s""""path":"file:$root/$rel"""")
        }
        Files.write(f.toPath, json.getBytes(UTF_8))
      }
    DeltaLog.clearCache()
    (live, gone)
  }

  private val executors: Seq[(String, Boolean, Option[String])] = Seq(
    ("the driver walk", false, None),
    ("the Spark job", false, Some("1")),
    ("LITE", true, None))

  executors.foreach { case (name, lite, stateBound) =>
    test(s"absolute in-table log paths are keyed root-relative by $name") {
      withTempDir { dir =>
        stateBound.foreach(spark.conf.set(Snapshot.DriverStateMaxBytesKey, _))
        try {
          val (live, gone) = absoluteLog(dir)
          val log = DeltaLog.forTable(spark, dir)
          assert(log.update().allFiles.map(_.path) == Seq(s"file:$dir/$live"))
          val table = DeltaTable.forPath(spark, dir)

          // inside retention: the add and the young tombstone protect
          // both files (their mtimes are far older than the cutoff)
          log.clock = () => Start + Day
          val (dry, jobs) =
            jobsLaunchedBy(table.vacuum(dryRun = true, lite = lite))
          assert(dry == 0, s"$name would delete $dry file(s) the log names")
          // the driver walk is the only executor that runs no Spark job
          assert((jobs == 0) == (!lite && stateBound.isEmpty),
            s"$name launched $jobs Spark job(s)")
          assert(table.vacuum(lite = lite) == 0)
          assert(new File(dir, live).exists && new File(dir, gone).exists)

          // past retention only the tombstoned file collects
          log.clock = () => Start + 8 * Day
          assert(table.vacuum(lite = lite) == 1)
          assert(new File(dir, live).exists && !new File(dir, gone).exists)
          DeltaLog.clearCache()
          assert(DeltaTable.forPath(spark, dir).toDF.as[Int].collect().toSeq ==
            Seq(1))
        } finally spark.conf.unset(Snapshot.DriverStateMaxBytesKey)
      }
    }
  }
}
