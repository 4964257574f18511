package graft.delta

import java.io.{ByteArrayOutputStream, PrintStream}

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** What a checkpoint leaves behind when it cannot finish: a process that
  * dies mid-write leaves dot-named remnants in `_delta_log` that log
  * cleanup reclaims once expired, and an unreadable `_last_checkpoint`
  * is reported while the reader falls back to listing. */
class CheckpointRemnantSpec extends SparkSpec {
  import spark.implicits._

  private val DayMs = 24L * 3600 * 1000

  /** Lines `f` printed to stderr from this engine ("graft: ..."). */
  private def graftStderr[T](f: => T): (T, Seq[String]) = {
    val buf = new ByteArrayOutputStream()
    val capture = new PrintStream(buf, true, "UTF-8")
    val saved = System.err
    System.setErr(capture)
    val out = try f finally { capture.flush(); System.setErr(saved) }
    (out, buf.toString("UTF-8").linesIterator.filter(_.startsWith("graft:")).toSeq)
  }

  test("log cleanup reclaims expired checkpoint staging dirs, claim markers and " +
      "reclaim tickets, and keeps fresh ones") {
    withTempDir { dir =>
      DeltaTable.write((0 until 10).toDF("v"), dir)
      DeltaTable.write((10 until 20).toDF("v"), dir)
      val log = DeltaLog.forTable(spark, dir)
      Checkpoints.writeCheckpoint(log.update())
      val before = log.update()
      val fs = log.logPath.getFileSystem(log.hadoopConf)

      def plant(version: Long, ageDays: Long): Seq[Path] = {
        val staging = new Path(log.logPath, s".checkpoint_tmp_${java.util.UUID.randomUUID()}")
        val staged = new Path(staging, "parts/part-00000.parquet")
        val marker = new Path(log.logPath, f".$version%020d.checkpoint.publishing")
        val ticket = new Path(log.logPath, s"${marker.getName}.reclaim.1234")
        Seq(staged, marker, ticket).foreach(p => fs.create(p, false).close())
        val mtime = System.currentTimeMillis() - ageDays * DayMs
        Seq(staged, staged.getParent, staging, marker, ticket)
          .foreach(fs.setTimes(_, mtime, -1))
        Seq(staging, marker, ticket)
      }
      val expired = plant(before.version, ageDays = 40)
      val fresh = plant(before.version + 1, ageDays = 0)

      log.cleanUpExpiredLogs()
      expired.foreach(p => assert(!fs.exists(p), s"$p outlived the retention cutoff"))
      fresh.foreach(p => assert(fs.exists(p), s"$p was removed before it expired"))

      DeltaLog.clearCache()
      val after = DeltaLog.forTable(spark, dir).update()
      assert(after.version == before.version)
      assert(after.allFiles.map(_.path).toSet == before.allFiles.map(_.path).toSet)
    }
  }

  test("an unreadable checkpoint hint is reported once; a missing one is silent") {
    withTempDir { dir =>
      DeltaTable.write((0 until 10).toDF("v"), dir)
      val log = DeltaLog.forTable(spark, dir)
      val (missing, quiet) = graftStderr(Checkpoints.lastCheckpoint(log))
      assert(missing.isEmpty)
      assert(quiet.isEmpty, quiet)

      Checkpoints.writeCheckpoint(log.update())
      log.store.write(FileNames.lastCheckpointFile(log.logPath),
        Iterator("{not json"), overwrite = true, log.hadoopConf)
      val (corrupt, lines) = graftStderr(Checkpoints.lastCheckpoint(log))
      assert(corrupt.isEmpty)
      assert(lines.size == 1 && lines.head.contains("_last_checkpoint") &&
        lines.head.contains("(ignored)"), lines)

      DeltaLog.clearCache()
      val reloaded = DeltaLog.forTable(spark, dir).update()
      assert(reloaded.version == 0 && reloaded.numOfFiles == log.update().numOfFiles)
    }
  }
}
