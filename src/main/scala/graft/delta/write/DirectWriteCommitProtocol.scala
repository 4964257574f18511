package graft.delta.write

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage

/** Commit protocol for writes whose visibility is defined by the DELTA
  * LOG, not the directory: tasks write their files directly under the
  * destination with collision-free names, and "committing" is just
  * reporting which files the committed task attempts produced. The same
  * shape Delta-on-Spark uses for its transactional writes (its
  * DelayedCommitProtocol): Spark's default FileOutputCommitter pays a
  * `_temporary` staging tree, two renames per file, a job-commit merge
  * walk and a `_SUCCESS` marker per write job — machinery that exists to
  * make a DIRECTORY atomically consistent, which a log-visible batch
  * directory does not need (readers only ever see files the log commit
  * names; the batch dir is invisible until then).
  *
  * Retry/speculation safety: every file name embeds a fresh UUID, so a
  * re-attempted task never collides with its predecessor; only the files
  * named in COMMITTED task messages reach
  * [[DirectWriteCommitProtocol.write]], and the caller derives AddFiles
  * from that list — an abandoned attempt's leftover is never committed
  * (and is swept with the batch dir on failure, or by VACUUM as an orphan
  * past retention).
  *
  * Dynamic partition overwrite (`spark.sql.sources.partitionOverwriteMode
  * =dynamic`) is accepted and needs nothing: the batch directory is fresh,
  * so there is no partition to replace, and the log commit decides what
  * the table's partitions hold.
  *
  * Results are published under the job's output path at commitJob time;
  * the caller collects them through [[DirectWriteCommitProtocol.write]]. */
class DirectWriteCommitProtocol(jobId: String, path: String,
                                dynamicPartitionOverwrite: Boolean)
  extends FileCommitProtocol with Serializable {

  // task-side state (executor): the files this attempt created
  @transient private var addedFiles: ArrayBuffer[String] = _

  override def setupJob(jobContext: JobContext): Unit = ()

  override def commitJob(jobContext: JobContext,
                         taskCommits: Seq[TaskCommitMessage]): Unit = {
    val files = taskCommits.flatMap(_.obj.asInstanceOf[Seq[String]])
    DirectWriteCommitProtocol.publish(path, files)
  }

  // the caller deletes the whole batch directory on failure, and
  // DirectWriteCommitProtocol.write drops any published list
  override def abortJob(jobContext: JobContext): Unit = ()

  override def setupTask(taskContext: TaskAttemptContext): Unit = {
    addedFiles = ArrayBuffer.empty[String]
  }

  override def newTaskTempFile(taskContext: TaskAttemptContext,
                               dir: Option[String], ext: String): String =
    newTaskTempFile(taskContext, dir, FileNameSpec("", ext))

  override def newTaskTempFile(taskContext: TaskAttemptContext,
                               dir: Option[String],
                               spec: FileNameSpec): String = {
    val split = taskContext.getTaskAttemptID.getTaskID.getId
    // fresh UUID per FILE: attempt-collision-free by construction (the
    // Delta DelayedCommitProtocol naming), Spark's part-file shape kept
    val filename = f"${spec.prefix}part-$split%05d-" +
      s"${java.util.UUID.randomUUID()}${spec.suffix}"
    val target = dir.map(d => new Path(new Path(path, d), filename))
      .getOrElse(new Path(path, filename))
    addedFiles += target.toString
    target.toString
  }

  override def newTaskTempFileAbsPath(taskContext: TaskAttemptContext,
                                      absoluteDir: String,
                                      ext: String): String =
    throw new UnsupportedOperationException(
      "DirectWriteCommitProtocol writes under its batch directory only")

  override def commitTask(taskContext: TaskAttemptContext): TaskCommitMessage =
    new TaskCommitMessage(
      if (addedFiles == null) Seq.empty[String] else addedFiles.toSeq)

  override def abortTask(taskContext: TaskAttemptContext): Unit = {
    if (addedFiles != null) {
      val conf = taskContext.getConfiguration
      addedFiles.foreach { f =>
        try {
          val p = new Path(f)
          p.getFileSystem(conf).delete(p, false)
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }
}

object DirectWriteCommitProtocol {
  private val ConfKey = "spark.sql.sources.commitProtocolClass"
  private val results =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  /** Keyed by the batch directory's NAME (`batch-<uuid>` — unique per
    * write), not its full string: the write command re-qualifies the
    * output path (`file:/...` vs `/...`), so full-string keys would miss. */
  private def keyOf(path: String): String = new Path(path).getName

  private[write] def publish(path: String, files: Seq[String]): Unit =
    results.put(keyOf(path), files)

  /** Run `body` — a file-source write into the unique batch directory
    * `path` — with this protocol installed, and return the NAMES of the
    * files its committed tasks produced (None when the write published no
    * list). The published entry is cleared however the write ends. */
  def write(session: org.apache.spark.sql.SparkSession, path: String)
           (body: => Unit): Option[Set[String]] =
    try {
      withDirectCommit(session)(body)
      Option(results.get(keyOf(path))).map(_.map(p => new Path(p).getName).toSet)
    } finally results.remove(keyOf(path))

  /** Installs the protocol for the session's file-source writes.
    * Ref-counted per session (the withFieldIdWrite pattern) so concurrent
    * delta writers share one save/restore. */
  private def withDirectCommit[T](session: org.apache.spark.sql.SparkSession)
                                 (body: => T): T = {
    Lock.synchronized {
      val (depth, saved) = Option(state.get(session)).getOrElse((0, None))
      if (depth == 0) {
        state.put(session, (1, Some(session.conf.getOption(ConfKey))))
        session.conf.set(ConfKey, classOf[DirectWriteCommitProtocol].getName)
      } else state.put(session, (depth + 1, saved))
    }
    try body
    finally Lock.synchronized {
      val (depth, saved) = state.get(session)
      if (depth == 1) {
        saved.flatten match {
          case Some(v) => session.conf.set(ConfKey, v)
          case None => session.conf.unset(ConfKey)
        }
        state.remove(session)
      } else state.put(session, (depth - 1, saved))
    }
  }
  private object Lock
  private val state =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      (Int, Option[Option[String]])]
}
