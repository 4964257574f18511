package graft.delta.storage

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import scala.io.{Codec, Source}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, Path}

/** Storage abstraction for the transaction log.
  *
  * The atomicity boundary of the whole engine: `write(path, overwrite=false)`
  * must be all-or-nothing and fail with [[FileAlreadyExistsException]] if the
  * destination exists — that mutual exclusion is what makes commits ACID.
  * Semantics follow the reference's LogStore contract
  * (`/root/reference/standalone/src/main/scala/io/delta/standalone/internal/storage/HadoopFileSystemLogStore.scala:34-120`).
  */
trait LogStore {
  /** Read the file as UTF-8 lines. */
  def read(path: Path, conf: Configuration): Seq[String]

  /** Write all lines atomically; if `overwrite` is false and the target
    * exists, throw FileAlreadyExistsException without modifying it. */
  def write(path: Path, lines: Iterator[String], overwrite: Boolean,
            conf: Configuration): Unit

  /** List files in the parent of `path` whose name is >= path's name,
    * sorted by path. */
  def listFrom(path: Path, conf: Configuration): Iterator[FileStatus]

  def isPartialWriteVisible(path: Path, conf: Configuration): Boolean = true
}

/** Rename-based store for file systems with atomic rename (local, HDFS).
  *
  * Write protocol (ref HadoopFileSystemLogStore.writeWithRename:63-120):
  * write to a temp file in the same directory, hflush/close, then
  * `rename(temp, dest)` with no-overwrite semantics. A rename that returns
  * false with the destination now present is a concurrent-writer loss →
  * FileAlreadyExistsException (the commit loop retries at the next version).
  */
class HadoopFileSystemLogStore extends LogStore {

  override def read(path: Path, conf: Configuration): Seq[String] = {
    val fs = path.getFileSystem(conf)
    if (LogStore.isLocalScheme(path, fs)) {
      // NIO fast path (guide §1 profile: the Hadoop local FS is
      // ChecksumFileSystem — every open also reads/verifies a .crc
      // sidecar, and stream setup dominates for KB-sized commit JSONs).
      // Commit integrity is the log protocol's own concern (atomic
      // publish + length checks), exactly as on object stores where no
      // .crc exists either.
      val p = java.nio.file.Paths.get(path.toUri.getPath)
      val in = java.nio.file.Files.newInputStream(p)
      try Source.fromInputStream(in)(Codec.UTF8).getLines().toVector
      finally in.close()
    } else {
      val stream = fs.open(path)
      try {
        Source.fromInputStream(stream)(Codec.UTF8).getLines().toVector
      } finally stream.close()
    }
  }

  override def write(path: Path, lines: Iterator[String], overwrite: Boolean,
                     conf: Configuration): Unit = {
    val fs = path.getFileSystem(conf)
    if (LogStore.isLocalScheme(path, fs)) {
      // NIO fast path for the local scheme: the Hadoop route costs one
      // fork+exec `chmod` PER CREATED FILE (RawLocalFileSystem.create →
      // setPermission shells out when the native lib is absent — profiled
      // at ~10 ms per call on this host) plus a .crc sidecar write
      // (ChecksumFileSystem). Same publish protocol, same atomicity:
      // temp + link(2) (below) is unchanged; only the byte I/O moves to
      // java.nio. Behavior parity pinned by LogStoreSpec +
      // CrossProcessStoreSpec.
      LogStore.writeLocalNio(path, lines, overwrite)
      return
    }
    if (!fs.exists(path.getParent)) fs.mkdirs(path.getParent)
    if (overwrite) {
      val out = fs.create(path, true)
      try lines.foreach(l => out.write((l + "\n").getBytes(UTF_8)))
      finally out.close()
      return
    }
    if (fs.exists(path)) throw new FileAlreadyExistsException(path.toString)
    val temp = new Path(path.getParent,
      s".${path.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(temp)
    try {
      lines.foreach(l => out.write((l + "\n").getBytes(UTF_8)))
      out.close()
      // HDFS: rename is atomic AND no-overwrite by contract — the false
      // return with the destination present is a concurrent loss.
      // (abfs/other rename-atomic schemes route here too; the local
      // scheme never reaches this point, see writeLocalNio.)
      if (!fs.rename(temp, path)) {
        if (fs.exists(path)) {
          throw new FileAlreadyExistsException(path.toString)
        } else {
          throw new java.io.IOException(s"rename $temp -> $path failed")
        }
      }
    } finally {
      // on any failure drop the orphan (a successful rename left none)
      fs.delete(temp, false)
    }
  }

  override def listFrom(path: Path, conf: Configuration): Iterator[FileStatus] = {
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path.getParent)) {
      throw new FileNotFoundException(s"No such directory: ${path.getParent}")
    }
    fs.listStatus(path.getParent)
      .filter(_.getPath.getName >= path.getName)
      .sortBy(_.getPath.getName)
      .iterator
  }
}

/** Put-if-absent emulation for object stores whose rename is
  * copy-then-delete and whose listings are eventually consistent (ref
  * S3SingleDriverLogStore.scala:33-246): correctness holds for a SINGLE
  * writer JVM, which serializes its own writes through an in-JVM cache of
  * recently written paths and merges that cache into listings so a
  * just-written commit is visible to the next `listFrom` even before the
  * store's listing catches up.
  *
  * The existence check (cache ∪ store) happens under a global lock, then
  * the object is written directly — no rename, object-store writes are
  * all-or-nothing on close.
  *
  * On LOCAL filesystems (dev/test deployments) the create itself is
  * O_EXCL, so mutual exclusion also holds across PROCESSES there; on
  * real object stores the single-writer constraint stands, and true
  * multi-writer deployments route through [[CoordinatedLogStore]]. */
class ObjectStoreLogStore extends LogStore {
  import java.util.concurrent.ConcurrentHashMap

  override def read(path: Path, conf: Configuration): Seq[String] = {
    val fs = path.getFileSystem(conf)
    val stream = fs.open(path)
    try Source.fromInputStream(stream)(Codec.UTF8).getLines().toVector
    finally stream.close()
  }

  override def write(path: Path, lines: Iterator[String], overwrite: Boolean,
                     conf: Configuration): Unit = {
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path.getParent)) fs.mkdirs(path.getParent)
    ObjectStoreLogStore.lock.synchronized {
      ObjectStoreLogStore.pruneExpired()
      if (!overwrite &&
          (ObjectStoreLogStore.writtenPaths.containsKey(path.toUri.toString) ||
            fs.exists(path))) {
        throw new FileAlreadyExistsException(path.toString)
      }
      if (!overwrite && LogStore.isLocalScheme(path, fs)) {
        // the cache+exists gate above is atomic only within this JVM;
        // on a LOCAL filesystem RawLocalFileSystem.create(overwrite =
        // false) is itself check-then-act, so two PROCESSES could both
        // pass it and clobber a version. The cross-process gate must be
        // the kernel's (the conditional-put this class emulates — what
        // If-None-Match PUT gives on real object stores), AND the final
        // name must appear fully written: this class declares
        // isPartialWriteVisible=false and the cross-process support means
        // a reader in ANOTHER process can open the file mid-write, so a
        // grow-in-place create would expose torn commits. Stage the
        // payload in a uniquely-named temp file, then publish with
        // Files.createLink — an atomic O_EXCL primitive (link(2) fails
        // with EEXIST if the destination exists), so exactly one process
        // wins AND the commit materializes all-or-nothing
        // (CrossProcessStoreSpec).
        val local = java.nio.file.Paths.get(path.toUri.getPath)
        val temp = local.resolveSibling(
          s".${local.getFileName}.${java.util.UUID.randomUUID()}.tmp")
        val out = java.nio.file.Files.newOutputStream(temp,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        try lines.foreach(l => out.write((l + "\n").getBytes(UTF_8)))
        finally out.close()
        // the temp is dead on EVERY exit from the publish — success,
        // lost race, or an unexpected createLink failure (IOException,
        // an FS without hard links) — so the cleanup lives in finally;
        // per-catch deletes leaked a hidden .tmp on the unexpected paths
        try java.nio.file.Files.createLink(local, temp)
        catch {
          case e: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(e.getFile)
        } finally java.nio.file.Files.deleteIfExists(temp)
      } else {
        val out = fs.create(path, overwrite)
        try lines.foreach(l => out.write((l + "\n").getBytes(UTF_8)))
        finally out.close()
      }
      ObjectStoreLogStore.writtenPaths.put(
        path.toUri.toString, java.lang.Long.valueOf(System.currentTimeMillis()))
    }
  }

  override def listFrom(path: Path, conf: Configuration): Iterator[FileStatus] = {
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path.getParent)) {
      throw new FileNotFoundException(s"No such directory: ${path.getParent}")
    }
    // merge the listing with the write-cache (resolving just-written
    // paths through getFileStatus) so our own commits are always visible;
    // the merge de-duplicates by FILE NAME (unique within the directory —
    // immune to scheme/authority spelling differences between the two)
    val listed = fs.listStatus(path.getParent)
      .filter(_.getPath.getName >= path.getName)
    val parent = path.getParent.toUri.toString
    ObjectStoreLogStore.pruneExpired()
    val cached = ObjectStoreLogStore.writtenPaths.keySet().iterator()
    val extra = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    while (cached.hasNext) {
      val p = cached.next()
      if (p.startsWith(parent)) {
        val hp = new Path(new java.net.URI(p))
        if (hp.getParent.toUri.toString == parent &&
            hp.getName >= path.getName && fs.exists(hp)) {
          extra += fs.getFileStatus(hp)
        }
      }
    }
    (listed ++ extra).groupBy(_.getPath.getName).toSeq
      .sortBy(_._1).iterator.map(_._2.head)
  }

  override def isPartialWriteVisible(path: Path, conf: Configuration): Boolean =
    false
}

object ObjectStoreLogStore {
  private[storage] val lock = new Object
  private[delta] val writtenPaths =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]

  /** Entries only matter while the store's own listing may still be
    * stale; the reference expires its write cache the same way
    * (S3SingleDriverLogStore's timestamp-pruned cache). Without a TTL a
    * long-lived writer JVM grows the map with every commit and listFrom
    * degrades linearly with total commits across all tables. */
  private[delta] val cacheTtlMillis: Long = 2L * 60 * 60 * 1000
  private[delta] def pruneExpired(
      now: Long = System.currentTimeMillis()): Unit = {
    val it = writtenPaths.entrySet().iterator()
    while (it.hasNext) {
      if (now - it.next().getValue > cacheTtlMillis) it.remove()
    }
  }
}

object LogStore {
  /** Scheme-based selection (ref DelegatingLogStore.scala:33-135,
    * LogStoreProvider.scala): rename-atomic filesystems (local, HDFS,
    * abfs[s] — Azure rename is atomic) use the rename store; S3-style
    * object stores get the put-if-absent emulation. A per-scheme override
    * (`graft.logStore.<scheme>.impl` in the Hadoop conf) wins. */
  def forPath(path: Path, conf: Configuration = new Configuration()): LogStore = {
    val scheme = Option(path.toUri.getScheme).getOrElse("file").toLowerCase
    Option(conf.get(s"graft.logStore.$scheme.impl")) match {
      case Some(cls) =>
        Class.forName(cls).getDeclaredConstructor().newInstance()
          .asInstanceOf[LogStore]
      case None => scheme match {
        case "s3" | "s3a" | "s3n" | "gs" | "oss" => new ObjectStoreLogStore
        case _ => new HadoopFileSystemLogStore
      }
    }
  }

  /** The engine's one local-scheme predicate: whether `path` lives on
    * the local filesystem, so java.nio may stand in for Hadoop IO. A
    * scheme-less path resolves against `fs` (what `path.getFileSystem`
    * returned: the default FS), never against a hard-coded `file` — under
    * a non-local `fs.defaultFS`, `/tmp/x` is not local. */
  private[delta] def isLocalScheme(path: Path, fs: FileSystem): Boolean =
    "file".equalsIgnoreCase(
      Option(path.toUri.getScheme).getOrElse(fs.getUri.getScheme))

  /** Local-scheme write through java.nio — identical protocol to the
    * Hadoop route (temp in the destination directory, atomic publish,
    * FileAlreadyExistsException on a lost race), none of the per-file
    * fork+exec chmod or .crc sidecar cost of Hadoop's checksummed local
    * FS. Overwrite=true (e.g. `_last_checkpoint`) publishes by ATOMIC_MOVE
    * so readers never observe a torn file (stronger than the Hadoop
    * route's in-place truncate+write), and drops any stale Hadoop .crc
    * sidecar so a later checksummed read cannot mismatch. */
  private[storage] def writeLocalNio(path: Path, lines: Iterator[String],
                                     overwrite: Boolean): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
    val dest = Paths.get(path.toUri.getPath)
    val parent = dest.getParent
    if (parent != null && !Files.isDirectory(parent)) Files.createDirectories(parent)
    if (!overwrite && Files.exists(dest)) {
      throw new FileAlreadyExistsException(path.toString)
    }
    val temp = dest.resolveSibling(
      s".${dest.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    // ONE try/finally spans both the byte-write and the publish: a write
    // failure (disk full) must not orphan the temp any more than a lost
    // publish race does
    try {
      val out = Files.newOutputStream(temp,
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      try {
        val buffered = new java.io.BufferedOutputStream(out, 64 * 1024)
        lines.foreach(l => buffered.write((l + "\n").getBytes(UTF_8)))
        buffered.flush()
      } finally out.close()
      if (overwrite) {
        // a pre-NIO Hadoop write may have left a checksum sidecar; it
        // would mismatch the new bytes under a checksummed reader
        Files.deleteIfExists(dest.resolveSibling(s".${dest.getFileName}.crc"))
        Files.move(temp, dest, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
      } else {
        // link(2), not rename(2): POSIX rename silently REPLACES an
        // existing destination, so two PROCESSES that both pass the
        // exists() pre-check could both "succeed" and one commit is
        // clobbered (CrossProcessCommitSpec: 24 racing commits, version
        // 23). createLink is the atomic no-overwrite primitive: exactly
        // one winner, EEXIST for the loser, content fully visible at
        // publish (the link IS the written temp's inode).
        try Files.createLink(dest, temp)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(path.toString)
          case _: UnsupportedOperationException | _: java.io.IOException =>
            // mounts without hard-link support (overlayfs/NFS/SMB/FAT):
            // degrade to a no-replace move, matching the Hadoop route's
            // rename fallback; a move that loses the race surfaces as
            // FileAlreadyExistsException below
            try Files.move(temp, dest)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(path.toString)
            }
        }
      }
    } finally Files.deleteIfExists(temp)
  }
}
