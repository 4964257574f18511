package graft.delta

import java.io.File

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

import graft.SparkSpec
import graft.delta.storage.LogStore
import graft.delta.write.{LocalParquet, StatsCollector}

/** A filesystem that is local underneath but NOT the local scheme
  * (`nonlocal:///`), recording every path it opens, creates or renames
  * into — a read or write that bypasses it through java.nio leaves no
  * trace here. */
class NonLocalFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("nonlocal:///")
  override def getScheme: String = "nonlocal"

  override def open(f: Path, bufferSize: Int) = {
    NonLocalFs.touched.add(f.toUri.getPath); super.open(f, bufferSize)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable) = {
    NonLocalFs.touched.add(f.toUri.getPath)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path,
                      permission: org.apache.hadoop.fs.permission.FsPermission,
                      overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable) = {
    NonLocalFs.touched.add(f.toUri.getPath)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    NonLocalFs.touched.add(dst.toUri.getPath); super.rename(src, dst)
  }
  // the local statuses load permissions lazily through java.io.File,
  // which refuses a non-`file` URI: hand out plain statuses instead
  private def plain(st: FileStatus) = new FileStatus(st.getLen,
    st.isDirectory, st.getReplication, st.getBlockSize,
    st.getModificationTime, st.getPath)
  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(plain)
}

object NonLocalFs {
  val touched: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def sawName(pred: String => Boolean): Boolean = {
    import scala.jdk.CollectionConverters._
    touched.asScala.exists(p => pred(new Path(p).getName))
  }
}

/** Under a non-local `fs.defaultFS`, a scheme-less path such as `/tmp/x`
  * belongs to that filesystem: the engine's one local-scheme predicate
  * must say so, and no artifact of a table there may be read or written
  * through java.nio (which would touch a same-named local file instead). */
class NonLocalDefaultFsSpec extends SparkSpec {
  import spark.implicits._

  private def withNonLocalDefaultFs[T](f: => T): T = {
    spark.conf.set("fs.defaultFS", "nonlocal:///")
    spark.conf.set("fs.nonlocal.impl", classOf[NonLocalFs].getName)
    DeltaLog.clearCache()
    try f
    finally {
      spark.conf.unset("fs.defaultFS")
      spark.conf.unset("fs.nonlocal.impl")
      DeltaLog.clearCache()
    }
  }

  test("a scheme-less path under a non-local default FS is not local, " +
      "and its table never takes the java.nio path") {
    withTempDir { dir =>
      withNonLocalDefaultFs {
        val conf = spark.sessionState.newHadoopConf()
        val bare = new Path(dir, "t") // no scheme
        val fs = bare.getFileSystem(conf)
        assert(fs.getUri.getScheme == "nonlocal")
        assert(!LogStore.isLocalScheme(bare, fs))
        assert(!LocalParquet.onDriver(Seq(bare), fs, Some(1L), 10L))
        assert(LogStore.isLocalScheme(new Path("file:" + dir), fs))

        // classic checkpoint at v2, written and read back through the FS
        val cfg = Map("delta.checkpointInterval" -> "2")
        (0 until 3).foreach(i => DeltaTable.write(
          Seq((i, s"r$i")).toDF("v", "s"), bare.toString, configuration = cfg))
        assert(NonLocalFs.sawName(_ == "00000000000000000001.json"))
        assert(NonLocalFs.sawName(_ == "00000000000000000002.checkpoint.parquet"))
        assert(NonLocalFs.sawName(_ == "_last_checkpoint"))
        DeltaLog.clearCache()
        NonLocalFs.touched.clear()
        assert(DeltaTable.forPath(spark, bare.toString).toDF.count() == 3)
        assert(NonLocalFs.sawName(_ == "00000000000000000002.checkpoint.parquet"),
          "the checkpoint was not read through the table's filesystem")

        // footer stats of a data file named without a scheme
        val data = {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(new File(dir, "t").toPath).iterator.asScala
            .map(_.toFile).find(f => f.getName.endsWith(".parquet") &&
              !f.getPath.contains("_delta_log")).get
        }
        NonLocalFs.touched.clear()
        val stats = StatsCollector.collect(new Path(data.getAbsolutePath),
          DeltaLog.forTable(spark, bare.toString).update().metadata.dataSchema,
          conf)
        assert(stats.exists(_.contains("numRecords")))
        assert(NonLocalFs.sawName(_ == data.getName),
          "footer stats bypassed the filesystem")

        // a V2 checkpoint main file named without a scheme
        val v2 = new Path(dir, "v2")
        (0 until 3).foreach(i => DeltaTable.write(Seq(i).toDF("v"),
          v2.toString, configuration = cfg + ("delta.checkpointPolicy" -> "v2")))
        val main = new File(dir, "v2/_delta_log").listFiles()
          .filter(f => FileNames.isV2CheckpointFile(new Path(f.getName)))
          .head
        NonLocalFs.touched.clear()
        val parsed = V2Checkpoints.readMain(spark, new Path(v2, "_delta_log"),
          new FileStatus(main.length(), false, 1, 0L, 0L,
            new Path(main.getAbsolutePath)), conf)
        assert(parsed.actions.exists(_.isInstanceOf[Metadata]))
        assert(parsed.sidecars.nonEmpty)
        assert(NonLocalFs.sawName(_ == main.getName),
          "the V2 main file bypassed the filesystem")
      }
    }
  }
}
