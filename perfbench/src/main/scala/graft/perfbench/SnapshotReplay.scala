package graft.perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.delta._

/** A history table of 44 commits (appends, partition
  * overwrites that leave tombstones, deletion-vector deletes, a checkpoint
  * every ten versions), read by one client: cold loads, time travel,
  * pruned file listings and a filtered aggregate. Nothing is written
  * while timing.
  *
  * The data files are written up front on the driver; the history is
  * then committed through OptimisticTransaction over those files, so the
  * fixture costs a few seconds rather than one write job per commit. */
object SnapshotReplay {
  val Partitions = 20
  val FilesPerPartition = 20
  val AppendFiles = 6
  val OverwriteFiles = 3
  val RowsPerFile = 40
  val Commits = 44
  /** Versions (1-based commit index) that are DV deletes, not file commits. */
  val DeleteCommits = Set(18, 35)
  val DeleteModulus = 7
  /** v of file f lies in [f * VSpan, f * VSpan + VSpan), so stats prune. */
  val VSpan = 1000L

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType),
    StructField("s", StringType), StructField("p", IntegerType)))

  def fileOf(id: Long): Int = (id / RowsPerFile).toInt
  def partOf(f: Int): Int = f % Partitions
  def vOf(seed: Long, id: Long): Long =
    fileOf(id) * VSpan + Math.floorMod(id * 7919L + seed * 104729L, VSpan)
  def ids(f: Int): Range.Inclusive =
    (f * RowsPerFile) to (f * RowsPerFile + RowsPerFile - 1)

  sealed trait Step
  final case class Commit(adds: Seq[Int], removes: Seq[Int]) extends Step
  final case class DvDelete(partition: Int, residue: Int) extends Step

  /** The whole history as a pure function of the seed, plus what it
    * leaves: active files per version and which rows each delete hid. */
  final class Plan(val seed: Long) {
    val steps: Vector[Step] = {
      val rnd = new scala.util.Random(seed)
      val unused = Array.tabulate(Partitions)(q =>
        mutable.Queue((0 until FilesPerPartition).map(i => i * Partitions + q): _*))
      val active = mutable.Set.empty[Int]
      val deleted = mutable.Set.empty[(Int, Int)]
      var appends = 0
      var overwrites = 0
      (1 to Commits).map { c =>
        if (DeleteCommits(c)) {
          // a (partition, residue) not deleted before, so the delete
          // matches rows and commits
          val (q, r) = rnd.shuffle(for {
            q <- (0 until Partitions).filter(q => active.exists(partOf(_) == q))
            r <- 0 until DeleteModulus if !deleted((q, r))
          } yield (q, r)).head
          deleted += ((q, r))
          DvDelete(q, r)
        } else if (c % 4 == 0) {
          // a partition overwrite: its live files become tombstones. The
          // partitions go in a fixed rotation, and never one with deletion
          // vectors, so every seed's table keeps the same shape (and its
          // shaded files) at the latest version
          val q = Iterator.iterate(overwrites * 7)(_ + 7).take(Partitions).map(_ % Partitions).find(q =>
            active.exists(partOf(_) == q) && unused(q).size >= OverwriteFiles &&
              !deleted.exists(_._1 == q)).get
          overwrites += 1
          val removes = active.filter(partOf(_) == q).toVector.sorted
          val adds = Vector.fill(OverwriteFiles)(unused(q).dequeue())
          active --= removes; active ++= adds
          Commit(adds, removes)
        } else {
          // an append of one file to each of AppendFiles partitions, taken
          // in turn so partitions stay the same size whatever the seed
          val adds = (0 until AppendFiles).map(i => (appends * AppendFiles + i) % Partitions)
            .filter(unused(_).nonEmpty).map(unused(_).dequeue())
          appends += 1
          active ++= adds
          Commit(adds, Nil)
        }
      }.toVector
    }

    /** Active file set after each version (index = version, v0 = create). */
    val activeAt: Vector[Set[Int]] = steps.scanLeft(Set.empty[Int]) {
      case (act, Commit(a, r)) => act -- r ++ a
      case (act, _: DvDelete) => act
    }

    /** file -> residues deleted from it while it was active. */
    val deletedResidues: Map[Int, Set[Int]] = {
      val m = mutable.Map.empty[Int, Set[Int]].withDefaultValue(Set.empty)
      steps.zipWithIndex.foreach {
        case (DvDelete(q, r), i) =>
          activeAt(i).filter(partOf(_) == q).foreach(f => m(f) = m(f) + r)
        case _ =>
      }
      m.toMap
    }

    def latest: Int = steps.size

    def liveRows(f: Int): Seq[Long] = {
      val gone = deletedResidues.getOrElse(f, Set.empty)
      ids(f).map(_.toLong).filterNot(id => gone((id % DeleteModulus).toInt))
    }

    def vRange(f: Int): (Long, Long) = SnapshotReplay.vRange(seed, f)
  }

  /** A read: partitions `qs` and v in [lo, hi]. */
  final case class Filter(qs: Seq[Int], lo: Long, hi: Long) {
    def column: Column = col("p").isin(qs: _*) && col("v").between(lo, hi)
  }

  def randomFilter(rnd: scala.util.Random): Filter = {
    val qs = rnd.shuffle((0 until Partitions).toVector).take(3).sorted
    val span = Partitions * FilesPerPartition * VSpan
    val lo = (rnd.nextDouble() * span * 0.5).toLong
    Filter(qs, lo, lo + span / 2)
  }

  def expectedListing(plan: Plan, version: Int, f: Filter): Int =
    plan.activeAt(version).count { file =>
      val (mn, mx) = plan.vRange(file)
      f.qs.contains(partOf(file)) && mx >= f.lo && mn <= f.hi
    }

  def expectedScan(plan: Plan, f: Filter): (Long, Long) = {
    val vs = plan.activeAt(plan.latest).toSeq.filter(file => f.qs.contains(partOf(file)))
      .flatMap(plan.liveRows).map(vOf(plan.seed, _)).filter(v => v >= f.lo && v <= f.hi)
    (vs.size.toLong, vs.sum)
  }

  private val FileSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    "message row { optional int64 id; optional int64 v; optional binary s (UTF8); }")

  /** Writes data file f with parquet's own example writer: a 40-row file
    * through a Spark job costs tens of milliseconds of task scaffolding,
    * which across hundreds of files would make the fixture the run. */
  private def writeDataFile(path: java.nio.file.Path, seed: Long, f: Int): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.parquet.io.LocalOutputFile(path))
      .withConf(new org.apache.hadoop.conf.Configuration(false))
      .withType(FileSchema)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    val rows = new org.apache.parquet.example.data.simple.SimpleGroupFactory(FileSchema)
    try ids(f).foreach { id =>
      w.write(rows.newGroup().append("id", id.toLong).append("v", vOf(seed, id)).append("s", s"row-$id"))
    } finally w.close()
  }

  /** Stats of data file f in the log's format, from the generator: the
    * engine's footer reader costs 10-20 ms a file, which across hundreds
    * of files would dominate the fixture. `s` has no min/max, so it is
    * never used to skip. */
  def statsJson(seed: Long, f: Int): String = {
    val (vMin, vMax) = vRange(seed, f)
    s"""{"numRecords":$RowsPerFile,"minValues":{"id":${ids(f).head},"v":$vMin},""" +
      s""""maxValues":{"id":${ids(f).last},"v":$vMax},"nullCount":{"id":0,"v":0,"s":0}}"""
  }

  def vRange(seed: Long, f: Int): (Long, Long) = {
    val vs = ids(f).map(id => vOf(seed, id.toLong)); (vs.min, vs.max)
  }

  /** Fixture: every data file written up front, then the planned history
    * committed over them. Returns the plan the history followed. */
  def setup(spark: SparkSession, dir: String, seed: Long): Plan = {
    val plan = new Plan(seed)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    val byFile: Map[Int, AddFile] =
      try {
        (0 until Partitions * FilesPerPartition).map { f =>
          f -> pool.submit(() => {
            val rel = s"p=${partOf(f)}/part-$f.parquet"
            val local = java.nio.file.Paths.get(dir, rel)
            writeDataFile(local, seed, f)
            AddFile(path = rel, partitionValues = Map("p" -> partOf(f).toString),
              size = java.nio.file.Files.size(local),
              modificationTime = java.nio.file.Files.getLastModifiedTime(local).toMillis,
              dataChange = true,
              stats = Some(statsJson(seed, f)))
          })
        }.map { case (f, fut) => f -> fut.get() }.toMap
      } finally pool.shutdown()
    def add(f: Int): AddFile = byFile(f)

    DeltaTable.create(spark, dir, Schema, partitionBy = Seq("p"),
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    val log = DeltaLog.forTable(spark, dir)
    val table = DeltaTable.forPath(spark, dir)
    plan.steps.foreach {
      case Commit(adds, removes) =>
        val now = System.currentTimeMillis()
        val txn = log.startTransaction()
        // remove the live entries, which carry any deletion vector a
        // delete gave them (replay keys files by path and DV)
        val gone = removes.map(add(_).path).toSet
        val live = if (gone.isEmpty) Nil else txn.snapshot.allFiles.filter(f => gone(f.path))
        require(live.size == removes.size, s"overwrite found ${live.size} of ${removes.size} files")
        txn.commit(live.map(_.remove(now)) ++ adds.map(add),
          if (removes.isEmpty) DeltaOperations.Write else DeltaOperations.ReplaceWhere)
      case DvDelete(q, r) =>
        table.delete(col("p") === q && pmod(col("id"), lit(DeleteModulus.toLong)) === r.toLong)
    }
    val v = log.update().version
    require(v == plan.latest, s"history ended at version $v, planned ${plan.latest}")
    plan
  }

  sealed trait Read { def kind: String }
  case object ColdLoad extends Read { def kind = "cold_load" }
  final case class TimeTravel(version: Int) extends Read { def kind = "time_travel" }
  final case class Listing(f: Filter) extends Read { def kind = "listing" }
  final case class Scan(f: Filter) extends Read { def kind = "scan" }

  /** The read-only mix: blocks of four in a fixed order, a cold load
    * first (so every other read in the block starts from the same warm
    * log); the seed draws each read's version or filter. */
  final class Reads(seed: Long, latest: Int) {
    private val rnd = new scala.util.Random(seed ^ 0x5eedL)
    private val versions = Reads.stride(rnd.nextInt(latest), latest).map(_ + 1)
    private var block = List.empty[Read]
    def next(): Read = {
      if (block.isEmpty) block = List(ColdLoad,
        TimeTravel(versions.next()), Listing(randomFilter(rnd)), Scan(randomFilter(rnd)))
      val r = block.head
      block = block.tail
      r
    }
  }

  object Reads {
    /** 0 until n from a seeded start with a stride coprime to n: any run of
      * consecutive draws spreads evenly over the range, so the versions a
      * run travels to do not depend on the seed's luck. */
    def stride(start: Int, n: Int): Iterator[Int] = {
      val step = Iterator.from(n / 3 + 1).find(k => BigInt(k).gcd(n) == 1).get
      Iterator.iterate(start % n)(i => (i + step) % n)
    }
  }

  def run(h: Harness, dir: String, plan: Plan, r: Read): Boolean = {
    val spark = h.spark
    r match {
      case ColdLoad =>
        DeltaLog.clearCache()
        h.op(r.kind, "cold load") {
          val n = DeltaLog.forTable(spark, dir).update().numOfFiles
          () => Verified.expectEq("numOfFiles", n, plan.activeAt(plan.latest).size.toLong)
        }
      case TimeTravel(v) =>
        h.op(r.kind, s"time travel v$v") {
          val n = DeltaLog.forTable(spark, dir).getSnapshotForVersionAsOf(v).numOfFiles
          () => Verified.expectEq(s"numOfFiles@v$v", n, plan.activeAt(v).size.toLong)
        }
      case Listing(f) =>
        h.op(r.kind, s"listing $f") {
          val table = DeltaTable.forPath(spark, dir)
          val scan = table.scan(f.column)
          val snap = table.deltaLog.update()
          val kept = new graft.delta.read.DeltaFileIndex(spark, snap)
            .listFiles(scan.pushedPredicates, scan.residualPredicates).map(_.files.size).sum
          () => Verified.expectEq("listed files", kept.toLong,
            expectedListing(plan, plan.latest, f).toLong).copy(counters = Map(
            "files_kept" -> kept.toDouble, "files_active" -> snap.numOfFiles.toDouble))
        }
      case Scan(f) =>
        h.op(r.kind, s"scan $f") {
          val df = DeltaTable.forPath(spark, dir).toDF.filter(f.column)
            .agg(count(lit(1)), coalesce(sum("v"), lit(0L)))
          val row = df.collect().head
          () => {
            val (c, s) = expectedScan(plan, f)
            val v = Verified.expectEq("count", row.getLong(0), c)
            v.copy(problems = v.problems ++ Verified.expectEq("sum", row.getLong(1), s).problems,
              counters = Map("files_read" -> filesRead(df),
                "files_active" -> plan.activeAt(plan.latest).size.toDouble))
          }
        }
    }
  }

  /** Files the executed scan opened, from its FileSourceScanExec metric. */
  def filesRead(df: org.apache.spark.sql.DataFrame): Double = {
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    helper.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum.toDouble
  }
}
