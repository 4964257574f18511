package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.delta._

/** A log-only table whose state is larger than the engine keeps on the
  * driver: ghost AddFiles (with stats, no data behind them) in plain JSON
  * commits and no checkpoint. Its log exceeds the driver-state bound, so
  * the file state is replayed and pruned as Spark jobs
  * (DistributedLogReplay). Any read of ghost data fails loudly.
  *
  * The bound is lowered for this workload (`DriverStateBytes`), so a log
  * of a few MB takes the distributed path a 128 MiB log takes at the
  * default bound, in a fraction of the time. */
object LargeLog {
  val GhostPartitions = 50
  val Commits = 20
  val GhostsPerCommit = 1000
  val Ghosts: Int = Commits * GhostsPerCommit
  val RealRows = 20
  /** Ghost stats: each ghost covers v in [lo, lo + GhostSpan). */
  val GhostSpan = 10L
  val GhostBase = 1000L
  val DriverStateBytes: Long = 1L * 1024 * 1024
  val Conf: Map[String, String] =
    Map(Snapshot.DriverStateMaxBytesKey -> DriverStateBytes.toString)

  final case class Ghost(id: Int, partition: Int, lo: Long)

  /** Ghost i of commit c, as a pure function of the seed. */
  final class Plan(val seed: Long) {
    private val rnd = new scala.util.Random(seed)
    val ghosts: Vector[Vector[Ghost]] = Vector.tabulate(Commits) { c =>
      Vector.tabulate(GhostsPerCommit) { i =>
        val id = c * GhostsPerCommit + i
        Ghost(id, rnd.nextInt(GhostPartitions), GhostBase + rnd.nextInt(Ghosts) * GhostSpan)
      }
    }
    /** Version 0 holds the real files; ghost commit c is version c + 1. */
    def latest: Int = Commits
    def realFiles: Int = 1
    def filesAt(version: Int): Long = realFiles + version.toLong * GhostsPerCommit
    def ghostsAt(version: Int): Iterator[Ghost] = ghosts.iterator.take(version).flatten
  }

  def setup(spark: SparkSession, dir: String, seed: Long): Plan = {
    import spark.implicits._
    val plan = new Plan(seed)
    DeltaTable.write((1 to RealRows).map(i => (i.toLong, "real")).toDF("v", "p").coalesce(1),
      dir, partitionBy = Seq("p"),
      configuration = Map("delta.checkpointInterval" -> "1000000"))
    val log = DeltaLog.forTable(spark, dir)
    plan.ghosts.foreach { batch =>
      log.startTransaction().commit(batch.map { g =>
        AddFile(path = s"p=ghost${g.partition}/part-${g.id}.parquet",
          partitionValues = Map("p" -> s"ghost${g.partition}"),
          size = 10L * 1024 * 1024 * 1024, modificationTime = 1L, dataChange = true,
          stats = Some(s"""{"numRecords":10,"minValues":{"v":${g.lo}},""" +
            s""""maxValues":{"v":${g.lo + GhostSpan - 1}},"nullCount":{"v":0}}"""))
      }, DeltaOperations.ManualUpdate)
    }
    val version = log.update().version
    val (_, logBytes) = LogFiles.loadSet(spark, dir)
    require(version == plan.latest && logBytes > DriverStateBytes,
      s"large_log fixture at v$version with $logBytes log bytes; the bound is $DriverStateBytes")
    plan
  }

  sealed trait Read { def kind: String }
  case object ColdLoad extends Read { def kind = "cold_load" }
  final case class TimeTravel(version: Int) extends Read { def kind = "time_travel" }
  final case class PartitionListing(partition: Int) extends Read { def kind = "listing" }
  final case class StatsListing(lo: Long, hi: Long) extends Read { def kind = "stats_listing" }

  /** Blocks of four in a fixed order, a cold load first, so every listing
    * runs against the state the cold load left; the seed draws each
    * read's version, partition or range. */
  final class Reads(seed: Long) {
    private val rnd = new scala.util.Random(seed ^ 0x1a26eL)
    // middle versions, spread evenly over a run
    private val versions = SnapshotReplay.Reads.stride(rnd.nextInt(Commits / 2), Commits / 2)
      .map(_ + Commits / 4)
    private var block = List.empty[Read]
    def next(): Read = {
      if (block.isEmpty) {
        val lo = GhostBase + rnd.nextInt(Ghosts) * GhostSpan
        block = List(ColdLoad,
          TimeTravel(versions.next()),
          PartitionListing(rnd.nextInt(GhostPartitions)),
          StatsListing(lo, lo + Ghosts / 100 * GhostSpan))
      }
      val r = block.head
      block = block.tail
      r
    }
  }

  def run(h: Harness, dir: String, plan: Plan, r: Read): Boolean = {
    val spark = h.spark
    r match {
      case ColdLoad =>
        DeltaLog.clearCache()
        h.op(r.kind, "cold load") {
          val n = DeltaLog.forTable(spark, dir).update().numOfFiles
          () => Verified.expectEq("numOfFiles", n, plan.filesAt(plan.latest))
        }
      case TimeTravel(v) =>
        h.op(r.kind, s"time travel v$v") {
          val n = DeltaLog.forTable(spark, dir).getSnapshotForVersionAsOf(v).numOfFiles
          () => Verified.expectEq(s"numOfFiles@v$v", n, plan.filesAt(v))
        }
      case PartitionListing(q) =>
        h.op(r.kind, s"partition listing p=ghost$q") {
          val n = DeltaTable.forPath(spark, dir).scan(col("p") === s"ghost$q").getFiles.size
          () => Verified.expectEq("listed files", n.toLong,
            plan.ghostsAt(plan.latest).count(_.partition == q).toLong)
            .copy(counters = Map("files_kept" -> n.toDouble,
              "files_active" -> plan.filesAt(plan.latest).toDouble))
        }
      case StatsListing(lo, hi) =>
        h.op(r.kind, s"stats listing v in [$lo, $hi]") {
          val table = DeltaTable.forPath(spark, dir)
          val scan = table.scan(col("v").between(lo, hi))
          val n = new graft.delta.read.DeltaFileIndex(spark, table.deltaLog.update())
            .listFiles(scan.pushedPredicates, scan.residualPredicates).map(_.files.size).sum
          () => {
            val want = plan.ghostsAt(plan.latest)
              .count(g => g.lo + GhostSpan - 1 >= lo && g.lo <= hi) +
              (if (RealRows >= lo && 1 <= hi) plan.realFiles else 0)
            Verified.expectEq("stats-listed files", n.toLong, want.toLong)
              .copy(counters = Map("files_kept" -> n.toDouble,
                "files_active" -> plan.filesAt(plan.latest).toDouble))
          }
        }
    }
  }
}
