package graft.perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.delta.{DeltaLog, DeltaTable, FileNames}

/** Two writers, each owning one partition `w` of a lineitem-shaped table
  * with deletion vectors on and the default checkpoint interval. Each
  * writer runs its own seeded op stream in a closed loop; the second
  * writer makes the commit-version race and the conflict check run. */
object CommitLoop {
  val Writers = 2
  val SliceRows = 1500
  val MergeUpdates = 250
  val MergeInserts = 250
  /** DELETE removes the live keys with `k % DeleteModulus == residue`. */
  val DeleteModulus = 20
  /** Keys of writer w are w * KeySpace + n, so writers never collide. */
  val KeySpace = 1000000000L

  sealed trait Op { def kind: String }
  final case class Append(from: Long, rows: Int) extends Op { def kind = "append" }
  final case class Merge(updates: Seq[Long], insertFrom: Long, inserts: Int)
    extends Op { def kind = "merge" }
  final case class Delete(residue: Int) extends Op { def kind = "delete" }

  /** Live keys of one writer and their update counts (`rev`). */
  final class Ledger(val writer: Int) {
    val live = mutable.TreeMap.empty[Long, Int]
    var nextKey: Long = writer * KeySpace

    def apply(op: Op): Unit = op match {
      case Append(from, n) =>
        (from until from + n).foreach(k => live(k) = 0)
        nextKey = math.max(nextKey, from + n)
      case Merge(updates, from, n) =>
        updates.foreach(k => live(k) = live(k) + 1)
        (from until from + n).foreach(k => live(k) = 0)
        nextKey = math.max(nextKey, from + n)
      case Delete(r) =>
        live.keys.filter(k => k % DeleteModulus == r).toVector.foreach(live.remove)
    }

    def snapshot: Map[Long, Int] = live.toMap
  }

  /** Where MERGE and DELETE sit in each block of ten ops; the rest are
    * appends. The positions are fixed and the seed draws every op's data,
    * so each run commits the same kinds in the same order and its op mix
    * does not depend on the seed. The writers' DMLs are staggered. */
  def dmlSlots(writer: Int): (Int, Int) = if (writer % 2 == 0) (3, 8) else (5, 0)

  /** One writer's op stream: blocks of ten ops (8 appends, 1 MERGE, 1
    * DELETE). Op parameters depend on the ledger, so the caller applies
    * each op to the ledger once it has committed. */
  final class Generator(seed: Long, val writer: Int) {
    private val rnd = new scala.util.Random(seed * 1000003L + writer)
    private var n = 0

    def next(ledger: Ledger): Op = {
      val (mergeAt, deleteAt) = dmlSlots(writer)
      val slot = n % 10
      n += 1
      if (slot == mergeAt) {
        // an upsert of one earlier batch: a run of consecutive live keys
        val keys = ledger.live.keys.toVector
        val from = rnd.nextInt(math.max(1, keys.size - MergeUpdates))
        Merge(keys.slice(from, from + MergeUpdates), ledger.nextKey, MergeInserts)
      } else if (slot == deleteAt) {
        // only residues with live keys, so every DELETE shades rows and
        // commits a version
        val residues = ledger.live.keys.map(k => (k % DeleteModulus).toInt).toSet.toVector.sorted
        Delete(residues(rnd.nextInt(residues.size)))
      } else Append(ledger.nextKey, SliceRows)
    }
  }

  /** Lineitem-shaped rows for the keys in column `k`; every value is a
    * function of (seed, k, rev), so a ledger fully determines the table. */
  def rows(keys: DataFrame, seed: Long, writer: Int, rev: Column): DataFrame = {
    def h(salt: Int, n: Long): Column = pmod(xxhash64(lit(seed), lit(salt), col("k")), lit(n))
    keys.select(
      lit(writer).as("w"), col("k"), rev.as("rev"),
      h(1, 150000).as("l_orderkey"),
      h(2, 20000).as("l_partkey"),
      h(3, 1000).as("l_suppkey"),
      (h(4, 7) + 1).cast("int").as("l_linenumber"),
      (h(5, 50) + 1).cast("double").as("l_quantity"),
      (h(6, 10000000) / 100.0).as("l_extendedprice"),
      (h(7, 11) / 100.0).as("l_discount"),
      (h(8, 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (h(9, 3) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (h(10, 2) + 1).cast("int")).as("l_linestatus"),
      date_add(lit(java.sql.Date.valueOf("1992-01-01")), h(11, 2500).cast("int")).as("l_shipdate"),
      concat(lit("c"), h(12, 100000).cast("string"), lit(" "), h(13, 977).cast("string"))
        .as("l_comment"))
  }

  def slice(spark: SparkSession, seed: Long, writer: Int, from: Long, n: Int): DataFrame =
    rows(spark.range(from, from + n).toDF("k"), seed, writer, lit(0))

  val TableConf = Map("delta.enableDeletionVectors" -> "true")

  /** Fixture: the table with one seed slice per writer, then one DELETE,
    * whose deletion vector upgrades the protocol before the writers start
    * (an upgrade mid-loop would fail the other writer's commit). */
  def setup(spark: SparkSession, dir: String, seed: Long): Seq[Ledger] = {
    val ledgers = (0 until Writers).map(new Ledger(_))
    val first = ledgers.map { l =>
      val op = Append(l.nextKey, SliceRows); l(op); slice(spark, seed, l.writer, op.from, op.rows)
    }.reduce(_ unionByName _)
    DeltaTable.write(first, dir, partitionBy = Seq("w"), configuration = TableConf)
    val shade = Delete((seed % DeleteModulus).toInt)
    execute(spark, dir, seed, 0, shade)
    ledgers.head(shade)
    ledgers
  }

  def execute(spark: SparkSession, dir: String, seed: Long, writer: Int, op: Op): Long = op match {
    case Append(from, n) => DeltaTable.write(slice(spark, seed, writer, from, n), dir)
    case Merge(updates, from, n) =>
      import spark.implicits._
      val src = rows(updates.toDF("k"), seed, writer, lit(0))
        .unionByName(slice(spark, seed, writer, from, n))
      DeltaTable.forPath(spark, dir)
        .merge(src, col("t.w") === lit(writer) && col("s.w") === lit(writer) &&
          col("t.k") === col("s.k"))
        .whenMatchedUpdate(Map(
          "rev" -> (col("t.rev") + 1),
          "l_quantity" -> col("s.l_quantity"),
          "l_comment" -> col("s.l_comment")))
        .whenNotMatchedInsertAll()
        .execute()
    case Delete(r) =>
      DeltaTable.forPath(spark, dir)
        .delete(col("w") === lit(writer) && pmod(col("k"), lit(DeleteModulus.toLong)) === lit(r.toLong))
  }

  final case class Committed(writer: Int, kind: String, version: Long)

  /** Runs both writers until the deadline; returns each writer's ledger
    * (ops applied only once committed) and the versions they committed. */
  def loop(h: Harness, dir: String, seed: Long, ledgers: Seq[Ledger],
           seconds: Int): (Seq[Committed], Double) = {
    val spark = h.spark
    val committed = new java.util.concurrent.ConcurrentLinkedQueue[Committed]()
    val startVersion = DeltaLog.forTable(spark, dir).update().version
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val threads = ledgers.map { ledger =>
      val gen = new Generator(seed, ledger.writer)
      new Thread(() => {
        var seen = startVersion
        while (System.nanoTime() < deadline) {
          val op = gen.next(ledger)
          var version = -1L
          val ok = h.op(op.kind, s"w${ledger.writer} ${op.getClass.getSimpleName}") {
            version = execute(spark, dir, seed, ledger.writer, op)
            () => Verified(counters = Map("version_gap" -> math.max(0L, version - seen - 1).toDouble))
          }
          if (ok) {
            ledger(op)
            committed.add(Committed(ledger.writer, op.kind, version))
            seen = version
          }
        }
      }, s"perfbench-writer-${ledger.writer}")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    import scala.jdk.CollectionConverters._
    (committed.asScala.toVector, wall)
  }

  /** Checks, outside the timed region: a fresh DeltaLog sees contiguous
    * versions ending at the last committed one, the live rows match the
    * ledgers exactly, and every AddFile exists on disk. */
  def check(spark: SparkSession, dir: String, ledgers: Seq[Ledger],
            committed: Seq[Committed]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    DeltaLog.clearCache()
    val log = DeltaLog.forTable(spark, dir)
    val snap = log.update()
    val fs = log.logPath.getFileSystem(log.hadoopConf)
    val versions = fs.listStatus(log.logPath).map(_.getPath)
      .filter(p => FileNames.isDeltaFile(p) && !FileNames.isCompactedFile(p))
      .map(FileNames.deltaVersion).sorted.toVector
    if (versions != (0L to snap.version).toVector)
      problems += s"log versions not contiguous 0..${snap.version}: ${versions.take(5)}..."
    val maxCommitted = if (committed.isEmpty) -1L else committed.map(_.version).max
    if (maxCommitted > snap.version)
      problems += s"fresh log at ${snap.version} misses committed version $maxCommitted"
    val dup = committed.groupBy(_.version).collect { case (v, cs) if cs.size > 1 => v }
    if (dup.nonEmpty) problems += s"versions returned to two writers: ${dup.take(5)}"

    import spark.implicits._
    val actual = DeltaTable.forPath(spark, dir).toDF.select("w", "k", "rev")
      .as[(Int, Long, Int)].collect().groupBy(_._1)
    ledgers.foreach { l =>
      val got = actual.getOrElse(l.writer, Array.empty).map(r => r._2 -> r._3)
      val gotMap = got.toMap
      val want = l.snapshot
      if (got.length != gotMap.size)
        problems += s"writer ${l.writer}: ${got.length - gotMap.size} duplicate keys"
      if (gotMap != want) {
        val missing = want.keySet.diff(gotMap.keySet).size
        val extra = gotMap.keySet.diff(want.keySet).size
        val revs = want.count { case (k, r) => gotMap.get(k).exists(_ != r) }
        problems += s"writer ${l.writer}: live rows ${gotMap.size} vs ledger ${want.size} " +
          s"(missing $missing, extra $extra, wrong rev $revs)"
      }
    }
    val missingFiles = snap.allFiles.filterNot(f =>
      fs.exists(graft.delta.read.PartitionUtils.absolutePath(log.dataPath, f.path)))
    if (missingFiles.nonEmpty)
      problems += s"${missingFiles.size} AddFiles missing on disk, e.g. ${missingFiles.head.path}"
    problems.result()
  }

  /** Bytes of everything under the table root (data, DVs, log, checkpoints). */
  def tableBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).getContentSummary(p).getLength
  }
}
