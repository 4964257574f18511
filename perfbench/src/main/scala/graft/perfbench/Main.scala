package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.tools.{ClassFingerprint, PhaseTimers}

/** One run of one workload: set up, measure for `--seconds`, check every
  * result against the generator's ledger, then print every metric by name
  * and unit and a verdict line. Launched by run.py, which builds the
  * classpath and turns the lines into the JSON result.
  *
  * Args: --workload NAME --seed N --seconds S --trace 0|1 --root DIR
  *       [--trace-file FILE] */
object Main {
  val Workloads = Seq("commit_loop", "snapshot_replay", "large_log")
  /** Fixture builds per run; setup_s is their median. */
  val SetupReps = 3
  val ReadWarmUpSeconds = 2.0

  final case class Metric(name: String, value: Double, unit: String, note: String = "")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        root: String, traceFile: Option[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("root"), m.get("trace-file"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val fpStart = ClassFingerprint.current()
    val cpus = Runtime.getRuntime.availableProcessors()
    println(s"run workload=${args.workload} seed=${args.seed} seconds=${args.seconds} trace=${if (args.trace) 1 else 0}")
    println(s"env nproc=$cpus heap_max_mb=${Runtime.getRuntime.maxMemory() / (1024 * 1024)} class_fingerprint_start=$fpStart")

    val t0 = System.nanoTime()
    val extraConf = if (args.workload == "large_log") LargeLog.Conf else Map.empty[String, String]
    val spark = session(cpus, args.root, extraConf)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val result =
      try new Run(spark, args).execute()
      finally spark.stop()

    val fpEnd = ClassFingerprint.current()
    println(s"env class_fingerprint_end=$fpEnd")
    if (fpEnd != fpStart) {
      System.err.println(s"classes changed mid-run ($fpStart -> $fpEnd); no result")
      sys.exit(3)
    }
    val metrics = Metric("session_s", sessionS, "s") +: result.lines
    metrics.foreach(m => println(f"metric ${m.name} ${fmt(m.value)} ${m.unit}${if (m.note.isEmpty) "" else " (" + m.note + ")"}"))
    result.failures.foreach(f => println(s"FAILED $f"))
    println(s"verdict workload=${args.workload} correct=${result.correct} attempted=${result.attempted} failed=${result.failed}")
  }

  def fmt(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  def session(cpus: Int, root: String, extra: Map[String, String]): SparkSession = {
    val b = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", s"${64 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
    val spark = extra.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

final case class RunResult(lines: Seq[Main.Metric], attempted: Int, failed: Int,
                           failures: Seq[String], correct: Boolean)

/** Everything one run measures. */
final class Run(spark: SparkSession, args: Main.Args) {
  import Main.Metric

  private val base = s"${args.root}/${args.workload}"
  private def dir(rep: Int) = s"$base/rep$rep"
  private val singleClient = args.workload != "commit_loop"
  private val h = new Harness(spark, args.trace, phasesPerOp = singleClient)
  /** Op kinds whose latencies make up the end-to-end metrics, with their
    * share of the workload's op mix. */
  private val mix: Seq[(String, Double)] = args.workload match {
    case "commit_loop" => Seq("append" -> 0.8, "merge" -> 0.1, "delete" -> 0.1)
    case "snapshot_replay" => Seq("cold_load", "time_travel", "listing", "scan").map(_ -> 0.25)
    case _ => Seq("cold_load", "time_travel", "listing", "stats_listing").map(_ -> 0.25)
  }
  private val kinds = mix.map(_._1)
  private val clients = if (singleClient) 1 else CommitLoop.Writers

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  def execute(): RunResult = {
    // fixtures: the last rep is the one measured; earlier reps warm the
    // same code paths and give setup_s a median
    val (fixtures, setupTimes) = (0 until Main.SetupReps).map { rep =>
      timed(args.workload match {
        case "commit_loop" => CommitLoop.setup(spark, dir(rep), args.seed)
        case "snapshot_replay" => SnapshotReplay.setup(spark, dir(rep), args.seed)
        case _ => LargeLog.setup(spark, dir(rep), args.seed)
      })
    }.unzip
    val fixture = fixtures.last
    val table = dir(Main.SetupReps - 1)
    warmUp(fixtures.head)

    val cpBefore = LogFiles.checkpoints(spark, table)
    val gc0 = Main.gcMillis()
    if (args.trace) PhaseTimers.dumpAndReset()
    val t0 = System.nanoTime()
    val deadline = t0 + args.seconds * 1000000000L
    val (committed, wall) = fixture match {
      case ledgers: Seq[CommitLoop.Ledger] @unchecked =>
        CommitLoop.loop(h, table, args.seed, ledgers, args.seconds)
      case plan: SnapshotReplay.Plan =>
        val reads = new SnapshotReplay.Reads(args.seed, plan.latest)
        while (System.nanoTime() < deadline) SnapshotReplay.run(h, table, plan, reads.next())
        (Nil, (System.nanoTime() - t0) / 1e9)
      case plan: LargeLog.Plan =>
        val reads = new LargeLog.Reads(args.seed)
        while (System.nanoTime() < deadline) LargeLog.run(h, table, plan, reads.next())
        (Nil, (System.nanoTime() - t0) / 1e9)
    }
    val runPhases =
      if (args.trace && !singleClient) Harness.phaseMap(PhaseTimers.dumpAndReset()) else Map.empty[String, (Double, Long)]
    val gcMs = Main.gcMillis() - gc0

    // ---- checks, outside the timed region
    val records = h.all
    val checkProblems: Seq[String] = fixture match {
      case ledgers: Seq[CommitLoop.Ledger] @unchecked =>
        CommitLoop.check(spark, table, ledgers, committed)
      case plan: SnapshotReplay.Plan => unchanged(table, plan.latest)
      case plan: LargeLog.Plan => unchanged(table, plan.latest)
    }
    val failures = records.filterNot(_.ok).map(r => s"op ${r.id} ${r.label}: ${r.error.get}") ++
      checkProblems.map(p => s"check: $p")

    // a failed op never completed inside the run: it counts as the run's length
    def lat(kind: String): Seq[Double] = records.filter(_.kind == kind)
      .map(r => if (r.ok) r.millis else math.max(r.millis, wall * 1000))
    val present = kinds.filter(k => lat(k).nonEmpty)
    val setupS = Stats.median(setupTimes)
    // closed loop, no think time: rate = clients / time per op, taken at
    // the nominal mix so a run's partial last block does not move it
    val weights = mix.filter(m => present.contains(m._1))
    val msPerOp = weights.map { case (k, w) => w * Stats.median(lat(k)) }.sum / weights.map(_._2).sum
    val e2e = Seq(
      Metric("setup_s", setupS, "s", s"median of ${Main.SetupReps}: ${setupTimes.map(t => f"$t%.3f").mkString(", ")}"),
      Metric("op_p50_ms", if (present.isEmpty) 0 else Stats.geomean(present.map(k => Stats.median(lat(k)))), "ms",
        s"geomean over ${present.mkString("/")} of each kind's median"),
      Metric("op_tail_ms", if (present.isEmpty) 0 else Stats.geomean(present.map(k => Stats.tail(lat(k))._2)), "ms",
        s"geomean over kinds of each kind's tail percentile"),
      Metric("ops_per_s", if (present.isEmpty) 0 else clients * 1000 / msPerOp, "1/s",
        s"$clients client(s) / mix-weighted median op time; ${records.count(_.ok)} ops done in ${f"$wall%.3f"} s"))

    val perKind = kinds.flatMap { k =>
      val xs = lat(k)
      if (xs.isEmpty) Nil
      else {
        val (p, v) = Stats.tail(xs)
        Seq(Metric(s"$k.p50_ms", Stats.median(xs), "ms", s"n=${xs.size}"),
          Metric(s"$k.tail_ms", v, "ms", f"p$p%.0f, n=${xs.size}"))
      }
    }
    val named = workloadMetrics(records, committed, wall, table, fixture)
    val layer = if (args.trace) perLayer(records, committed, runPhases, gcMs, table, cpBefore) else Nil
    args.traceFile.filter(_ => args.trace).foreach(f => writeTrace(f, records))

    RunResult(e2e ++ perKind ++ named ++ layer, records.size, failures.size, failures,
      correct = failures.isEmpty && records.nonEmpty)
  }

  /** Runs `op` until `seconds` have passed, and at least one block of four. */
  private def forAtLeast(seconds: Double)(op: => Any): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while (n < 4 || System.nanoTime() < end) { op; n += 1 }
  }

  /** Untimed, on the first fixture, so JIT and first use of each code path
    * stay out of the samples: one op of each kind for the writers, a few
    * seconds of the read mix for the readers (their ops are short, and
    * their latencies still fall for the first seconds of use). */
  private def warmUp(fixture: Any): Unit = {
    val quiet = new Harness(spark, traced = false, phasesPerOp = false)
    fixture match {
      case ledgers: Seq[CommitLoop.Ledger] @unchecked =>
        val l = ledgers.head
        val keys = l.live.keys.take(CommitLoop.MergeUpdates).toVector
        Seq(CommitLoop.Append(l.nextKey, CommitLoop.SliceRows),
          CommitLoop.Merge(keys, l.nextKey + CommitLoop.SliceRows, CommitLoop.MergeInserts),
          CommitLoop.Delete((l.live.keys.head % CommitLoop.DeleteModulus).toInt)).foreach { op =>
          quiet.op(op.kind, "warm-up") { CommitLoop.execute(spark, dir(0), args.seed, l.writer, op); () => Verified() }
          l(op)
        }
      case plan: SnapshotReplay.Plan =>
        val reads = new SnapshotReplay.Reads(args.seed + 1, plan.latest)
        forAtLeast(Main.ReadWarmUpSeconds)(SnapshotReplay.run(quiet, dir(0), plan, reads.next()))
      case plan: LargeLog.Plan =>
        val reads = new LargeLog.Reads(args.seed + 1)
        forAtLeast(Main.ReadWarmUpSeconds)(LargeLog.run(quiet, dir(0), plan, reads.next()))
    }
    quiet.all.filterNot(_.ok).foreach(r => throw new IllegalStateException(s"warm-up op failed: ${r.label}: ${r.error.get}"))
  }

  /** Read-only workloads must leave the table at the version setup left. */
  private def unchanged(table: String, latest: Int): Seq[String] = {
    graft.delta.DeltaLog.clearCache()
    val v = graft.delta.DeltaLog.forTable(spark, table).update().version
    if (v == latest) Nil else Seq(s"read-only workload moved the table from v$latest to v$v")
  }

  /** Each workload's own metrics (commit_p50_ms, scan_p95_ms, ...), printed as lines. */
  private def workloadMetrics(records: Seq[OpRecord], committed: Seq[CommitLoop.Committed],
                         wall: Double, table: String, fixture: Any): Seq[Metric] = {
    def ms(kind: String) = records.filter(_.kind == kind).map(_.millis)
    val dmlMs = ms("merge") ++ ms("delete")
    val dml = if (dmlMs.isEmpty) Nil else Seq(Metric("dml_p50_ms", Stats.median(dmlMs), "ms", s"n=${dmlMs.size}"))
    def p50(name: String, kind: String) =
      ms(kind) match { case Seq() => Nil; case xs => Seq(Metric(name, Stats.median(xs), "ms", s"n=${xs.size}")) }
    def tail(name: String, kind: String) =
      ms(kind) match { case Seq() => Nil; case xs =>
        val (p, v) = Stats.tail(xs); Seq(Metric(name, v, "ms", f"p$p%.0f, n=${xs.size}")) }
    args.workload match {
      case "commit_loop" =>
        val ledgers = fixture.asInstanceOf[Seq[CommitLoop.Ledger]]
        val rows = ledgers.map(_.live.size).sum
        p50("commit_p50_ms", "append") ++ tail("commit_p95_ms", "append") ++
          dml ++
          Seq(Metric("commits_per_s", committed.size / wall, "1/s", s"${committed.size} versions"),
            Metric("table_bytes_per_row", CommitLoop.tableBytes(spark, table).toDouble / rows, "B",
              s"$rows live rows"))
      case "snapshot_replay" =>
        p50("snapshot_cold_p50_ms", "cold_load") ++ tail("snapshot_cold_p95_ms", "cold_load") ++
          p50("time_travel_p50_ms", "time_travel") ++ p50("file_listing_p50_ms", "listing") ++
          p50("scan_p50_ms", "scan") ++ tail("scan_p95_ms", "scan")
      case _ =>
        p50("snapshot_cold_p50_ms", "cold_load") ++ p50("time_travel_p50_ms", "time_travel") ++
          p50("file_listing_p50_ms", "listing") ++ p50("stats_listing_p50_ms", "stats_listing")
    }
  }

  private def perLayer(records: Seq[OpRecord], committed: Seq[CommitLoop.Committed],
                       runPhases: Map[String, (Double, Long)], gcMs: Long, table: String,
                       cpBefore: Seq[org.apache.hadoop.fs.FileStatus]): Seq[Metric] = {
    val jobsByGroup = h.jobs.groupBy(_.group)
    val ops = records.size.max(1)
    val phases: Map[String, Double] =
      (if (singleClient) records.flatMap(_.phases.toSeq) else runPhases.toSeq)
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2._1).sum * 1000 }
    val opWallMs = records.map(_.millis).sum.max(1e-9)
    val writes = committed.size
    def perCommit(phase: String) = if (writes == 0) 0.0 else phases.getOrElse(phase, 0.0) / writes
    def pct(phase: String) = 100.0 * phases.getOrElse(phase, 0.0) / opWallMs
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def jobsOf(r: OpRecord) = jobsByGroup.getOrElse(r.id, Nil)
    def selfMs(r: OpRecord) = Stats.selfTime((r.startMs, r.endMs), jobsOf(r).map(j => (j.startMs, j.endMs))).toDouble

    val actions = if (committed.isEmpty) Map.empty[Long, (Int, Int)]
                  else LogFiles.actionCounts(spark, table, committed.map(_.version))
    val appends = committed.filter(_.kind == "append")
    val dmls = committed.filter(c => c.kind == "merge" || c.kind == "delete")
    val cpAfter = LogFiles.checkpoints(spark, table)
    val cpNew = cpAfter.filterNot(a => cpBefore.exists(_.getPath == a.getPath))
    val (logFiles, logBytes) = LogFiles.loadSet(spark, table)
    val listings = records.filter(r => r.kind == "listing" && r.ok)
    val scans = records.filter(r => r.kind == "scan" && r.ok)

    val opKinds = Seq("append", "merge", "delete", "cold_load", "time_travel", "listing", "stats_listing", "scan")
    val kindRows = opKinds.flatMap { k =>
      val rs = records.filter(_.kind == k)
      val n = rs.size.max(1).toDouble
      val js = rs.flatMap(jobsOf)
      Seq(Metric(s"$k.jobs", js.size / n, "count", s"${rs.size} ops"),
        Metric(s"$k.tasks", js.map(_.tasks).sum / n, "count"),
        Metric(s"$k.executor_run_ms", js.map(_.executorRunMs).sum / n, "ms"),
        Metric(s"$k.driver_only_ms", rs.map(selfMs).sum / n, "ms"),
        Metric(s"$k.shuffle_bytes", js.map(_.shuffleBytes).sum / n, "B"),
        Metric(s"$k.spill_bytes", js.map(_.spillBytes).sum / n, "B"))
    }
    Seq(
      Metric("write.job_ms", perCommit("write.job"), "ms", "per commit"),
      Metric("write.stats_ms", perCommit("write.stats"), "ms", "per commit"),
      Metric("write.shape_ms", perCommit("write.shape"), "ms", "per commit"),
      Metric("commit.log_ms", perCommit("commit.log"), "ms", "per commit"),
      Metric("commit.post_ms", perCommit("commit.post"), "ms", "per commit"),
      Metric("write.job_pct", pct("write.job"), "%", "share of op time"),
      Metric("write.stats_pct", pct("write.stats"), "%"),
      Metric("write.shape_pct", pct("write.shape"), "%"),
      Metric("commit.log_pct", pct("commit.log"), "%"),
      Metric("commit.post_pct", pct("commit.post"), "%"),
      Metric("log.update_pct", pct("log.update"), "%"),
      Metric("log.update_ms", phases.getOrElse("log.update", 0.0) / ops, "ms", "per op"),
      Metric("write.files_per_commit", mean(appends.flatMap(c => actions.get(c.version)).map(_._1.toDouble)), "count"),
      Metric("dml.files_removed_per_op", mean(dmls.flatMap(c => actions.get(c.version)).map(_._2.toDouble)), "count"),
      Metric("txn.version_gap", mean(records.flatMap(_.counters.get("version_gap"))), "count",
        "concurrent commits between a writer's reads and its commit"),
      Metric("checkpoint.count", cpNew.size.toDouble, "count", "written while timing"),
      Metric("checkpoint.bytes", cpNew.map(_.getLen).sum.toDouble, "B"),
      Metric("load.log_files", logFiles.toDouble, "count", "checkpoint parts + commits a load of the latest version reads"),
      Metric("load.log_bytes", logBytes.toDouble, "B"),
      Metric("listing.files_kept_ratio",
        mean(listings.map(r => r.counters.getOrElse("files_kept", 0.0) / r.counters.getOrElse("files_active", 1.0))), "ratio",
        f"kept ${mean(listings.map(_.counters.getOrElse("files_kept", 0.0)))}%.1f of ${mean(listings.map(_.counters.getOrElse("files_active", 0.0)))}%.1f"),
      Metric("scan.files_read_ratio",
        mean(scans.map(r => r.counters.getOrElse("files_read", 0.0) / r.counters.getOrElse("files_active", 1.0))), "ratio"),
      Metric("scan.input_bytes", mean(scans.map(r => jobsOf(r).map(_.inputBytes).sum.toDouble)), "B", "per scan"),
      Metric("scan.planning_ms", mean(scans.map(r =>
        jobsOf(r).map(_.startMs).minOption.getOrElse(r.endMs) - r.startMs).map(_.toDouble)), "ms",
        "op start to its first job"),
      Metric("spark.executor_run_ms", records.flatMap(jobsOf).map(_.executorRunMs).sum.toDouble / ops, "ms", "per op"),
      Metric("spark.driver_only_ms", records.map(selfMs).sum / ops, "ms", "per op: op span minus its jobs"),
      Metric("jvm.gc_ms", gcMs.toDouble / ops, "ms", "per op")
    ) ++ kindRows
  }

  private def writeTrace(file: String, records: Seq[OpRecord]): Unit = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
    val jobs = h.jobs
    val lines = records.map { r =>
      s"""{"span":"op","id":${q(r.id)},"kind":${q(r.kind)},"label":${q(r.label)},"start_ms":${r.startMs},""" +
        s""""end_ms":${r.endMs},"nanos":${r.nanos},"ok":${r.ok},"error":${r.error.map(q).getOrElse("null")},""" +
        s""""phases":${r.phases.map { case (k, (s, n)) => s"${q(k)}:[$s,$n]" }.mkString("{", ",", "}")},""" +
        s""""counters":${r.counters.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")}}"""
    } ++ jobs.map { j =>
      s"""{"span":"job","parent":${q(j.group)},"start_ms":${j.startMs},"end_ms":${j.endMs},"tasks":${j.tasks},""" +
        s""""executor_run_ms":${j.executorRunMs},"shuffle_bytes":${j.shuffleBytes},"spill_bytes":${j.spillBytes},""" +
        s""""input_bytes":${j.inputBytes}}"""
    }
    val p = Paths.get(file)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** What the benchmark reads from a table's `_delta_log` directly. */
object LogFiles {
  private def logDir(spark: SparkSession, table: String) = {
    val p = new Path(table, "_delta_log")
    (p, p.getFileSystem(spark.sessionState.newHadoopConf()))
  }

  def checkpoints(spark: SparkSession, table: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val (p, fs) = logDir(spark, table)
    fs.listStatus(p).filter(_.getPath.getName.contains(".checkpoint")).toSeq
  }

  /** (files, bytes) a load of the latest version reads: the checkpoint
    * named by `_last_checkpoint` plus every JSON commit after it. */
  def loadSet(spark: SparkSession, table: String): (Int, Long) = {
    val (p, fs) = logDir(spark, table)
    val listed = fs.listStatus(p).toSeq
    val last = new Path(p, "_last_checkpoint")
    val cpVersion: Long =
      if (!fs.exists(last)) -1L
      else {
        val in = fs.open(last)
        val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
        "\"version\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(text).map(_.group(1).toLong).getOrElse(-1L)
      }
    val commit = "^(\\d{20})\\.json$".r
    val files = listed.filter { st =>
      val n = st.getPath.getName
      n match {
        case commit(v) => v.toLong > cpVersion
        case _ => cpVersion >= 0 && n.startsWith(f"$cpVersion%020d.checkpoint")
      }
    }
    (files.size, files.map(_.getLen).sum)
  }

  /** version -> (add actions, remove actions) in that commit file. */
  def actionCounts(spark: SparkSession, table: String, versions: Seq[Long]): Map[Long, (Int, Int)] = {
    val (p, fs) = logDir(spark, table)
    versions.map { v =>
      val in = fs.open(new Path(p, f"$v%020d.json"))
      val lines = try new String(in.readAllBytes(), StandardCharsets.UTF_8).split('\n').toSeq finally in.close()
      v -> ((lines.count(_.startsWith("{\"add\"")), lines.count(_.startsWith("{\"remove\""))))
    }.toMap
  }
}
