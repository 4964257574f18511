package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The workload generators are pure functions of the seed: the same seed
  * gives the same op sequence and the same ledger, another seed differs. */
class GeneratorSpec extends AnyFunSuite {

  private def commitOps(seed: Long, writer: Int, n: Int) = {
    val gen = new CommitLoop.Generator(seed, writer)
    val ledger = new CommitLoop.Ledger(writer)
    ledger(CommitLoop.Append(ledger.nextKey, CommitLoop.SliceRows))
    val ops = (1 to n).map { _ => val op = gen.next(ledger); ledger(op); op }
    (ops, ledger.snapshot)
  }

  test("commit_loop: same seed, same ops and ledger") {
    val (opsA, ledgerA) = commitOps(7, 1, 40)
    val (opsB, ledgerB) = commitOps(7, 1, 40)
    assert(opsA == opsB)
    assert(ledgerA == ledgerB)
    assert(commitOps(8, 1, 40)._1 != opsA)
  }

  test("commit_loop: every block of ten has 8 appends, 1 MERGE, 1 DELETE, in fixed slots") {
    Seq(0, 1).foreach { w =>
      val (ops, _) = commitOps(3, w, 30)
      val kinds = ops.map(_.kind)
      assert(kinds == commitOps(4, w, 30)._1.map(_.kind))
      kinds.grouped(10).foreach { block =>
        assert(block.count(_ == "append") == 8)
        assert(block.count(_ == "merge") == 1)
        assert(block.count(_ == "delete") == 1)
      }
    }
  }

  test("commit_loop: writers own disjoint keys and the ledger tracks DML") {
    val (_, l0) = commitOps(5, 0, 20)
    val (_, l1) = commitOps(5, 1, 20)
    assert(l0.keySet.intersect(l1.keySet).isEmpty)
    // two MERGEs bumped some revs; two DELETEs removed a residue each
    assert(l0.values.exists(_ > 0))
    assert(l0.size < (1 + 16) * CommitLoop.SliceRows + 2 * CommitLoop.MergeInserts)
  }

  test("snapshot_replay: same seed, same history and ledger") {
    val a = new SnapshotReplay.Plan(11)
    val b = new SnapshotReplay.Plan(11)
    assert(a.steps == b.steps)
    assert(a.activeAt == b.activeAt)
    assert(a.deletedResidues == b.deletedResidues)
    assert(new SnapshotReplay.Plan(12).steps != a.steps)
    assert(a.steps.size == SnapshotReplay.Commits)
    assert(a.steps.count(_.isInstanceOf[SnapshotReplay.DvDelete]) == SnapshotReplay.DeleteCommits.size)
    // overwrites leave tombstones: some file is added and later removed
    assert(a.steps.exists { case SnapshotReplay.Commit(_, rm) => rm.nonEmpty; case _ => false })
    // a file is never added twice
    val added = a.steps.collect { case SnapshotReplay.Commit(adds, _) => adds }.flatten
    assert(added.distinct.size == added.size)
  }

  test("snapshot_replay: same seed, same reads") {
    val latest = new SnapshotReplay.Plan(4).latest
    val r1 = new SnapshotReplay.Reads(4, latest)
    val r2 = new SnapshotReplay.Reads(4, latest)
    val a = Seq.fill(40)(r1.next())
    assert(a == Seq.fill(40)(r2.next()))
    a.grouped(4).foreach(block => assert(block.map(_.kind) ==
      Seq("cold_load", "time_travel", "listing", "scan")))
  }

  test("time-travel versions cover the range evenly from any start") {
    Seq((0, 64), (17, 64), (3, 10), (9, 10)).foreach { case (start, n) =>
      val vs = SnapshotReplay.Reads.stride(start, n).take(n).toVector
      assert(vs.sorted == (0 until n).toVector, s"start=$start n=$n")
    }
  }

  test("large_log: same seed, same ghosts and reads") {
    val a = new LargeLog.Plan(9)
    assert(a.ghosts == new LargeLog.Plan(9).ghosts)
    assert(a.ghosts != new LargeLog.Plan(10).ghosts)
    assert(a.filesAt(a.latest) == LargeLog.Ghosts + 1)
    val r1 = new LargeLog.Reads(9)
    val r2 = new LargeLog.Reads(9)
    assert(Seq.fill(20)(r1.next()) == Seq.fill(20)(r2.next()))
  }
}
