package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LatencySpec extends AnyFunSuite {
  test("per-shard sequence numbers map to due times, then to commit times") {
    val due = new DueTimes(2)
    // shard 0 numbers from 5 (earlier messages were not open-loop)
    due.record(0, 5, 100.0); due.record(0, 6, 110.0); due.record(0, 7, 120.0)
    due.record(1, 0, 105.0); due.record(1, 1, 115.0)
    val commits = Seq(
      // batch 0 holds shard-0 seqs [0, 6) and shard-1 seqs [0, 1)
      BatchCommit(0, Seq(0L, 0L), Seq(6L, 1L), 200.0),
      BatchCommit(1, Seq(6L, 1L), Seq(8L, 2L), 300.0))
    val (lat, unmatched) = due.latencies(commits)
    assert(unmatched == 0)
    assert(lat.sorted.toSeq == Seq(95.0, 100.0, 180.0, 185.0, 190.0))
  }

  test("a message no batch commits, or two batches claim, is counted") {
    val due = new DueTimes(1)
    (0 until 4).foreach(i => due.record(0, i, i.toDouble))
    val (_, lost) = due.latencies(Seq(BatchCommit(0, Seq(0L), Seq(3L), 10.0)))
    assert(lost == 1)
    val (_, dup) = due.latencies(Seq(BatchCommit(0, Seq(0L), Seq(3L), 10.0),
      BatchCommit(1, Seq(2L), Seq(4L), 20.0)))
    assert(dup == 1)
  }

  test("recorded sequence numbers must be contiguous per shard") {
    val due = new DueTimes(1)
    due.record(0, 3, 1.0)
    intercept[IllegalArgumentException](due.record(0, 5, 2.0))
  }
}
