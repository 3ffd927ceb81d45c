package perfbench

import scala.collection.mutable.ArrayBuffer

/** One committed micro-batch as the source offsets describe it: per
  * shard, the half-open range [start, end) of broker sequence numbers it
  * read, and the wall time (epoch ms) at which its data commit returned;
  * plus its row count and trigger duration. */
final case class BatchCommit(batchId: Long, start: Seq[Long],
    end: Seq[Long], commitMs: Double, rows: Long = 0, durMs: Double = 0)

/** Due times of the open-loop messages, keyed by (shard, sequence).
  *
  * The source numbers each shard's feed from 0 on a fresh client id, and
  * a micro-batch reads a contiguous sequence range per shard, so a
  * message's latency is the commit time of the batch whose range holds
  * its sequence number minus the time it was due. Measuring from the due
  * time (not the publish time) keeps a generator that falls behind from
  * hiding queueing delay. Only recorded messages are measured: every
  * shard's recorded sequence numbers must be contiguous. */
final class DueTimes(shards: Int) {
  private val first = Array.fill(shards)(-1L)
  private val due = Array.fill(shards)(new ArrayBuffer[Double])

  def record(shard: Int, seq: Long, dueMs: Double): Unit = {
    if (first(shard) < 0) first(shard) = seq
    require(seq == first(shard) + due(shard).size,
      s"shard $shard: sequence $seq is not contiguous")
    due(shard) += dueMs
  }

  def size: Int = due.map(_.size).sum

  /** Latency (ms) of every recorded message, plus the number of recorded
    * messages that no batch committed or that two batches both claim. */
  def latencies(commits: Seq[BatchCommit]): (Array[Double], Int) = {
    val seen = due.map(d => new Array[Int](d.size))
    val out = new ArrayBuffer[Double]
    commits.foreach { c =>
      (0 until shards).foreach { s =>
        val lo = math.max(c.start(s), first(s))
        val hi = math.min(c.end(s), first(s) + due(s).size)
        var q = lo
        while (q < hi) {
          val i = (q - first(s)).toInt
          seen(s)(i) += 1
          out += c.commitMs - due(s)(i)
          q += 1
        }
      }
    }
    (out.toArray, seen.map(_.count(_ != 1)).sum)
  }
}
