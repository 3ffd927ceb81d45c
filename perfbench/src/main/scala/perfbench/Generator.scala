package perfbench

import graft.sources.mqtt.InMemoryBroker
import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable

/** What a warehouse must hold after a set of messages went through the
  * pipeline: per table the row count and the value sum (numeric tables;
  * values are k + 0.25, so double sums are exact) or the summed string
  * length (string tables), and per reject reason the count. */
final class Expected {
  val rows = mutable.Map.empty[String, Long]
  val sums = mutable.Map.empty[String, Double]
  val rejects = mutable.Map.empty[String, Long]
  var published = 0L

  def addRow(table: String, v: Double): Unit = {
    rows(table) = rows.getOrElse(table, 0L) + 1
    sums(table) = sums.getOrElse(table, 0.0) + v
  }
  def addReject(reason: String): Unit =
    rejects(reason) = rejects.getOrElse(reason, 0L) + 1
}

final case class Msg(topic: String, payload: String, shard: Int)

/** Seeded MQTT message generator with StreamBench's topic/payload mix:
  * 3 clients × 7 devices, four topic-filter shards (`/c0/#`, `/c1/#`,
  * `/c2/#`, `c/#`), 1/11 missing the value key, 1/11 on an invalid
  * topic, 1/11 string-valued (own `str_` tables), 1/44 with a boolean
  * value (unsupported type), the rest numeric.
  *
  * `steady` draws sensor names from a fixed set of 20. `fanout` starts
  * from 64 names and mints a brand-new one every `newNameEvery`
  * messages, drawing the rest uniformly from all names so far — new
  * tables keep appearing for the whole run. */
final class Generator(seed: Long, fanout: Boolean, tr: Tracer,
    newNameEvery: Int = 25) {
  import Generator._
  private val rnd = new SplittableRandom(seed)
  private var names = if (fanout) 64 else 20
  private var i = 0L
  private val shardSeq = new Array[Long](Filters.size)
  var expected = new Expected

  /** Start a new pipeline: fresh client ids number from 0 again. */
  def newPipeline(): Expected = {
    java.util.Arrays.fill(shardSeq, 0L)
    expected = new Expected
    expected
  }

  def next(): Msg = {
    if (fanout && i % newNameEvery == 0) names += 1
    i += 1
    val sensor = s"sensor${if (fanout && i % newNameEvery == 1) names - 1
      else rnd.nextInt(names)}"
    val prefix = s"/c${rnd.nextInt(3)}/d${rnd.nextInt(7)}/out/sensors"
    val k = rnd.nextInt(44)
    val v = rnd.nextInt(1000) + 0.25
    val (topic, payload) =
      if (k < 4) {
        expected.addReject("missing_value")
        (s"$prefix/$sensor", s"""{"k":$i}""")
      } else if (k < 8) {
        expected.addReject("invalid_topic")
        (s"c/bad/$sensor", s"""{"value":$v}""")
      } else if (k < 12) {
        val s = s"v$i"
        expected.addRow(s"str_$sensor", s.length.toDouble)
        (s"$prefix/str_$sensor", s"""{"value":"$s"}""")
      } else if (k == 12) {
        expected.addReject("unsupported_value_type")
        (s"$prefix/$sensor", """{"value":true}""")
      } else {
        expected.addRow(sensor, v)
        (s"$prefix/$sensor",
          s"""{"timestamp":"2024-01-01T00:00:00Z","value":$v}""")
      }
    expected.published += 1
    val shard = Filters.indexWhere(InMemoryBroker.matches(_, topic))
    Msg(topic, payload, shard)
  }

  /** Publish one message; returns (shard, sequence). */
  def publish(): (Int, Long) = {
    val m = next()
    val seq = shardSeq(m.shard)
    shardSeq(m.shard) += 1
    if (!tr.enabled) InMemoryBroker.publish(m.topic, m.payload)
    else {
      val t0 = System.nanoTime()
      InMemoryBroker.publish(m.topic, m.payload)
      tr.add("gen.publish", (System.nanoTime() - t0) / 1e6)
    }
    (m.shard, seq)
  }

  def publishBacklog(n: Int): Unit = { var j = 0; while (j < n) { publish(); j += 1 } }

  /** Open loop: message j is due at start + j/rate and published as soon
    * as it is due, whatever the pipeline is doing. Records each message's
    * due time and how late the generator itself published it. */
  def publishOpenLoop(rate: Double, seconds: Double, due: DueTimes,
      lateMs: mutable.ArrayBuffer[Double]): Unit = {
    val n = math.max(1L, (rate * seconds).toLong)
    val anchorNs = System.nanoTime() + 5000000L
    val anchorMs = System.currentTimeMillis() + 5.0
    var j = 0L
    while (j < n) {
      val dueNs = anchorNs + (j * 1e9 / rate).toLong
      var now = System.nanoTime()
      while (now < dueNs) { LockSupport.parkNanos(dueNs - now); now = System.nanoTime() }
      lateMs += (now - dueNs) / 1e6
      val (shard, seq) = publish()
      due.record(shard, seq, anchorMs + (dueNs - anchorNs) / 1e6)
      j += 1
    }
  }
}

object Generator {
  /** Topic filters of the ingest pipeline; with one connector per filter
    * the source puts filter i on shard i. */
  val Filters: Seq[String] = Seq("/c0/#", "/c1/#", "/c2/#", "c/#")
}
