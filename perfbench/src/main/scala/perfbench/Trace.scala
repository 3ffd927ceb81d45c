package perfbench

import graft.registry.ColumnDef
import graft.sinks.{ManifestCatalog, TableCatalog}
import graft.sources.mqtt.{InMemoryBroker, MqttConnector}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import java.util.concurrent.atomic.DoubleAdder
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** A timed interval; `key` is the micro-batch id or query name it
  * belongs to. */
final case class Span(id: Long, name: String, startMs: Double,
    endMs: Double, key: String)

/** In-memory span and counter store for the traced run. Disabled, it
  * records nothing and its wrappers are never installed. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]
  private val sums = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]

  // epoch milliseconds on the monotonic clock, so spans line up with the
  // epoch-ms times Spark's listener events carry
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def add(name: String, v: Double): Unit =
    if (enabled) sums.computeIfAbsent(name, _ => new DoubleAdder).add(v)
  def get(name: String): Double =
    Option(sums.get(name)).map(_.sum()).getOrElse(0.0)

  def record(name: String, startMs: Double, endMs: Double, key: String = ""): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), name, startMs, endMs, key))

  /** Time `body` as span `name`, adding its milliseconds to counter
    * `name` (and 1 to `name.calls`). */
  def timed[T](name: String, key: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val t0 = nowMs
      try body
      finally {
        val t1 = nowMs
        record(name, t0, t1, key)
        add(name, t1 - t0)
        add(s"$name.calls", 1)
      }
    }

  def spansOf(prefix: String): Seq[Span] =
    spans.asScala.filter(_.name.startsWith(prefix)).toSeq

  /** The spans as a JSON array. A span's parent is the micro-batch or
    * query span with the same key whose interval holds its start. */
  def json: String = {
    val all = spans.asScala.toSeq.sortBy(_.startMs)
    val containers = all.filter(s => s.name == "stream.batch" || s.name == "batch.query")
      .groupBy(_.key)
    all.map { s =>
      val parent = if (s.name == "stream.batch" || s.name == "batch.query") -1L
        else containers.getOrElse(s.key, Nil)
          .find(c => c.startMs <= s.startMs && s.startMs <= c.endMs).fold(-1L)(_.id)
      f"""{"id":${s.id},"name":"${s.name}","start_ms":${s.startMs}%.3f,""" +
        f""""end_ms":${s.endMs}%.3f,"parent":$parent,"key":"${s.key}"}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Delegating MQTT connector that times every call the source makes. */
final class TimingConnector(inner: MqttConnector, tr: Tracer)
    extends MqttConnector {
  private val truncated = new java.util.concurrent.ConcurrentHashMap[String, Long]
  private val backlogMax = new AtomicLong

  def maxBacklog: Long = backlogMax.get()

  override def setSubscriptions(clientId: String, topicFilters: Seq[String]): Unit =
    inner.setSubscriptions(clientId, topicFilters)
  override def isConfigured(clientId: String): Boolean =
    inner.isConfigured(clientId)
  override def fetch(clientId: String, fromSeq: Long, untilSeq: Long): Seq[InMemoryBroker.Msg] = {
    val r = tr.timed("mqtt.fetch", clientId)(inner.fetch(clientId, fromSeq, untilSeq))
    tr.add("mqtt.msgs_fetched", r.size)
    r
  }
  override def latestSeq(clientId: String): Long = {
    val l = tr.timed("mqtt.latest_seq", clientId)(inner.latestSeq(clientId))
    val backlog = l - truncated.getOrDefault(clientId, 0L)
    backlogMax.accumulateAndGet(backlog, math.max)
    l
  }
  override def truncate(clientId: String, uptoSeq: Long): Unit = {
    tr.timed("mqtt.truncate", clientId)(inner.truncate(clientId, uptoSeq))
    truncated.put(clientId, uptoSeq)
    ()
  }
}

/** Delegating catalog around [[TableCatalog.default]] that times every
  * call the router makes, tagged with the micro-batch it belongs to. */
final class TimingCatalog(inner: ManifestCatalog, tr: Tracer)
    extends TableCatalog {
  private val batch = new AtomicReference[String]("")
  private def t[T](name: String)(body: => T): T = tr.timed(name, batch.get)(body)

  override def listTables(): Seq[String] = inner.listTables()
  override def describe(table: String): Seq[ColumnDef] = inner.describe(table)
  override def createTable(table: String, cols: Seq[ColumnDef]): Unit =
    t("sinks.create_table")(inner.createTable(table, cols))
  override def append(table: String, df: DataFrame): Unit =
    t("sinks.append_fallback")(inner.append(table, df))
  override def appendRouted(df: DataFrame, tables: Seq[String]): Boolean =
    t("sinks.append_routed")(inner.appendRouted(df, tables))
  override def batchCommitted(batchId: Long): Boolean = {
    batch.set(batchId.toString)
    t("sinks.batch_committed")(inner.batchCommitted(batchId))
  }
  override def commitBatch(batchId: Long): Unit =
    t("sinks.commit_batch")(inner.commitBatch(batchId))
  override def beginBatch(batchId: Long): Unit =
    t("sinks.begin_batch")(inner.beginBatch(batchId))
}
