package perfbench

import graft.ingest.Ingest
import graft.registry.SchemaRegistry
import graft.sinks.{ManifestCatalog, TableCatalog, TableRouter}
import graft.sources.mqtt.{InMemoryBroker, MqttConnectors, MqttSource}
import graft.streaming.IngestPipeline
import java.util.SplittableRandom
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable.ArrayBuffer

/** The two ingest workloads: MQTT messages from the seeded [[Generator]]
  * through `IngestPipeline` (source → parse → route → manifest
  * warehouse), on `local[nproc]`.
  *
  * Phases, each on pipelines with fresh client ids, warehouses and
  * checkpoints (the broker forgets each pipeline's client ids once it
  * stops):
  *  1. setup ×3 — build catalog, router and stream, start it and
  *     commit a small backlog; `setup_s` is the median (the first run
  *     also warms the JVM);
  *  2. drain — a fresh pipeline drains a fixed backlog published before
  *     it starts: `pass_s` from construction to the last commit,
  *     `ops_per_s` the backlog over the summed micro-batch time;
  *  3. open loop — one generator thread publishes at a fixed reference
  *     rate for `--seconds` into the drain's still-running pipeline;
  *     `lat_p50_ms`/`lat_tail_ms` (p99) are due time → batch commit.
  * In `ingest_fanout` one closed-loop reader thread reads random routed
  * tables through `ManifestCatalog.read` during phase 3. Every warehouse
  * is read back and checked against the generator. */
object IngestWorkload {
  private final case class Sizes(warmup: Int, backlog: Int, rate: Double,
      newNameEvery: Int)
  private val Shards = Generator.Filters.size
  private val TimingConnectorName = "perfbench-timing"

  private final class Pipeline(val name: String, val catalog: ManifestCatalog,
      val query: StreamingQuery, val rejDir: String, val expected: Expected,
      val publishS: Double) {
    def clientIds: Seq[String] = (0 until Shards).map(i => s"$name#$i")
    def stop(): Unit = {
      query.stop()
      clientIds.foreach(InMemoryBroker.reset)
    }
  }

  def run(ctx: Ctx, fanout: Boolean): Unit = {
    val sz =
      if (ctx.tiny) Sizes(100, 1000, 1200, 25)
      else if (fanout) Sizes(100, 1500, 200, 50)
      else Sizes(100, 10000, 200, 0)
    val seconds = if (ctx.tiny) math.min(ctx.seconds, 1.0) else ctx.seconds
    val tr = ctx.tr
    val gen = new Generator(ctx.seed, fanout, tr, sz.newNameEvery)
    val streams = new StreamListener(tr)
    ctx.spark.streams.addListener(streams)
    val timing = if (tr.enabled) Some(new TimingConnector(InMemoryBroker, tr)) else None
    timing.foreach(MqttConnectors.register(TimingConnectorName, _))
    val done = ArrayBuffer.empty[Pipeline]

    // 1. setup ×3: a fresh pipeline until its first small batch commits;
    // the first one also warms the JVM, the median skips past it
    val setups = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      val p = startPipeline(ctx, gen, s"setup$i", sz.warmup, traced = false)
      p.query.processAllAvailable()
      val s = (System.nanoTime() - t0) / 1e9 - p.publishS
      p.stop()
      done += p
      s
    }
    ctx.endToEnd("setup_s") = Stats.median(setups)

    // 2. drain: the measured pipeline, traced when tracing is on; it keeps
    // running for the open loop
    val engine = new EngineListener(tr)
    val plans = new PlanListener(tr)
    if (tr.enabled) {
      ctx.spark.sparkContext.addSparkListener(engine)
      ctx.spark.listenerManager.register(plans)
    }
    streams.counting = tr.enabled
    val win0 = System.currentTimeMillis()
    val (cg0, cgs0) = PlanListener.codegen()
    val (p, drain) = drainOnce(ctx, gen, streams, "main", sz.backlog, traced = tr.enabled)
    done += p
    ctx.endToEnd("pass_s") = drain.passS
    ctx.endToEnd("ops_per_s") = sz.backlog / drain.busyS
    ctx.log(setups.map(s => f"$s%.3f").mkString("setup ", " ", "") +
      f"; drain ${drain.passS}%.3f s, busy ${drain.busyS}%.3f s")

    // 3. open loop at the reference rate, reader running in fanout
    val reader = if (fanout) Some(new Reader(p.catalog, ctx.seed, tr)) else None
    reader.foreach(_.start())
    val due = new DueTimes(Shards)
    val lateMs = new ArrayBuffer[Double]
    val genThread = new Thread(() => gen.publishOpenLoop(sz.rate, seconds, due, lateMs),
      "perfbench-generator")
    genThread.start()
    genThread.join()
    p.query.processAllAvailable()
    reader.foreach(_.finish())
    val win1 = System.currentTimeMillis()
    val (lat, unmatched) = awaitLatencies(streams.of(p.query.id), due)
    ctx.log(s"open loop: ${due.size} msgs, ${streams.of(p.query.id).size} batches")
    ctx.fail(unmatched, s"$unmatched open-loop messages not committed exactly once")
    val pct = Stats.percentile(lat.toSeq, _: Int)
    ctx.log(Seq(50, 90, 95, 99).map(q => s"p$q=${pct(q).getOrElse(-1.0)}").mkString("latency "," ",""))
    ctx.endToEnd("lat_p50_ms") = pct(50).getOrElse(Double.NaN)
    ctx.endToEnd("lat_tail_ms") = pct(99).getOrElse {
      ctx.fail(1, s"${lat.length} latency samples are too few for p99"); Double.NaN
    }
    val late99 = Stats.percentile(lateMs.toSeq, 99).getOrElse(lateMs.max)
    ctx.env("gen_late_ms_p99") = f"$late99%.3f"
    ctx.env("gen_late_ms_max") = f"${lateMs.max}%.3f"
    // behind schedule: past 50 ms (a few percent of the measured
    // latencies) the offered load is no longer the reference rate
    val behind = late99 > 50.0
    ctx.env("gen_behind") = behind.toString
    ctx.env("open_loop_msgs") = due.size.toString
    if (behind) ctx.log(f"generator fell behind its schedule: p99 late $late99%.1f ms")
    p.stop()
    reader.foreach { r =>
      ctx.attempted += r.latMs.size + r.failures
      ctx.fail(r.failures, s"${r.failures} warehouse reads failed")
    }

    if (tr.enabled) {
      settleListeners(engine)
      ctx.spark.sparkContext.removeSparkListener(engine)
      ctx.spark.listenerManager.unregister(plans)
      streams.counting = false
      val (cg1, cgs1) = PlanListener.codegen()
      layerMetrics(ctx, Seq(p), streams, engine, win0, win1,
        cg1 - cg0, cgs1 - cgs0, late99, reader, timing)
      parseLayer(ctx, fanout)
      // overhead: one more drain on an unwrapped pipeline
      val (plain, d) = drainOnce(ctx, gen, streams, "plain", sz.backlog, traced = false)
      plain.stop()
      done += plain
      ctx.perLayer("trace_overhead_pct") = (drain.passS / d.passS - 1) * 100
    }
    ctx.spark.streams.removeListener(streams)
    verify(ctx, done.toSeq)
  }

  private final case class Drain(passS: Double, busyS: Double)

  /** A fresh pipeline drains a backlog published before it starts. pass:
    * construction to the last commit; busy: summed micro-batch time. */
  private def drainOnce(ctx: Ctx, gen: Generator, streams: StreamListener,
      name: String, backlog: Int, traced: Boolean): (Pipeline, Drain) = {
    val t0 = System.currentTimeMillis()
    val p = startPipeline(ctx, gen, name, backlog, traced)
    p.query.processAllAvailable()
    val passS = (System.currentTimeMillis() - t0) / 1e3 - p.publishS
    (p, Drain(passS, awaitBatches(streams, p.query.id, backlog).map(_.durMs).sum / 1e3))
  }

  private def startPipeline(ctx: Ctx, gen: Generator, name: String,
      backlog: Int, traced: Boolean): Pipeline = {
    val spark = ctx.spark
    val dir = ctx.dir(name)
    val expected = gen.newPipeline()
    val catalog = TableCatalog.default(spark, s"$dir/warehouse")
    val sinks: TableCatalog = if (traced) new TimingCatalog(catalog, ctx.tr) else catalog
    val router = new TableRouter(new SchemaRegistry, sinks)
    val source =
      if (!traced) IngestPipeline.mqttStream(spark, name, Generator.Filters, connectors = Shards)
      else {
        MqttSource.reconfigure(name, Generator.Filters, Shards)
        spark.readStream.format("mqtt")
          .option("clientId", name)
          .option("topics", Generator.Filters.mkString(","))
          .option("connectors", Shards.toString)
          .option("connector", TimingConnectorName)
          .load()
      }
    // published before the query starts: the first batch reads all of it
    val t0 = System.nanoTime()
    gen.publishBacklog(backlog)
    val publishS = (System.nanoTime() - t0) / 1e9
    val q = IngestPipeline.start(source, router, s"$dir/checkpoint",
      rejectedDir = Some(s"$dir/rejected"))
    new Pipeline(name, catalog, q, s"$dir/rejected", expected, publishS)
  }

  /** A query's batches with rows, once they hold `rows` rows (progress
    * events arrive asynchronously; gives up after 10 s). */
  private def awaitBatches(streams: StreamListener, id: java.util.UUID,
      rows: Long): Seq[BatchCommit] = {
    val deadline = System.nanoTime() + 10000000000L
    def got = streams.of(id).filter(_.rows > 0)
    while (got.map(_.rows).sum < rows && System.nanoTime() < deadline) Thread.sleep(20)
    got
  }

  /** Progress events reach the listener asynchronously: wait until every
    * open-loop message is claimed by a batch (or give up after 10 s). */
  private def awaitLatencies(commits: => Seq[BatchCommit], due: DueTimes): (Array[Double], Int) = {
    val deadline = System.nanoTime() + 10000000000L
    var r = due.latencies(commits)
    while (r._2 > 0 && System.nanoTime() < deadline) {
      Thread.sleep(20)
      r = due.latencies(commits)
    }
    r
  }

  /** Read the stopped pipelines' warehouses back through their catalogs
    * and compare with what the generator sent: per-table rows and value
    * sums, and rejected rows per reason. One scan per value type covers
    * every pipeline. Every published message counts as attempted; each
    * lost, duplicated or misrouted one as failed. */
  private def verify(ctx: Ctx, ps: Seq[Pipeline]): Unit = {
    val spark = ctx.spark
    // <work>/<pipeline>/warehouse/<table>/<file>, <work>/<pipeline>/rejected/<file>
    val parts = split(input_file_name(), "/")
    def scan(strings: Boolean): Map[(String, String), (Long, Double)] = {
      val files = ps.flatMap { p =>
        val v = p.catalog.latestVersion()
        val snap = if (v < 0) Map.empty[String, Seq[String]] else p.catalog.snapshotAt(v)
        snap.toSeq.filter(_._1.startsWith("str_") == strings)
          .flatMap { case (t, fs) => fs.map(f => s"${ctx.work}/${p.name}/warehouse/$t/$f") }
      }
      if (files.isEmpty) Map.empty
      else {
        val v = if (strings) length(col("value")).cast("double") else col("value")
        spark.read.schema(s"client string, device string, value ${if (strings) "string" else "double"}")
          .parquet(files: _*)
          .groupBy(element_at(parts, -4), element_at(parts, -2))
          .agg(count(lit(1)), sum(v))
          .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
          .toMap
      }
    }
    val got = scan(strings = false) ++ scan(strings = true)
    val rejDirs = ps.map(_.rejDir).filter(d => new java.io.File(d).exists())
    val rej: Map[(String, String), Long] =
      if (rejDirs.isEmpty) Map.empty
      else spark.read.parquet(rejDirs: _*).groupBy(element_at(parts, -3), col("reason"))
        .count().collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    ps.foreach { p =>
      val exp = p.expected
      ctx.attempted += exp.published
      var bad = 0L
      val tables = exp.rows.keySet ++ got.keySet.filter(_._1 == p.name).map(_._2)
      tables.foreach { t =>
        val (n, s) = got.getOrElse((p.name, t), (0L, 0.0))
        val (en, es) = (exp.rows.getOrElse(t, 0L), exp.sums.getOrElse(t, 0.0))
        if (n != en) bad += math.abs(n - en)
        else if (s != es) bad += n
      }
      val reasons = exp.rejects.keySet ++ rej.keySet.filter(_._1 == p.name).map(_._2)
      reasons.foreach { r =>
        bad += math.abs(exp.rejects.getOrElse(r, 0L) - rej.getOrElse((p.name, r), 0L))
      }
      ctx.fail(bad, s"${p.name}: $bad messages lost, duplicated or misrouted")
    }
  }

  /** The engine listener sees events asynchronously: wait until its
    * event count stops moving. */
  private def settleListeners(engine: EngineListener): Unit = {
    var last = -1L
    while (engine.events.get() != last) { last = engine.events.get(); Thread.sleep(150) }
  }

  private def layerMetrics(ctx: Ctx, ps: Seq[Pipeline], streams: StreamListener,
      engine: EngineListener, win0: Long, win1: Long, classes: Long,
      compileS: Double, late99: Double, reader: Option[Reader],
      timing: Option[TimingConnector]): Unit = {
    val tr = ctx.tr
    val m = ctx.perLayer
    Seq("fetch", "latest_seq", "truncate").foreach(k => m(s"mqtt.${k}_ms") = tr.get(s"mqtt.$k"))
    m("mqtt.fetch_calls") = tr.get("mqtt.fetch.calls")
    m("mqtt.msgs_fetched") = tr.get("mqtt.msgs_fetched")
    timing.foreach(c => m("mqtt.backlog_max_msgs") = c.maxBacklog.toDouble)
    m("gen.publish_ms") = tr.get("gen.publish")
    m("gen.late_ms_p99") = late99

    val rows = ps.flatMap(p => streams.of(p.query.id)).filter(_.rows > 0).map(_.rows.toDouble)
    m("stream.batches") = tr.get("stream.batches")
    m("stream.rows_per_batch_p50") = if (rows.isEmpty) 0.0 else Stats.median(rows)
    Seq("latest_offset" -> "latestOffset", "get_batch" -> "getBatch",
      "query_planning" -> "queryPlanning", "wal_commit" -> "walCommit",
      "commit_offsets" -> "commitOffsets", "add_batch" -> "addBatch").foreach {
      case (k, d) => m(s"stream.${k}_ms") = tr.get(s"stream.$d")
    }
    val sinkSpans = tr.spansOf("sinks.").filter(_.name != "sinks.read")
    m("stream.add_batch_self_ms") = tr.get("stream.addBatch") -
      Stats.unionLength(sinkSpans.map(s => ((s.startMs * 1e3).toLong, (s.endMs * 1e3).toLong))) / 1e3

    Seq("create_table", "batch_committed", "append_routed", "append_fallback").foreach { k =>
      m(s"sinks.${k}_calls") = tr.get(s"sinks.$k.calls")
    }
    Seq("create_table", "begin_batch", "batch_committed", "append_routed", "commit_batch")
      .foreach(k => m(s"sinks.${k}_ms") = tr.get(s"sinks.$k"))
    reader.foreach { r =>
      m("sinks.reads") = r.latMs.size.toDouble
      if (r.latMs.nonEmpty) m("sinks.read_ms") = Stats.median(r.latMs.toSeq)
    }
    val files = ps.flatMap { p =>
      p.catalog.snapshotAt(p.catalog.latestVersion()).toSeq.flatMap { case (t, fs) =>
        fs.map(f => new java.io.File(s"${ctx.work}/${p.name}/warehouse/$t/$f"))
      }
    }
    m("sinks.files_written") = files.size.toDouble
    m("sinks.bytes_per_row") = files.map(_.length).sum.toDouble /
      math.max(1L, ps.map(_.expected.rows.values.sum).sum)
    m("sinks.manifest_versions") = ps.map(_.catalog.latestVersion() + 1).sum.toDouble

    engine.report(m, win0, win1)
    m("codegen.classes") = classes.toDouble
    m("codegen.compile_s") = compileS
    Seq("analysis", "optimization", "planning").foreach(k =>
      m(s"plan.${k}_s") = tr.get(s"plan.${k}_s"))
    m("plan.exchanges") = tr.get("plan.exchanges")
    m("plan.broadcast_build_s") = tr.get("plan.broadcast_build_s")
  }

  /** `Ingest.parse` alone, on a static frame of the same generated mix:
    * warm rows/s and the per-reason reject counts. */
  private def parseLayer(ctx: Ctx, fanout: Boolean): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val g = new Generator(ctx.seed + 1, fanout, new Tracer(false))
    val n = if (ctx.tiny) 2000 else 100000
    val frame = Seq.fill(n)(g.next()).map(m => (m.topic, m.payload)).toDF("topic", "payload")
      .repartition(spark.sparkContext.defaultParallelism).cache()
    frame.count()
    def once(): (Long, Map[String, Long], Double) = {
      val t0 = System.nanoTime()
      val parsed = Ingest.parse(frame).cache()
      val valid = parsed.filter(col("valid")).count()
      val rej = Ingest.rejectedOfParsed(parsed).groupBy("reason").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val s = (System.nanoTime() - t0) / 1e9
      parsed.unpersist()
      (valid, rej, s)
    }
    once()
    val (valid, rej, s) = once()
    frame.unpersist()
    val m = ctx.perLayer
    m("ingest.parse_rows_s") = n / s
    m("ingest.valid_rows") = valid.toDouble
    Seq("invalid_topic", "missing_value", "unsupported_value_type").foreach { r =>
      m(s"ingest.rejected_$r") = rej.getOrElse(r, 0L).toDouble
    }
    ctx.attempted += n
    val bad = math.abs(valid - g.expected.rows.values.sum) +
      (g.expected.rejects.keySet ++ rej.keySet).toSeq
        .map(r => math.abs(g.expected.rejects.getOrElse(r, 0L) - rej.getOrElse(r, 0L))).sum
    ctx.fail(bad, s"static parse: $bad rows classified differently from the generator")
  }
}

/** Closed-loop reader: one random routed table at a time through
  * `ManifestCatalog.read`, aggregated so the data files are scanned. */
final class Reader(catalog: ManifestCatalog, seed: Long, tr: Tracer)
    extends Thread("perfbench-reader") {
  @volatile private var stopping = false
  val latMs = new ArrayBuffer[Double]
  @volatile var failures = 0L
  setDaemon(true)

  override def run(): Unit = {
    val rnd = new SplittableRandom(seed)
    while (!stopping) {
      val tables = catalog.listTables()
      if (tables.isEmpty) Thread.sleep(10)
      else {
        val t = tables(rnd.nextInt(tables.size))
        val t0 = System.nanoTime()
        try {
          val n = tr.timed("sinks.read", t) {
            catalog.read(t).agg(count(lit(1)), max(col("client"))).collect()(0).getLong(0)
          }
          if (n < 1) failures += 1
          latMs.synchronized { latMs += (System.nanoTime() - t0) / 1e6 }
        } catch { case _: Throwable => failures += 1 }
      }
    }
  }

  def finish(): Unit = { stopping = true; join() }
}
