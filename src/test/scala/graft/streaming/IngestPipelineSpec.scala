package graft.streaming

import graft.TestSpark
import graft.registry.SchemaRegistry
import graft.sinks.{TableCatalog, TableRouter}
import graft.sources.mqtt.InMemoryBroker
import java.nio.file.Files
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** End-to-end: broker → MQTT source → F1–F5 parse → router → warehouse,
  * plus the poison-message and QoS-1-dedup behaviors the engine fixes
  * relative to the reference (SURVEY.md §4.3). */
class IngestPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def pipeline(cid: String, dedup: Option[String] = None) = {
    val wh = Files.createTempDirectory("wh").toString
    val rej = Files.createTempDirectory("rej").toString
    val catalog = TableCatalog.default(spark, wh)
    val router = new TableRouter(new SchemaRegistry, catalog)
    val q = IngestPipeline.start(
      IngestPipeline.mqttStream(spark, cid, Seq("#")),
      router,
      Files.createTempDirectory("ckpt").toString,
      rejectedDir = Some(rej),
      dedupWithinWatermark = dedup)
    (q, catalog, rej)
  }

  test("golden path: broker to typed warehouse tables") {
    val cid = s"pipe-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    val (q, catalog, _) = pipeline(cid)
    try {
      InMemoryBroker.publish("/balalaykajazz/plants1/out/sensors/temp_out",
        """{"timestamp":"2021-11-24T20:27:23Z","value":27.8}""")
      InMemoryBroker.publish("/balalaykajazz/plants1/out/sensors/door",
        """{"value":"open"}""")
      q.processAllAvailable()
      val temp = catalog.read("temp_out").collect()
      assert(temp.length == 1)
      val r = temp.head
      assert(r.getAs[String]("client") == "balalaykajazz")
      assert(r.getAs[String]("device") == "plants1")
      assert(r.getAs[Double]("value") == 27.8)
      assert(catalog.read("temp_out").schema("value").dataType == DoubleType)
      assert(catalog.read("door").head().getAs[String]("value") == "open")
    } finally q.stop()
  }

  test("wildcard filter set over TCP: +/# filters route, others drop") {
    // the reference's Consul topic map is a set of wildcard filters in
    // production MQTT deployments — this is that set, over the real
    // TCP wire path (MqttSourceSpec pins the matching rules in
    // isolation; here they gate a full pipeline)
    import graft.sources.mqtt.{MiniMqttBroker, MqttConnectors, MqttSettings, TcpMqttConnector}
    val broker = new MiniMqttBroker()
    val cid = s"pipe-wild-${System.nanoTime()}"
    val conn = new TcpMqttConnector(MqttSettings(
      host = "127.0.0.1", port = broker.port, clientId = cid,
      keepAliveSecs = 5, reconnectDelayMillis = 50L)).connect()
    val connectorName = s"pipe-wild-$cid"
    MqttConnectors.register(connectorName, conn)
    conn.setSubscriptions(cid, Seq("/+/+/out/sensors/#", "/alerts/#"))
    val wh = Files.createTempDirectory("wild-wh").toString
    val catalog = TableCatalog.default(spark, wh)
    val source = spark.readStream.format("mqtt")
      .option("connector", connectorName)
      .option("clientId", cid)
      .option("topics", "/+/+/out/sensors/#,/alerts/#")
      .load()
    val q = IngestPipeline.start(source,
      new TableRouter(new SchemaRegistry, catalog),
      Files.createTempDirectory("wild-ckpt").toString)
    // evaluate cond at most once per poll — cond has side effects here
    // (publish), so a trailing re-evaluation would double-send
    def await(cond: => Boolean): Boolean = {
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline) {
        if (cond) return true
        Thread.sleep(20)
      }
      cond
    }
    try {
      q.processAllAvailable()
      // + matches exactly one level; # matches the rest
      assert(await(broker.publish("/c1/d1/out/sensors/temp",
        """{"value":1.5}""") == 1))
      assert(await(broker.publish("/c2/d9/out/sensors/deep/nested/hum",
        """{"value":2.5}""") == 1))
      assert(await(broker.publish("/alerts/a/b/c/fire",
        """{"value":"ALARM"}""") == 1))
      // one + level cannot span two segments; non-matching root drops
      assert(broker.publish("/c1/d1/extra/out/sensors/temp",
        """{"value":9.9}""") == 0, "+ must not span levels")
      assert(broker.publish("/other/x/y/z/w", """{"value":9.9}""") == 0)
      assert(await(conn.latestSeq(cid) >= 3L))
      q.processAllAvailable()
      assert(catalog.read("temp").count() == 1)
      assert(catalog.read("hum").head().getAs[Double]("value") == 2.5)
      assert(catalog.read("fire").head().getAs[String]("value") == "ALARM")
    } finally {
      q.stop()
      conn.close()
      broker.close()
    }
  }

  test("poison message goes to rejected sink; query survives") {
    val cid = s"poison-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    val (q, catalog, rej) = pipeline(cid)
    try {
      InMemoryBroker.publish("bad-topic", """{"value":1}""")
      InMemoryBroker.publish("/c/d/out/sensors/ok", """{"value":true}""")
      q.processAllAvailable()
      // query still alive: a good message after the poison ones lands
      InMemoryBroker.publish("/c/d/out/sensors/ok", """{"value":5.0}""")
      q.processAllAvailable()
      assert(q.isActive)
      assert(catalog.read("ok").count() == 1)
      val reasons = spark.read.parquet(rej)
        .select("reason").collect().map(_.getString(0)).sorted
      assert(reasons.toSeq == Seq("invalid_topic", "unsupported_value_type"))
    } finally q.stop()
  }

  test("restart from checkpoint: no replay duplicates, ingestion continues") {
    val cid = s"restart-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    InMemoryBroker.setSubscriptions(cid, Seq("#"))
    val wh = Files.createTempDirectory("wh").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val catalog = TableCatalog.default(spark, wh)
    def newQuery() = IngestPipeline.start(
      IngestPipeline.mqttStream(spark, cid, Seq("#")),
      new TableRouter(new SchemaRegistry, catalog), ckpt)

    val q1 = newQuery()
    InMemoryBroker.publish("/c/d/out/sensors/r", """{"value":1.0}""")
    InMemoryBroker.publish("/c/d/out/sensors/r", """{"value":2.0}""")
    q1.processAllAvailable()
    q1.stop()

    InMemoryBroker.publish("/c/d/out/sensors/r", """{"value":3.0}""")
    val q2 = newQuery()
    try {
      q2.processAllAvailable()
      val vals = catalog.read("r").collect()
        .map(_.getAs[Double]("value")).sorted.toSeq
      assert(vals == Seq(1.0, 2.0, 3.0),
        s"expected exactly-once across restart, got $vals")
    } finally q2.stop()
  }

  test("committed batch replay is skipped (idempotent routeBatch)") {
    val wh = Files.createTempDirectory("wh").toString
    val catalog = TableCatalog.default(spark, wh)
    val router = new TableRouter(new SchemaRegistry, catalog)
    val batch = {
      import spark.implicits._
      graft.ingest.Ingest.records(Seq(
        ("/c/d/out/sensors/once", """{"value":5.0}"""))
        .toDF("topic", "payload"))
    }
    val first = router.routeBatch(batch, batchId = 7L)
    assert(first.appended == Map("once" -> 1L))
    val replay = router.routeBatch(batch, batchId = 7L)
    assert(replay.appended.isEmpty)
    assert(catalog.read("once").count() == 1)
  }

  private def strictQuery(cid: String, wh: String) = {
    InMemoryBroker.reset(cid)
    InMemoryBroker.setSubscriptions(cid, Seq("#"))
    IngestPipeline.start(
      IngestPipeline.mqttStream(spark, cid, Seq("#")),
      new TableRouter(new SchemaRegistry, TableCatalog.default(spark, wh)),
      Files.createTempDirectory("ckpt").toString,
      strictPoisonStop = true)
  }

  test("strict-compat mode: poison message halts the query (reference X1)") {
    val q = strictQuery(s"strict-${System.nanoTime()}",
      Files.createTempDirectory("wh").toString)
    try {
      InMemoryBroker.publish("/c/d/out/sensors/ok", """{"value":true}""")
      val failed = try { q.processAllAvailable(); false }
      catch { case _: Throwable => true }
      assert(failed, "query should die on poison in strict mode")
      val poison = Iterator.iterate[Throwable](q.exception.get)(_.getCause)
        .takeWhile(_ != null)
        .collectFirst { case p: IngestPipeline.PoisonMessageException => p }
      assert(poison.isDefined, s"not a poison halt: ${q.exception.get}")
      assert(poison.get.getMessage.contains("'/c/d/out/sensors/ok'"))
      assert(poison.get.getMessage.contains("unsupported_value_type"))
    } finally if (q.isActive) q.stop()
  }

  test("strict-compat mode: a clean batch commits normally") {
    val wh = Files.createTempDirectory("wh").toString
    val q = strictQuery(s"strict-ok-${System.nanoTime()}", wh)
    try {
      InMemoryBroker.publish("/c/d/out/sensors/ok", """{"value":1.5}""")
      InMemoryBroker.publish("/c/d/out/sensors/ok", """{"value":2.5}""")
      q.processAllAvailable()
      assert(q.isActive && q.exception.isEmpty)
      val vals = TableCatalog.default(spark, wh).read("ok").collect()
        .map(_.getAs[Double]("value")).sorted.toSeq
      assert(vals == Seq(1.5, 2.5))
    } finally if (q.isActive) q.stop()
  }

  test("a steady micro-batch runs six Spark jobs") {
    // the per-batch fixed cost is counted in jobs. The one counting
    // action (reject count + router histogram) runs as three, since AQE
    // submits each query stage as its own job: the scatter's shuffle, the
    // parse cache fill and the aggregation. Then the rejected write and
    // one routed write per value type. A take-job to test for rejects, a
    // router-side histogram or an exchange under the count would each
    // raise the count.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, MicroBatchExecution, StreamExecution}
    import spark.implicits._
    // (properties, SQL execution and RDD scope for the failure message)
    final class JobLog extends SparkListener {
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[
        (java.util.Properties, String)]
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).getOrElse(new java.util.Properties)
        jobs.add((p, s"execution ${p.getProperty("spark.sql.execution.id")}" +
          s" scope ${p.getProperty("spark.rdd.scope")}")); ()
      }
    }
    val log = new JobLog
    // listener events arrive asynchronously, in order: once a marked job
    // is seen, every job before it has been seen too
    def drained(): Unit = {
      val mark = java.util.UUID.randomUUID().toString
      val ctx = spark.sparkContext
      ctx.setLocalProperty("graft.spec.mark", mark)
      try ctx.parallelize(Seq(1), 1).count()
      finally ctx.setLocalProperty("graft.spec.mark", null)
      val deadline = System.currentTimeMillis() + 10000
      while (!log.jobs.asScala.exists(_._1.getProperty("graft.spec.mark") ==
          mark) &&
          System.currentTimeMillis() < deadline) Thread.sleep(10)
    }
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(String, String)]
    val wh = Files.createTempDirectory("wh").toString
    val q = IngestPipeline.start(src.toDF().toDF("topic", "payload"),
      new TableRouter(new SchemaRegistry, TableCatalog.default(spark, wh)),
      Files.createTempDirectory("ckpt").toString,
      rejectedDir = Some(Files.createTempDirectory("rej").toString))
    // ten numeric tables, one string table and one rejected row per batch
    def round(k: Int) = (0 until 10).map(i =>
        (s"/c/d/out/sensors/n$i", s"""{"value":$k.5}""")) ++
      Seq(("/c/d/out/sensors/label", s"""{"value":"v$k"}"""),
        ("bad-topic", """{"value":1}"""))
    spark.sparkContext.addSparkListener(log)
    try {
      src.addData(round(0): _*)
      q.processAllAvailable()
      src.addData(round(1): _*)
      q.processAllAvailable()
      drained()
      val steady = log.jobs.asScala.toSeq.collect {
        case (p, site) if p.getProperty(StreamExecution.QUERY_ID_KEY) ==
            q.id.toString &&
          p.getProperty(MicroBatchExecution.BATCH_ID_KEY) == "1" => site
      }
      assert(steady.size == 6, steady.mkString("; "))
      assert(TableCatalog.default(spark, wh).read("n3").count() == 2)
    } finally {
      spark.sparkContext.removeSparkListener(log)
      q.stop()
    }
  }

  test("each micro-batch commits one part file per table") {
    // the scatter is keyed on the table name, so the routed write opens
    // one parquet writer per table — not one per (table, core)
    val cid = s"files-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    val wh = Files.createTempDirectory("wh").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val catalog = TableCatalog.default(spark, wh)
    val tables = (0 until 10).map(i => s"s$i")
    val perTable = 3 * spark.sparkContext.defaultParallelism
    // published while no query runs (mqttStream subscribes eagerly), so
    // the next query's first micro-batch takes the whole round
    def batchOfRound(): Unit = {
      val source = IngestPipeline.mqttStream(spark, cid, Seq("#"))
      (0 until perTable).foreach { k =>
        tables.foreach(t => InMemoryBroker.publish(
          s"/c$k/d$k/out/sensors/$t", s"""{"value":$k.5}"""))
      }
      val q = IngestPipeline.start(source,
        new TableRouter(new SchemaRegistry, catalog), ckpt)
      try {
        q.processAllAvailable()
        assert(q.recentProgress.count(_.numInputRows > 0) == 1)
      } finally q.stop()
    }
    batchOfRound()
    assert(tables.map(catalog.fileCount) == tables.map(_ => 1))
    batchOfRound()
    assert(tables.map(catalog.fileCount) == tables.map(_ => 2))
    assert(tables.forall(t => catalog.read(t).count() == 2L * perTable))
  }

  test("degenerate topics reach the rejected output; query survives ANSI") {
    // NULL, "", slash-free and trailing-"/" topics give the scatter key
    // NULL, "", the topic itself and "" — each must hash like any other
    // row, not throw
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    implicit val sc = spark.sqlContext
    val src = MemoryStream[(String, String)]
    val wh = Files.createTempDirectory("wh").toString
    val rej = Files.createTempDirectory("rej").toString
    val catalog = TableCatalog.default(spark, wh)
    val q = IngestPipeline.start(src.toDF().toDF("topic", "payload"),
      new TableRouter(new SchemaRegistry, catalog),
      Files.createTempDirectory("ckpt").toString, rejectedDir = Some(rej))
    val v = """{"value":1.5}"""
    try {
      // "/c/d/out/sensors/" is F1-valid (≥ 4 slashes, as in the
      // reference); its empty table name is refused by the router's
      // name policy and must not become a table
      src.addData((null, v), ("", v), ("no-slash", v), ("/c/d/", v),
        ("/c/d/out/sensors/", v), ("/c/d/out/sensors/ok", v))
      q.processAllAvailable()
      src.addData(("/c/d/out/sensors/ok", v))
      q.processAllAvailable()
      assert(q.isActive)
      val rows = spark.read.parquet(rej).collect()
        .map(r => (Option(r.getAs[String]("topic")), r.getAs[String]("reason")))
        .sortBy(_._1)
      assert(rows.toSeq == Seq(None, Some(""), Some("/c/d/"), Some("no-slash"))
        .map(_ -> "invalid_topic"))
      assert(catalog.listTables() == Seq("ok"))
      assert(catalog.read("ok").count() == 2)
    } finally q.stop()
  }

  test("QoS-1 redelivery collapsed by watermark dedup") {
    val cid = s"dedup-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    val (q, catalog, _) = pipeline(cid, dedup = Some("10 minutes"))
    try {
      // same message delivered twice (broker redelivery), plus a distinct one
      InMemoryBroker.publish("/c/d/out/sensors/temp", """{"value":7.5}""")
      InMemoryBroker.publish("/c/d/out/sensors/temp", """{"value":7.5}""")
      InMemoryBroker.publish("/c/d/out/sensors/temp", """{"value":8.0}""")
      q.processAllAvailable()
      assert(catalog.read("temp").count() == 2)
    } finally q.stop()
  }
}
