package graft.examples

import graft.registry.SchemaRegistry
import graft.sinks.{TableCatalog, TableRouter}
import graft.sources.mqtt.{InMemoryBroker, MqttSource}
import graft.streaming.IngestPipeline
import java.nio.file.Files

/** Runnable end-to-end demo of the reference pipeline on Spark:
  * broker → mqtt source → parse/validate → route → warehouse, including a
  * poison message, a QoS-1 redelivery, and a mid-stream subscription swap.
  *
  * {{{ sbt "runMain graft.examples.MqttDemo" }}}
  */
object MqttDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(4)

    val wh = Files.createTempDirectory("demo-wh").toString
    val rej = Files.createTempDirectory("demo-rej").toString
    val catalog = TableCatalog.default(spark, wh)
    val router = new TableRouter(new SchemaRegistry, catalog)
    val cid = "demo"
    InMemoryBroker.reset(cid)

    val query = IngestPipeline.start(
      IngestPipeline.mqttStream(spark, cid, Seq("/+/+/out/sensors/#")),
      router,
      Files.createTempDirectory("demo-ckpt").toString,
      rejectedDir = Some(rej),
      dedupWithinWatermark = Some("10 minutes"))

    println("== publishing: golden, string sensor, redelivery, poison ==")
    InMemoryBroker.publish("/balalaykajazz/plants1/out/sensors/temp_out",
      """{"timestamp":"2021-11-24T20:27:23Z","value":27.8}""")
    InMemoryBroker.publish("/balalaykajazz/plants1/out/sensors/temp_out",
      """{"timestamp":"2021-11-24T20:27:23Z","value":27.8}""") // QoS-1 dup
    InMemoryBroker.publish("/balalaykajazz/plants1/out/sensors/door",
      """{"value":"open"}""")
    InMemoryBroker.publish("not-a-topic", """{"value":1}""")
    InMemoryBroker.publish("/c/d/out/sensors/bool", """{"value":true}""")
    query.processAllAvailable()

    println("== swapping subscriptions to /alerts/# (consul-watch path) ==")
    MqttSource.reconfigure(cid, Seq("/alerts/#"))
    InMemoryBroker.publish("/balalaykajazz/plants1/out/sensors/temp_out",
      """{"value":99.9}""") // no longer subscribed
    InMemoryBroker.publish("/alerts/a/b/c/fire", """{"value":"ALARM"}""")
    query.processAllAvailable()
    query.stop()

    catalog.listTables().foreach { t =>
      println(s"-- table $t --")
      catalog.read(t).show(10, truncate = false)
    }
    println("-- rejected --")
    spark.read.parquet(rej).show(10, truncate = false)

    println("== stateful running stats (flatMapGroupsWithState) ==")
    val cid2 = "demo-stats"
    InMemoryBroker.reset(cid2)
    val statsQ = graft.streaming.SensorStats
      .runningStats(graft.ingest.Ingest.records(
        IngestPipeline.mqttStream(spark, cid2, Seq("#"))))
      .writeStream.format("memory").queryName("sensor_stats")
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("demo-ckpt2").toString)
      .start()
    InMemoryBroker.publish("/c/d/out/sensors/temp", """{"value":10.0}""")
    InMemoryBroker.publish("/c/d/out/sensors/temp", """{"value":30.0}""")
    statsQ.processAllAvailable()
    InMemoryBroker.publish("/c/d/out/sensors/temp", """{"value":50.0}""")
    statsQ.processAllAvailable()
    statsQ.stop()
    spark.table("sensor_stats").show(10, truncate = false)

    println("== file config-watch (reference's consul topic map) ==")
    val cidW = "demo-watch"
    InMemoryBroker.reset(cidW)
    val cfg = Files.createTempFile("topics", ".json")
    Files.writeString(cfg, """{"sensors": "/w/#"}""")
    val watcher = new graft.streaming.TopicConfigWatcher(cfg, cidW, 50L)
      .start()
    val wq = spark.readStream.format("mqtt")
      .option("clientId", cidW).option("topics", "/w/#").load()
      .writeStream.format("memory").queryName("watch_demo")
      .option("checkpointLocation",
        Files.createTempDirectory("demo-ckptw").toString)
      .start()
    InMemoryBroker.publish("/w/1/2/3/s", "before-swap")
    wq.processAllAvailable()
    Files.writeString(cfg, """{"alerts": "/v/#"}""")
    val deadline = System.currentTimeMillis() + 5000
    while (watcher.topics.get("alerts").isEmpty &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    InMemoryBroker.publish("/w/1/2/3/s", "dropped-after-swap")
    InMemoryBroker.publish("/v/1/2/3/s", "after-swap")
    wq.processAllAvailable()
    wq.stop(); watcher.stop()
    spark.table("watch_demo").select("payload").show(5, truncate = false)

    println("== JDBC sink (embedded Derby standing in for ClickHouse) ==")
    val dbUrl = "jdbc:derby:memory:demo;create=true"
    java.sql.DriverManager.getConnection(dbUrl).close()
    val jdbcFactory: () => java.sql.Connection = {
      val u = "jdbc:derby:memory:demo"
      () => java.sql.DriverManager.getConnection(u)
    }
    val jdbcRouter = new TableRouter(new SchemaRegistry,
      new graft.sinks.JdbcCatalog(jdbcFactory, graft.sinks.DerbyDialect))
    val cid3 = "demo-jdbc"
    InMemoryBroker.reset(cid3)
    val jdbcQ = IngestPipeline.start(
      IngestPipeline.mqttStream(spark, cid3, Seq("#")),
      jdbcRouter, Files.createTempDirectory("demo-ckpt3").toString)
    InMemoryBroker.publish("/balalaykajazz/plants1/out/sensors/temp_out",
      """{"value":27.8}""")
    InMemoryBroker.publish("/balalaykajazz/plants2/out/sensors/temp_out",
      """{"value":19.1}""")
    jdbcQ.processAllAvailable()
    jdbcQ.stop()
    val c = java.sql.DriverManager.getConnection("jdbc:derby:memory:demo")
    val rs = c.createStatement().executeQuery(
      """SELECT "client", "device", "value" FROM "temp_out" ORDER BY "value"""")
    while (rs.next())
      println(s"jdbc row: ${rs.getString(1)} ${rs.getString(2)} ${rs.getDouble(3)}")
    c.close()
    spark.stop()
  }
}
