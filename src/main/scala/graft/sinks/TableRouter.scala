package graft.sinks

import graft.registry.{ColumnDef, SchemaRegistry}
import java.util.concurrent.{ExecutionException, ExecutorService, Executors,
  Future}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import scala.util.{Failure, Success, Try}

/** Per-batch routing outcome (observability; the reference logs and dies
  * instead — /root/reference/main.go:21-31). `alreadyCommitted` = this
  * batch id was appended by a previous run (crash replay) and was skipped
  * — side outputs must not re-append either. */
final case class RouteStats(
    appended: Map[String, Long],
    rejectedSchema: Map[String, Long],
    rejectedName: Map[String, Long] = Map.empty,
    alreadyCommitted: Boolean = false)

/** W2 — table router / demultiplexer (reference `Recording`,
  * /root/reference/db/db.go:147-205), run driver-side inside
  * `foreachBatch`:
  *
  *   - catalog hit  → W3 positional schema check against the registry;
  *     mismatching rows are counted + dropped to the rejected output
  *     (reference would kill the pipeline);
  *   - catalog miss → W4 auto-DDL with the batch-inferred schema, then
  *     registry insert;
  *   - then W5 bulk append of the typed per-table slice.
  *
  * The only driver-side input is the per-batch `(tableName, value_type)`
  * histogram — cardinality = number of distinct sensors, thousands at most,
  * never data-sized. The streaming pipeline computes it in its one
  * per-batch counting job and passes it in; a caller that passes none
  * gets it from a collect here. Row data itself moves executor-side only.
  *
  * Routed table schema is the reference's golden shape
  * `[client String, device String, value <inferred>]`
  * (/root/reference/message/message_test.go:177-198).
  */
final class TableRouter(registry: SchemaRegistry, catalog: TableCatalog,
    schemaRejectSink: Option[DataFrame => Unit] = None) {

  /** W1 — seed the registry from the physical catalog at startup
    * (reference `LoadTables`, /root/reference/db/db.go:117-135).
    * Per-table failures (e.g. an empty directory left by a crash mid-
    * append) are logged and skipped — a broken table must not wedge
    * startup into a crash loop. */
  def bootstrap(): Unit =
    catalog.listTables().foreach { t =>
      try {
        val cols = catalog.describe(t)
        if (cols.nonEmpty) registry.put(t, cols)
      } catch { case e: Exception =>
        System.err.println(s"[router] bootstrap skipping '$t': ${e.getMessage}")
      }
    }

  /** Was this streaming batch already fully appended by a previous run?
    * Lets the pipeline order its side outputs around the commit point. */
  def isCommitted(batchId: Long): Boolean =
    batchId >= 0 && catalog.batchCommitted(batchId)

  private def colsFor(chType: String): Seq[ColumnDef] = Seq(
    ColumnDef("client", "String"),
    ColumnDef("device", "String"),
    ColumnDef("value", chType))

  /** Table-name policy, enforced at the single choke point before any
    * physical layer sees the name. The topic's last segment is attacker-
    * controllable; without this, '..' traverses the warehouse root,
    * '_'/'.' prefixes create directories invisible to bootstrap, and
    * SQL-identifier validation deep in the JDBC dialect would THROW from
    * foreachBatch — killing the query on the first exotic sensor name
    * (the reference's poison-halt again). Hyphens are allowed: they are
    * routine in MQTT sensor names and safe under quoted identifiers.
    * Invalid names are counted + routed to the reject sink instead. */
  private val validName = "^[A-Za-z0-9][A-Za-z0-9_-]{0,127}$".r
  private[sinks] def tableNameOk(name: String): Boolean =
    name != null && validName.pattern.matcher(name).matches()

  /** Route one micro-batch of parsed records (output of
    * [[graft.ingest.Ingest.records]]).
    *
    * With `batchId >= 0` (streaming), replayed batches the catalog has
    * already committed are skipped — effectively-once appends across
    * query restarts for catalogs that record commits.
    *
    * `batch` is read as given — once per value type and once more for
    * rejected rows — so caching it is the caller's job (the streaming
    * pipeline reads it off its persisted parse). `histogram` is the
    * batch's `(tableName, value_type, rows)` counts when the caller
    * already has them, as the pipeline does from its one counting job;
    * without it the router counts `batch` itself. */
  def routeBatch(batch: DataFrame, batchId: Long = -1L,
      histogram: Option[Seq[(String, String, Long)]] = None): RouteStats = {
    if (batchId >= 0 && catalog.batchCommitted(batchId))
      return RouteStats(Map.empty, Map.empty, alreadyCommitted = true)
    // transactional catalogs defer append visibility until the single
    // commitBatch below — rows + batch id become visible atomically
    if (batchId >= 0) catalog.beginBatch(batchId)
    // (tableName, value_type) -> count; tiny, driver-side by design.
    val hist = histogram.getOrElse(
        batch.groupBy("tableName", "value_type").count().collect().toSeq
          .map(r => (r.getString(0), r.getString(1), r.getLong(2))))
      .sortBy(t => (t._1, t._2))

    val rejected = scala.collection.mutable.Map.empty[String, Long]
    val badNames = scala.collection.mutable.Map.empty[String, Long]
    val appendTasks = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, Long)] // (table, vt, valueCol, n)

    // Phase 1 (serial, driver): name policy + DDL + schema decisions —
    // cheap, order-sensitive (first sight fixes the schema).
    hist.groupBy(_._1).toSeq.sortBy(_._1).foreach {
      case (table, groups) if !tableNameOk(table) =>
        badNames(table) = groups.map(_._3).sum
      case (table, groups) =>
        // First message for a sensor fixes its schema (reference
        // db/db.go:187-195). Within one batch arrival order is
        // undefined, so the engine picks deterministically: the most
        // frequent type, ties broken alphabetically.
        val tableType: String = registry.get(table) match {
          case Some(cols) => cols.last.chType
          case None =>
            val chosen = groups.maxBy(g => (g._3, g._2.head * -1))._2
            catalog.createTable(table, colsFor(chosen))
            registry.put(table, colsFor(chosen))
            chosen
        }
        groups.foreach { case (_, vt, n) =>
          registry.checkValid(
              registry.get(table).get, colsFor(vt)) match {
            case None =>
              val valueCol =
                if (tableType == "String") "value_s" else "value_d"
              appendTasks += ((table, vt, valueCol, n))
            case Some(_) =>
              rejected(table) = rejected.getOrElse(table, 0L) + n
          }
        }
    }

    // Phase 2: appends. Fast path — ONE dynamic-partitioned write job
    // per value type (validated tasks always have vt == table type, so
    // there are at most 2 groups), covering every table in the slice;
    // the two run side by side on the shared append pool, under the
    // caller's Spark local properties (job group, streaming query and
    // batch ids). Catalogs without a routed write (JDBC) fall back to
    // per-table jobs. The routed write emits one part file per
    // distinct (table, partition of `batch`), so the caller should
    // hand over a batch clustered by tableName (IngestPipeline
    // hash-partitions on it); an unclustered batch writes
    // tables × partitions small files per value type.
    val session = batch.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val running = appendTasks.toSeq.groupBy(t => (t._2, t._3)).toSeq
      .sortBy(_._1).map { case ((vt, valueCol), tasks) =>
        SQLExecution.withThreadLocalCaptured(session,
            TableRouter.appendPool) {
          appendType(batch, vt, valueCol, tasks.map(_._1))
          tasks
        }
      }
    val appended = TableRouter.awaitAll(running).flatMap(_.get)
      .groupMapReduce(_._1)(_._4)(_ + _)

    // schema-mismatched and name-invalid slices go to the configured
    // side output — "rejected" must mean visible, not counted away
    if (rejected.nonEmpty || badNames.nonEmpty)
      schemaRejectSink.foreach { sink =>
        val mismatchCond = hist.filter { case (table, vt, _) =>
          registry.get(table).exists(cols =>
            registry.checkValid(cols, colsFor(vt)).isDefined)
        }.map { case (table, vt, _) =>
          col("tableName") === table && col("value_type") === vt
        }
        val nameCond = badNames.keys.toSeq.sorted
          .map(t => col("tableName") === t)
        (mismatchCond ++ nameCond).reduceOption(_ || _)
          .foreach(cond => sink(batch.filter(cond)))
      }

    if (batchId >= 0) catalog.commitBatch(batchId)
    RouteStats(appended, rejected.toMap, badNames.toMap)
  }

  /** One value type's slice of `recs` into its `tables`: one routed
    * write, or per-table appends where the catalog has none. */
  private def appendType(recs: DataFrame, vt: String, valueCol: String,
      tables: Seq[String]): Unit = {
    val routedDf = recs
      .filter(col("value_type") === vt &&
        col("tableName").isInCollection(tables))
      .select(col("tableName"), col("client"), col("device"),
        col(valueCol).as("value"))
    if (!catalog.appendRouted(routedDf, tables)) tables.foreach { table =>
      catalog.append(table,
        recs.filter(col("tableName") === table && col("value_type") === vt)
          .select(col("client"), col("device"), col(valueCol).as("value")))
    }
  }
}

object TableRouter {
  /** One pool for every router's appends (at most two per batch, one per
    * value type). Daemon threads, made on demand and retired after 60 s
    * idle, so stopped pipelines leave none behind. */
  private val appendPool: ExecutorService =
    Executors.newCachedThreadPool((r: Runnable) => {
      val t = new Thread(r, "router-append"); t.setDaemon(true); t
    })

  /** The outcome of every future, each awaited to its end — interrupted
    * or not — so that none may still be writing once the batch is
    * abandoned. An interrupt (a query stop, which also cancels the
    * appends' job group) is re-raised after the last one has ended. */
  private[sinks] def awaitAll[A](running: Seq[Future[A]]): Seq[Try[A]] = {
    var interrupt: Option[InterruptedException] = None
    val outcomes = running.map { f =>
      var outcome: Option[Try[A]] = None
      while (outcome.isEmpty)
        try outcome = Some(Success(f.get()))
        catch {
          case e: ExecutionException => outcome = Some(Failure(e.getCause))
          case e: InterruptedException => interrupt = interrupt.orElse(Some(e))
        }
      outcome.get
    }
    interrupt.foreach { e => Thread.currentThread().interrupt(); throw e }
    outcomes
  }
}
