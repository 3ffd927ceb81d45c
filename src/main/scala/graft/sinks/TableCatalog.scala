package graft.sinks

import graft.registry.ColumnDef
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Physical destination for routed per-sensor tables — the engine's
  * abstraction over the reference's ClickHouse layer
  * (/root/reference/db/db.go). Implementations must be driver-side
  * idempotent: `createTable` is CREATE-IF-NOT-EXISTS, `append` is a bulk
  * (micro-batch-sized) write, never the reference's one-INSERT-per-row
  * (/root/reference/db/db.go:259-264).
  */
trait TableCatalog {
  /** W1 — list existing tables (reference `showTables`,
    * /root/reference/db/db.go:50-69). */
  def listTables(): Seq[String]
  /** W1 — existing schema of a table (reference `showColumns`; note the
    * reference's DESCRIBE is malformed, db/db.go:75 — deviation §4.3). */
  def describe(table: String): Seq[ColumnDef]
  /** W4 — auto-DDL from an inferred schema
    * (/root/reference/db/db.go:226-243). */
  def createTable(table: String, cols: Seq[ColumnDef]): Unit
  /** W5 — bulk append one micro-batch's rows for one table. */
  def append(table: String, df: DataFrame): Unit
  /** W5, many-table fast path: append a routed frame with columns
    * (tableName, client, device, value) spanning `tables` in ONE write
    * job. Returns false if this catalog can't (caller falls back to
    * per-table [[append]]). At high sensor cardinality this is the
    * difference between 2 jobs per batch and N-tables jobs per batch.
    *
    * Files written per call = distinct (tableName, input partition)
    * pairs of `df`: a frame whose every partition holds every table
    * writes tables × partitions small files. Callers should cluster `df`
    * by `tableName` first (the streaming pipeline hash-partitions on it)
    * so each table gets one part file per call. */
  def appendRouted(df: DataFrame, tables: Seq[String]): Boolean = false

  /** Exactly-once support: has this streaming batch already been fully
    * appended? foreachBatch re-runs a batch after a crash/restart; a
    * catalog that records commits lets the router skip the replay instead
    * of duplicating rows. Default: no record → at-least-once. */
  def batchCommitted(batchId: Long): Boolean = false
  /** Record `batchId` as fully appended (called after all appends). */
  def commitBatch(batchId: Long): Unit = ()
  /** Transactional catalogs may DEFER visibility of appends between
    * [[beginBatch]] and [[commitBatch]] so a batch's rows and its commit
    * record land atomically (no marker-vs-data replay window). Default:
    * no-op — appends are visible immediately (at-least-once on the exact
    * crash boundary, as WarehouseCatalog documents). */
  def beginBatch(batchId: Long): Unit = ()
}

object TableCatalog {
  /** The DEFAULT pipeline catalog: the [[ManifestCatalog]] commit log.
    * It closes both crash windows the plain parquet-directory layout has
    * (batch-marker-vs-data replay, compaction swap) at the cost of one
    * tiny manifest rename per batch; periodic checkpointing keeps log
    * folds O(checkpointInterval) on long streams. [[WarehouseCatalog]]
    * remains available as an explicit opt-in for the
    * simple-directory layout. */
  def default(spark: SparkSession, root: String): ManifestCatalog =
    new ManifestCatalog(spark, root)
}

/** Parquet-directory catalog: one subdirectory per sensor table. Durable
  * (unlike the reference's `engine=Memory`, /root/reference/db/db.go:233),
  * partition-parallel, and what a lakehouse deployment would use. */
final class WarehouseCatalog(spark: SparkSession, root: String)
    extends TableCatalog {
  private val rootDir = new java.io.File(root)
  rootDir.mkdirs()

  override def describe(table: String): Seq[ColumnDef] = {
    val schema: StructType =
      spark.read.parquet(s"$root/$table").schema
    schema.fields.toSeq.map { f =>
      ColumnDef(f.name, graft.ingest.TypeMapping.toClickHouse(f.dataType))
    }
  }

  override def createTable(table: String, cols: Seq[ColumnDef]): Unit = {
    // Parquet tables materialize on first append; DDL is a no-op beyond
    // the registry entry the router records.
    val _ = (table, cols)
  }

  override def append(table: String, df: DataFrame): Unit =
    df.write.options(ForkFreeLocalFileSystem.WriteOptions)
      .mode(SaveMode.Append).parquet(s"$root/$table")

  override def appendRouted(df: DataFrame, tables: Seq[String]): Boolean = {
    WarehouseCatalog.writeRouted(df, rootDir)
    true
  }

  // batch-commit markers: root/_batches/<id>. Marker written after all
  // moves; a crash between the last move and the marker replays the batch
  // (duplicates possible in exactly that window — the standard
  // non-transactional-store tradeoff; a table format with commit logs
  // would close it).
  private val batchesDir = new java.io.File(rootDir, "_batches")
  override def batchCommitted(batchId: Long): Boolean =
    new java.io.File(batchesDir, batchId.toString).exists()
  override def commitBatch(batchId: Long): Unit = {
    batchesDir.mkdirs()
    new java.io.File(batchesDir, batchId.toString).createNewFile()
    ()
  }

  override def listTables(): Seq[String] =
    Option(rootDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .map(_.getName).toSeq.sorted

  def read(table: String): DataFrame = spark.read.parquet(s"$root/$table")

  /** Streaming appends produce one file per partition per micro-batch;
    * periodic compaction rewrites a table to `targetFiles` files.
    *
    * MAINTENANCE OPERATION — run while the table is quiescent (no
    * concurrent appends or reads): the two-rename swap has a brief window
    * where the table directory is absent, and a crash inside it leaves
    * the data in `.old-<table>` for manual recovery (a table format with
    * a commit log is the production answer for online compaction). */
  def compact(table: String, targetFiles: Int = 1): Unit = {
    val dir = new java.io.File(s"$root/$table")
    require(dir.isDirectory, s"no such table: $table")
    val tmp = new java.io.File(s"$root/.compact-$table")
    val old = new java.io.File(s"$root/.old-$table")
    spark.read.parquet(dir.toString)
      .coalesce(math.max(1, targetFiles))
      .write.options(ForkFreeLocalFileSystem.WriteOptions)
      .mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (!dir.renameTo(old))
      throw new java.io.IOException(s"compact: cannot move $dir aside")
    if (!tmp.renameTo(dir)) {
      val rolledBack = old.renameTo(dir)
      throw new java.io.IOException(s"compact: cannot activate $tmp" +
        (if (rolledBack) " (rolled back)"
         else s" AND ROLLBACK FAILED — data is in $old"))
    }
    WarehouseCatalog.rm(old)
  }

  def fileCount(table: String): Int =
    Option(new java.io.File(s"$root/$table").listFiles())
      .getOrElse(Array.empty)
      .count(f => f.getName.endsWith(".parquet"))
}

object WarehouseCatalog {
  /** Prefix of a routed write's staging dir under the catalog root. */
  private[sinks] val StagingPrefix = ".staging-"

  /** The routed write both file catalogs share: ONE dynamic-partitioned
    * write job for all tables in `df` into a fresh staging dir under
    * `root`, then per-file renames into each `root/<table>` dir (parquet
    * part-file names carry a write UUID, so moves can't collide).
    * Returns the moved file names per table. Files written = distinct
    * (tableName, partition of `df`) pairs — see
    * [[TableCatalog.appendRouted]]. The staging dir is removed however
    * the call ends: a failed write job or move must not leave it behind. */
  private[sinks] def writeRouted(df: DataFrame,
      root: java.io.File): Map[String, Seq[String]] = {
    val staging = new java.io.File(root,
      s"$StagingPrefix${java.util.UUID.randomUUID()}")
    try {
      df.write.options(ForkFreeLocalFileSystem.WriteOptions)
        .partitionBy("tableName")
        .mode(SaveMode.Overwrite).parquet(staging.toString)
      Option(staging.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("tableName=")).map { pdir =>
          val table = unescapePartitionName(
            pdir.getName.stripPrefix("tableName="))
          val dest = new java.io.File(root, table)
          dest.mkdirs()
          table -> pdir.listFiles().filter(_.getName.endsWith(".parquet"))
            .map { f =>
              if (!f.renameTo(new java.io.File(dest, f.getName)))
                throw new java.io.IOException(s"move failed: $f")
              f.getName
            }.toSeq
        }.toMap
    } finally rm(staging)
  }

  private[sinks] def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(); ()
  }

  /** Inverse of Spark's partition-path escaping: %XX sequences only.
    * NOT URLDecoder — that also maps '+' to space, silently splitting a
    * table named "a+b" into a phantom directory "a b". */
  def unescapePartitionName(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 3 <= s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }
}

/** SQL-text generation for a ClickHouse (JDBC) catalog. Connection handling
  * is pluggable because no JDBC driver ships in this offline environment;
  * the SQL itself is the complete, tested surface. Identifiers are strictly
  * validated instead of string-concatenated raw (the reference is injectable
  * through the topic string — /root/reference/db/db.go:233, :259-262;
  * deviation §4.3). */
object ClickHouseSql {
  // hyphens + leading digits are fine under backtick quoting and routine
  // in MQTT sensor names; everything else (quotes, spaces, dots, control
  // chars) is refused — the router's name policy rejects those upstream,
  // this is defense in depth
  private val ident = "^[A-Za-z0-9_][A-Za-z0-9_-]*$".r

  def quoteIdent(name: String): String = name match {
    case ident() => "`" + name + "`"
    case _ => throw new IllegalArgumentException(
      s"illegal SQL identifier: '$name'")
  }

  /** Reference `createTable` (/root/reference/db/db.go:226-243) — but with
    * a durable MergeTree engine instead of `Memory` and quoted identifiers. */
  def createTable(table: String, cols: Seq[ColumnDef]): String = {
    val colSql = cols.map(c => s"${quoteIdent(c.name)} ${c.chType}")
      .mkString(", ")
    s"CREATE TABLE IF NOT EXISTS ${quoteIdent(table)} ($colSql) " +
      "ENGINE = MergeTree() ORDER BY tuple()"
  }

  /** Reference `writeData` (/root/reference/db/db.go:246-271) — same
    * parameterized INSERT shape, executed once per micro-batch with JDBC
    * `addBatch`, not once per row. */
  def insert(table: String, cols: Seq[ColumnDef]): String = {
    val names = cols.map(c => quoteIdent(c.name)).mkString(", ")
    val marks = cols.map(_ => "?").mkString(", ")
    s"INSERT INTO ${quoteIdent(table)} ($names) VALUES ($marks)"
  }

  def describeTable(table: String): String =
    s"DESCRIBE TABLE ${quoteIdent(table)}"

  val showTables: String = "SHOW TABLES"
}
