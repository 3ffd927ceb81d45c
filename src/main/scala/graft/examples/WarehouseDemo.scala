package graft.examples

import java.nio.file.Files

import graft.sinks.ManifestCatalog
import org.apache.spark.sql.functions._

/** Runnable tour of the ManifestCatalog table format — every warehouse
  * capability in one script, each step printing the invariant it just
  * exercised:
  *
  * append → atomic visibility → MERGE (copy-on-write upsert) → CDC feed
  * → time travel → ADD-COLUMN evolution → stats-bearing re-layout →
  * data-skipping reads → DELETE → compaction → checkpoint + vacuum.
  *
  * {{{ sbt "runMain graft.examples.WarehouseDemo" }}}
  */
object WarehouseDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(4)
    import spark.implicits._

    val root = Files.createTempDirectory("wh-demo").toString
    val cat = new ManifestCatalog(spark, root, checkpointInterval = 4)
    def count(t: String) = cat.read(t).count()

    // 1. append: rows invisible until the manifest version commits
    cat.append("accounts",
      (1L to 1000L).map(i => (i, s"u$i", i * 100)).toDF("id", "name", "cents"))
    val v0 = cat.latestVersion()
    println(s"[1] appended 1000 rows -> v$v0, count=${count("accounts")}")

    // 2. MERGE: upsert by key, copy-on-write — only matched files rewrite
    val src = Seq((7L, "u7-fixed", 777L), (2000L, "u2000", 42L))
      .toDF("id", "name", "cents")
    cat.merge("accounts", src, Seq("id"))
    val v1 = cat.latestVersion()
    println(s"[2] merged 1 update + 1 insert -> v$v1, count=${count("accounts")}")

    // 3. CDC: the version-to-version change feed (update = delete+insert)
    val feed = cat.changes("accounts", v0, v1)
      .groupBy(col("_op")).count().collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(", ")
    println(s"[3] cdc v$v0->v$v1: $feed")

    // 4. time travel: the pre-merge snapshot is intact after the merge
    val old = cat.readAt("accounts", v0)
    println(s"[4] time travel v$v0: count=${old.count()}, " +
      s"u7 still ${old.filter(col("id") === 7).select(col("name")).head.getString(0)}")

    // 5. schema evolution: ADD COLUMN without rewriting old files
    cat.append("accounts",
      Seq((3000L, "u3000", 1L, "gold")).toDF("id", "name", "cents", "tier"))
    val tiers = cat.read("accounts").groupBy(col("tier")).count().collect()
      .map(r => s"${Option(r.getString(0)).getOrElse("NULL")}=${r.getLong(1)}")
      .sorted.mkString(", ")
    println(s"[5] evolved schema (tier): $tiers")

    // 6. stats-bearing re-layout + data skipping
    val snapshot = cat.read("accounts").select(col("id"), col("cents"))
    cat.appendWithStats("accounts_by_cents",
      snapshot.repartitionByRange(8, col("cents")), Seq("cents"))
    val (kept, all) = cat.statsPrunedFiles("accounts_by_cents", "cents",
      BigDecimal(10000), BigDecimal(20000))
    val n = cat.readBetween("accounts_by_cents", "cents", 10000, 20000).count()
    println(s"[6] data skipping: read ${kept.size}/${all.size} files, $n rows")

    // 7. DELETE (copy-on-write) — and the old snapshot still time-travels
    val vPre = cat.latestVersion()
    cat.delete("accounts", col("cents") < 5000)
    println(s"[7] deleted cents<5000: count=${count("accounts")} " +
      s"(v$vPre still ${cat.readAt("accounts", vPre).count()})")

    // 8. compaction: consume small files, one atomic swap version
    cat.compact("accounts", targetFiles = 1)
    println(s"[8] compacted: count=${count("accounts")} " +
      s"(files=${cat.fileCount("accounts")})")

    // 9. checkpoint + vacuum: bounded log, reclaimed garbage
    (1 to 4).foreach(i =>
      cat.append("audit", Seq((i, s"evt$i")).toDF("i", "what")))
    val reclaimed = cat.vacuum(retentionMs = 0L) // demo teardown: no writers in flight
    println(s"[9] vacuum reclaimed $reclaimed files; " +
      s"accounts=${count("accounts")}, audit=${count("audit")}")

    spark.stop()
  }
}
