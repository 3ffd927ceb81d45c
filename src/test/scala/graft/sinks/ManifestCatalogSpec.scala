package graft.sinks

import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

class ManifestCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCatalog() = new ManifestCatalog(spark,
    Files.createTempDirectory("manifest").toString)

  test("append commits atomically; orphaned part files stay invisible") {
    val root = Files.createTempDirectory("manifest").toString
    val cat = new ManifestCatalog(spark, root)
    cat.append("temp", Seq(("c1", 1.0), ("c2", 2.0)).toDF("client", "value"))
    assert(cat.read("temp").count() == 2)
    // simulate a crashed append: a part file lands in the table dir
    // WITHOUT a manifest commit — readers must not see it
    val orphan = new java.io.File(s"$root/temp/part-orphan.parquet")
    Seq(("cX", 99.0)).toDF("client", "value")
      .write.parquet(s"$root/.orphan-stage")
    val part = new java.io.File(s"$root/.orphan-stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    assert(part.renameTo(orphan))
    assert(cat.read("temp").count() == 2) // orphan invisible
    assert(cat.vacuum(retentionMs = 0L) == 1)             // and reclaimable
    assert(!orphan.exists())
  }

  test("appendBatch: rows and batch id become visible in ONE commit") {
    val cat = freshCatalog()
    assert(!cat.batchCommitted(7))
    cat.appendBatch(7, Map(
      "a" -> Seq(("x", 1.0)).toDF("client", "value"),
      "b" -> Seq(("y", 2.0), ("z", 3.0)).toDF("client", "value")))
    assert(cat.batchCommitted(7))
    assert(cat.read("a").count() == 1 && cat.read("b").count() == 2)
    assert(cat.listTables() == Seq("a", "b"))
    // replay guard: the router consults batchCommitted before re-append
    assert(!cat.batchCommitted(8))
  }

  test("appendRouted makes all routed tables visible atomically") {
    val cat = freshCatalog()
    val routed = Seq(("t1", "c1", 1.0), ("t2", "c2", 2.0), ("t1", "c3", 3.0))
      .toDF("tableName", "client", "value")
    assert(cat.appendRouted(routed, Seq("t1", "t2")))
    assert(cat.read("t1").count() == 2 && cat.read("t2").count() == 1)
  }

  test("online compaction: no missing-table window, old snapshot survives") {
    val cat = freshCatalog()
    (1 to 4).foreach { i =>
      cat.append("s", Seq((s"c$i", i.toDouble)).toDF("client", "value"))
    }
    assert(cat.fileCount("s") >= 4)
    val before = cat.read("s") // reader holding the pre-compaction snapshot
    val beforeFiles = before.inputFiles.toSeq
    cat.compact("s", targetFiles = 1)
    assert(cat.fileCount("s") == 1)
    assert(cat.read("s").count() == 4)          // new snapshot complete
    assert(before.count() == 4)                 // old reader still works
    assert(beforeFiles.forall(f =>             // old files still on disk
      new java.io.File(new java.net.URI(f)).exists()))
    val removed = cat.vacuum(retentionMs = 0L)                  // now reclaim them
    assert(removed >= 4)
    assert(cat.read("s").count() == 4)          // live data untouched
  }

  test("router batch protocol: rows and batch id land in ONE atomic commit") {
    val cat = freshCatalog()
    val registry = new graft.registry.SchemaRegistry
    val router = new TableRouter(registry, cat)
    val recs = Seq(
      ("temp", "c1", "d1", "Float64", Some(27.8), None: Option[String]),
      ("temp", "c1", "d2", "Float64", Some(19.1), None),
      ("label", "c2", "d1", "String", None, Some("on")))
      .toDF("tableName", "client", "device", "value_type", "value_d", "value_s")
    val stats = router.routeBatch(recs, batchId = 3L)
    assert(stats.appended == Map("temp" -> 2L, "label" -> 1L))
    assert(cat.batchCommitted(3L))
    assert(cat.read("temp").count() == 2 && cat.read("label").count() == 1)
    // replay of the same batch is skipped entirely
    val replay = router.routeBatch(recs, batchId = 3L)
    assert(replay.alreadyCommitted && cat.read("temp").count() == 2)
  }

  test("crashed batch (no commit) leaves NOTHING visible; vacuum reclaims") {
    val cat = freshCatalog()
    cat.beginBatch(5L)
    val routed = Seq(("t", "c", 1.0)).toDF("tableName", "client", "value")
    cat.appendRouted(routed, Seq("t")) // staged, not committed
    // "crash": beginBatch of the retry drops the stale pending adds
    assert(!cat.batchCommitted(5L))
    assert(cat.listTables().isEmpty) // nothing ever became visible
    cat.beginBatch(5L)
    cat.appendRouted(routed, Seq("t"))
    cat.commitBatch(5L)
    assert(cat.batchCommitted(5L) && cat.read("t").count() == 1)
    assert(cat.vacuum(retentionMs = 0L) >= 1) // first attempt's orphans reclaimed
    assert(cat.read("t").count() == 1)
  }

  test("a failed write leaves no staging dir; vacuum reclaims stale ones") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val root = Files.createTempDirectory("manifest").toString
    val cat = new ManifestCatalog(spark, root)
    def stagingDirs(dir: String) = new java.io.File(dir).list().toSeq
      .filter(n => n.startsWith(".staging-") || n.startsWith(".rewrite-"))
    // one poisoned row fails the write job; coalesce(1) keeps it a single
    // task so no sibling task is still writing when the call returns
    val poisoned = Seq(("t1", "c1", 1.0), ("t2", "boom", 2.0))
      .toDF("tableName", "client", "value")
      .withColumn("client", when(col("client") === "boom",
        raise_error(lit("poisoned row"))).otherwise(col("client")))
      .coalesce(1)
    // a failed move: a plain file squats on the table directory's name
    val squatted = Seq(("t9", "c1", 1.0)).toDF("tableName", "client", "value")
    def failBoth(dir: String)(routed: (DataFrame, Seq[String]) => Boolean) = {
      assert(new java.io.File(dir, "t9").createNewFile())
      intercept[Exception](routed(poisoned, Seq("t1", "t2")))
      intercept[java.io.IOException](routed(squatted, Seq("t9")))
      assert(stagingDirs(dir).isEmpty)
    }
    failBoth(root)(cat.appendRouted)
    intercept[Exception](cat.append("t3", poisoned.drop("tableName")))
    intercept[java.io.IOException](cat.append("t9", squatted))
    assert(stagingDirs(root).isEmpty)
    assert(cat.listTables().isEmpty)
    val wh = Files.createTempDirectory("warehouse").toString
    failBoth(wh)(new WarehouseCatalog(spark, wh).appendRouted)
    // a crashed process's leftovers: dot-prefixed, yet not skipped
    val staleParts = new java.io.File(root, ".staging-stale/tableName=t1")
    assert(staleParts.mkdirs())
    assert(new java.io.File(staleParts, "part-0.parquet").createNewFile())
    assert(new java.io.File(root, ".rewrite-stale").mkdirs())
    assert(cat.vacuum(retentionMs = 60L * 60 * 1000) == 0) // young: kept
    assert(stagingDirs(root).size == 2)
    assert(cat.vacuum(retentionMs = 0L) == 2)
    assert(stagingDirs(root).isEmpty)
  }

  test("describe maps schema through the ClickHouse bijection") {
    val cat = freshCatalog()
    cat.append("m", Seq(("c", "d", 1.5)).toDF("client", "device", "value"))
    assert(cat.describe("m").map(c => (c.name, c.chType)) ==
      Seq(("client", "String"), ("device", "String"), ("value", "Float64")))
  }
}
