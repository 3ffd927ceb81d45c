package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every main runs under the one [[GraftSession]] profile. Derived from
  * the source tree, not from a list of mains: a new main that builds its
  * own session fails here. */
class SessionProfileSpec extends AnyFunSuite {
  /** Files under src/main/scala whose code (comments stripped) calls
    * `SparkSession.builder`. */
  private def builderCallers: Set[String] = {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .filter { p: Path =>
        val code = new String(Files.readAllBytes(p), "UTF-8")
          .replaceAll("(?s)/\\*.*?\\*/", "")
          .replaceAll("//[^\n]*", "")
        "SparkSession\\s*\\.\\s*builder".r.findFirstIn(code).nonEmpty
      }.map(_.getFileName.toString).toSet
    finally files.close()
  }

  test("only GraftSession and the spark-submit daemon build a session") {
    assert(builderCallers === Set("GraftSession.scala", "IngestDaemon.scala"))
  }

  test("the test session carries the profile") {
    val spark = TestSpark.spark
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "5000")
    assert(spark.sparkContext.getConf
      .get("spark.shuffle.sort.bypassMergeThreshold") === "0")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(!spark.sparkContext.getConf.getBoolean("spark.ui.enabled", true))
    // a fresh session has no temp registrations: only the extension
    val fresh = spark.newSession().sessionState.functionRegistry
    VectorFunctions.all.foreach(f =>
      assert(fresh.functionExists(FunctionIdentifier(f.name)), f.name))
  }
}
