package graft.sinks

import graft.TestSpark
import graft.registry.SchemaRegistry
import graft.streaming.IngestPipeline
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The fork-free `file:` file system sets exactly the modes Hadoop's
  * default one does, keeps Hadoop's path where nio cannot follow, and
  * carries every file write of the sinks layer and the pipeline. */
class ForkFreeLocalFileSystemSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)
  private def modeOf(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer] & 0xfff

  /** (path relative to `root`, mode) of everything under `root`. */
  private def modes(root: JPath): Map[String, Int] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> modeOf(p)).toMap
    finally walk.close()
  }

  private def fsOf(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration(false)
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Hadoop's create/mkdirs/setPermission calls on `fs`, under `root`. */
  private def exercise(fs: FileSystem, root: JPath): Unit = {
    def p(rel: String) = new Path(root.resolve(rel).toUri)
    fs.mkdirs(p("a/b"))                       // default dir mode, two dirs
    fs.mkdirs(p("c"), octal("750"))
    val out = fs.create(p("a/b/part-0.parquet")) // file + its .crc
    out.write(Array[Byte](1, 2, 3)); out.close()
    fs.create(p("c/x"), octal("640"), true, 4096, 1.toShort, 1L << 20, null)
      .close()
    fs.create(p("c/y")).close()
    fs.setPermission(p("c/y"), octal("600"))
  }

  test("creates files and directories with the default file system's modes") {
    Seq("022", "077", "002", "027").foreach { umask =>
      val ref = Files.createTempDirectory("ref")
      val ours = Files.createTempDirectory("ours")
      exercise(fsOf(new LocalFileSystem, umask), ref)
      exercise(fsOf(new ForkFreeLocalFileSystem, umask), ours)
      val (want, got) = (modes(ref), modes(ours))
      assert(want.keySet.exists(_.endsWith(".crc")))
      assert(got == want, s"umask $umask")
    }
  }

  test("Spark part files keep the default write's modes") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v").repartition(2)
    def kinds(dir: JPath) = modes(dir).toSeq.map { case (rel, m) =>
      val kind = rel.replaceAll("[0-9a-f]{8}-[0-9a-f-]{27}", "UUID")
        .replaceAll("part-[0-9]+", "part-N")
      kind -> m
    }.toSet
    val ref = Files.createTempDirectory("ref").resolve("t")
    val ours = Files.createTempDirectory("ours").resolve("t")
    df.write.partitionBy("k").parquet(ref.toString)
    df.write.options(ForkFreeLocalFileSystem.WriteOptions)
      .partitionBy("k").parquet(ours.toString)
    assert(kinds(ref).exists(_._1.endsWith(".parquet")))
    assert(kinds(ours) == kinds(ref))
  }

  test("special modes and non-POSIX stores take Hadoop's own path") {
    val posix = Set("basic", "owner", "posix", "unix").asJava
    import PosixFilePermission._
    assert(ForkFreeLocalFileSystem.posixPermissions(octal("751"), posix) ==
      Some(java.util.EnumSet.of(OWNER_READ, OWNER_WRITE, OWNER_EXECUTE,
        GROUP_READ, GROUP_EXECUTE, OTHERS_EXECUTE)))
    assert(ForkFreeLocalFileSystem.posixPermissions(octal("1777"), posix)
      .isEmpty)
    assert(ForkFreeLocalFileSystem.posixPermissions(octal("644"),
      Set("basic", "owner", "dos", "acl").asJava).isEmpty)
    // nio cannot set the sticky bit: seeing it set shows the fallback ran
    val dir = Files.createTempDirectory("sticky")
    fsOf(new ForkFreeLocalFileSystem, "022")
      .setPermission(new Path(dir.toUri), octal("1755"))
    assert(modeOf(dir) == Integer.parseInt("1755", 8))
  }

  /** Bytes written through the raw layer of [[ForkFreeLocalFileSystem]]
    * while `body` runs: Hadoop keeps write statistics per file-system
    * class, and the raw layer writes both part files and checksums. */
  @annotation.nowarn("cat=deprecation")
  private def bytesViaForkFree(body: => Unit): Long = {
    val stats = FileSystem.getStatistics("file",
      classOf[ForkFreeLocalFileSystem.Raw])
    val before = stats.getBytesWritten
    body
    stats.getBytesWritten - before
  }

  test("the routed write, writeParts and the rejected write use it") {
    import spark.implicits._
    val rows = Seq(("t1", "c", "d", 1.5), ("t2", "c", "d", 2.5))
      .toDF("tableName", "client", "device", "value")
    val routedRoot = Files.createTempDirectory("routed").toFile
    assert(bytesViaForkFree(WarehouseCatalog.writeRouted(rows, routedRoot)) > 0,
      "WarehouseCatalog.writeRouted")
    val manifest = new ManifestCatalog(spark,
      Files.createTempDirectory("manifest").toString)
    assert(bytesViaForkFree(manifest.append("t1",
      rows.drop("tableName"))) > 0, "ManifestCatalog.writeParts")

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val src = MemoryStream[(String, String)]
    val rej = Files.createTempDirectory("rej").toString
    val q = IngestPipeline.start(src.toDF().toDF("topic", "payload"),
      new TableRouter(new SchemaRegistry, TableCatalog.default(spark,
        Files.createTempDirectory("wh").toString)),
      Files.createTempDirectory("ckpt").toString, rejectedDir = Some(rej))
    try {
      // rejected rows only: the batch's one file write is the rejected one
      assert(bytesViaForkFree {
        src.addData(("bad-topic", """{"value":1}"""))
        q.processAllAvailable()
      } > 0, "IngestPipeline rejected write")
      assert(spark.read.parquet(rej).count() == 1)
    } finally q.stop()
  }

  test("WarehouseCatalog.append and compact use it") {
    import spark.implicits._
    val wh = new WarehouseCatalog(spark,
      Files.createTempDirectory("wh").toString)
    val rows = Seq(("c", "d", 1.5), ("c", "d", 2.5))
      .toDF("client", "device", "value")
    assert(bytesViaForkFree(wh.append("t", rows)) > 0,
      "WarehouseCatalog.append")
    assert(bytesViaForkFree(wh.compact("t")) > 0, "WarehouseCatalog.compact")
    assert(wh.read("t").count() == 2)
  }
}
