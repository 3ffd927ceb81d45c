package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Every workload end to end at tiny size: outputs check out and every
  * declared metric is printed. */
class SmokeSpec extends AnyFunSuite {
  // the forked test JVM's java.io.tmpdir (see build.sbt)
  private val tmp = Files.createDirectories(Paths.get("work", "test-tmp"))

  private def run(workload: String, trace: Int): Unit = {
    val work = Files.createTempDirectory(tmp, s"smoke-$workload").toAbsolutePath.toString
    val line = Main.run(Map("workload" -> workload, "seed" -> "7", "seconds" -> "1",
      "trace" -> trace.toString, "work" -> work, "bench" -> new java.io.File(".").getCanonicalPath,
      "size" -> "tiny"))
    val r = new ObjectMapper().readTree(line)
    assert(r.get("correct").asBoolean, line)
    assert(r.get("failed").asLong == 0, line)
    val want = if (trace == 1) Metrics.perLayer else Metrics.endToEnd
    want.foreach { case (n, u) =>
      assert(r.get("metrics").has(n), s"$n missing: $line")
      assert(r.get("metrics").get(n).get("unit").asText == u)
    }
  }

  (Main.Workloads ++ Main.Extra).foreach { w =>
    test(s"$w runs at tiny size") { run(w, 0) }
  }
  test("ingest_fanout traced run emits every per-layer metric") { run("ingest_fanout", 1) }
  test("batch_suite traced run emits every per-layer metric") { run("batch_suite", 1) }
}
