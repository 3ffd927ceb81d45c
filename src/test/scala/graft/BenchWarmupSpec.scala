package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Bench's warmup pass records a throwing step in the artifact and
  * moves on; a fatal error ends the run. */
class BenchWarmupSpec extends AnyFunSuite {
  private val noop: (SparkSession, String) => Unit = (_, _) => ()

  test("a throwing step is recorded as Class: message; the others still run") {
    var ran = Seq.empty[String]
    def step(name: String): (String, (SparkSession, String) => Unit) =
      name -> ((_, _) => ran :+= name)
    val w = Bench.warm(TestSpark.spark, "unused", Seq(step("a"),
      "boom" -> ((_, _) => throw new IllegalStateException("no index")),
      step("b")), () => 0L)
    assert(ran === Seq("a", "b"))
    assert(w.seconds.map(_._1) === Seq("a", "boom", "b"))
    assert(w.jobs.map(_._1) === Seq("a", "boom", "b"))
    assert(w.failed === Seq("boom" -> "java.lang.IllegalStateException: no index"))
  }

  test("per-step job counts are deltas of the job counter") {
    var jobs = 0L
    val w = Bench.warm(TestSpark.spark, "unused", Seq("one" -> noop,
      "three" -> ((_, _) => jobs += 3)), () => jobs)
    assert(w.jobs === Seq("one" -> 0L, "three" -> 3L))
    assert(w.failed.isEmpty)
  }

  test("a fatal error is rethrown, not recorded") {
    intercept[LinkageError](Bench.warm(TestSpark.spark, "unused",
      Seq("fatal" -> ((_, _) => throw new LinkageError("broken"))), () => 0L))
  }
}
