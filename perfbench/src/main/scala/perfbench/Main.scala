package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** State of one benchmark run: its inputs, what it measured, and how many
  * checked operations it attempted and saw fail. */
final class Ctx(val spark: SparkSession, val workload: String,
    val seed: Long, val seconds: Double, val tr: Tracer, val work: String,
    val bench: String, val tiny: Boolean) {
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  val env = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L

  def fail(n: Long, what: String): Unit = if (n > 0) {
    failed += n
    System.err.println(s"[perfbench] CHECK FAILED ($n): $what")
  }
  private val t0 = System.nanoTime()
  def log(s: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2fs $s")
  def dir(name: String): String = {
    val d = Paths.get(work, name)
    Files.createDirectories(d)
    d.toString
  }
}

/** One benchmark run in one JVM:
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <scratch dir> --bench <benchmark dir> [--size tiny]
  * }}}
  * Prints the result as the last stdout line; everything else goes to
  * stderr. The run-environment record and (traced) span dump are written
  * under `<bench>/work/results`. */
object Main {
  /** The workloads `BENCHMARK.json` declares. */
  val Workloads = Seq("ingest_steady", "batch_suite")
  /** Runnable by hand, left out of the declared set: a fanout run takes
    * about 55 s on a 4-core box, more than the run budget allows. */
  val Extra = Seq("ingest_fanout")

  def main(args: Array[String]): Unit =
    println(run(args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap))

  /** The session every run uses: `local[nproc]`, scratch dirs under
    * `work`; the batch suite adds the configuration `Bench` runs under. */
  def session(batch: Boolean, work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "spark-warehouse").toString)
    if (batch) builder.withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Run one workload; returns the JSON result line. */
  def run(opt: Map[String, String]): String = {
    val workload = opt("workload")
    require((Workloads ++ Extra).contains(workload), s"unknown workload '$workload'")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val bench = opt("bench")
    val batch = workload == "batch_suite"

    val spark = session(batch, opt("work"))
    val ctx = new Ctx(spark, workload, seed, seconds, new Tracer(trace),
      opt("work"), bench, opt.get("size").contains("tiny"))
    val env0 = Env.start()
    try {
      if (batch) BatchWorkload.run(ctx)
      else IngestWorkload.run(ctx, fanout = workload == "ingest_fanout")
      ctx.endToEnd("peak_rss_mb") = Env.peakRssMb()
    } catch {
      case e: Throwable =>
        ctx.log(s"run aborted: $e")
        e.printStackTrace()
        ctx.fail(math.max(1L, ctx.attempted - ctx.failed), s"run aborted: $e")
        ctx.attempted = math.max(ctx.attempted, 1L)
    }
    Env.finish(ctx, env0, trace)
    spark.stop()

    val metrics = (if (trace) Metrics.perLayer.map { case (n, u) =>
        n -> (ctx.perLayer.getOrElse(n, 0.0), u)
      } else Metrics.endToEnd.flatMap { case (n, u) =>
        ctx.endToEnd.get(n).map(v => n -> (v, u))
      })
    val complete = trace || metrics.size == Metrics.endToEnd.size
    val correct = ctx.failed == 0 && complete
    val body = metrics.map { case (n, (v, u)) =>
      s""""$n":{"value":${Env.num(v)},"unit":"$u"}"""
    }.mkString(",")
    s"""{"correct":$correct,"attempted":${math.max(1L, ctx.attempted)},""" +
      s""""failed":${ctx.failed},"metrics":{$body}}"""
  }
}
