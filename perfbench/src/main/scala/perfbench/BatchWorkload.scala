package perfbench

import graft.{Bench, SparkEntry}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The batch workload: a fixed sample of `SparkEntry.queries`, one query
  * at a time in name order (closed loop, one client), on the sf0.001
  * fixture shipped in `data/`, after a subset of `Bench.warmupSteps`.
  *
  *  1. setup ×3 — the setup steps on three path-distinct copies of the
  *     fixture (artifacts are cached per path, so each copy builds them
  *     afresh); `setup_s` is the median;
  *  2. cold pass — every sampled query once (`pass_s`);
  *  3. warm passes — repeated until `--seconds` have passed, at least
  *     two and enough for a p50; `ops_per_s` is queries per second of the median pass,
  *     `lat_p50_ms` the median of all warm query times and `lat_tail_ms`
  *     the slowest query's median warm time.
  * Every execution's row count and order-insensitive content hash must
  * equal the recorded golden values (`golden/batch_suite.tsv`). */
object BatchWorkload {
  /** Every `Stride`-th query in name order from the `Offset`-th: a
    * systematic 1-in-20 sample (10 of 202). Of the 20 possible offsets
    * this one has the lowest cold cost, which is what fits a run into
    * the benchmark's time budget. */
  val Stride = 20
  val Offset = 2
  /** The warmup steps the sampled queries need before they run. */
  val SetupSteps = Seq("layout", "tables")

  def sample(all: Seq[String]): Seq[String] = {
    val sorted = all.sorted
    sorted.indices.filter(_ % Stride == Offset).map(sorted)
  }

  def fixture(bench: String): Path = Paths.get(bench, "data", "sf0.001")

  def copyFixture(bench: String, to: String): String = {
    val src = fixture(bench)
    Files.list(src).iterator().asScala.foreach(f =>
      Files.copy(f, Paths.get(to, f.getFileName.toString)))
    to
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tr
    val steps = Bench.warmupSteps.filter(s => SetupSteps.contains(s._1))
    val perStep = mutable.LinkedHashMap.empty[String, Seq[Double]]
    val dirs = (1 to 3).map { i =>
      val d = copyFixture(ctx.bench, ctx.dir(s"sf$i"))
      steps.foreach { case (name, step) =>
        val t0 = System.nanoTime()
        step(spark, d)
        perStep(name) = perStep.getOrElse(name, Nil) :+ (System.nanoTime() - t0) / 1e9
      }
      d
    }
    val setups = (0 until 3).map(i => perStep.values.map(_(i)).sum)
    ctx.endToEnd("setup_s") = Stats.median(setups)
    ctx.log(s"setup ${setups.map(s => f"$s%.3f").mkString(" ")}")
    val sfDir = dirs.last

    val golden = Golden.load(ctx.bench)
    val fns = SparkEntry.queries
    val names = if (ctx.tiny) sample(fns.keys.toSeq).take(2) else sample(fns.keys.toSeq)
    ctx.env("queries") = names.size.toString

    def runOne(name: String): Double = {
      spark.sparkContext.setLocalProperty("perfbench.key", name)
      ctx.attempted += 1
      val t0 = tr.nowMs
      val ok = try {
        val df = fns(name)(spark, sfDir)
        val t1 = tr.nowMs
        tr.add("queries.construct_s", (t1 - t0) / 1e3)
        val got = Golden.digest(df)
        golden.get(name) match {
          case Some(g) if g == got => true
          case g =>
            ctx.log(s"$name: got rows/hash $got, golden ${g.getOrElse("missing")}")
            false
        }
      } catch { case e: Throwable => ctx.log(s"$name failed: $e"); false }
      val t2 = tr.nowMs
      tr.record("batch.query", t0, t2, key = name)
      if (!ok) ctx.fail(1, s"query $name")
      (t2 - t0) / 1e3
    }

    val engine = new EngineListener(tr)
    val plans = new PlanListener(tr)
    def listen(on: Boolean): Unit = if (tr.enabled) {
      if (on) { spark.sparkContext.addSparkListener(engine); spark.listenerManager.register(plans) }
      else { spark.sparkContext.removeSparkListener(engine); spark.listenerManager.unregister(plans) }
    }
    listen(true)
    val win0 = System.currentTimeMillis()
    val (cg0, cgs0) = PlanListener.codegen()
    val cold = names.map(runOne)
    ctx.log(names.zip(cold).map { case (n, t) => f"$n%s=$t%.2f" }.mkString("cold: ", " ", ""))
    ctx.endToEnd("pass_s") = cold.sum
    ctx.log(f"cold pass ${cold.sum}%.3f s over ${names.size} queries")

    val warm = mutable.LinkedHashMap.empty[String, Seq[Double]]
    val passes = mutable.ArrayBuffer.empty[Double]
    val tw = System.nanoTime()
    def samples = warm.values.map(_.size).sum
    while (passes.size < 2 || samples < Stats.minSamples(50) ||
        (System.nanoTime() - tw) / 1e9 < ctx.seconds) {
      val ts = names.map(n => n -> runOne(n))
      ts.foreach { case (n, t) => warm(n) = warm.getOrElse(n, Nil) :+ t }
      passes += ts.map(_._2).sum
    }
    val win1 = System.currentTimeMillis()
    ctx.env("warm_passes") = passes.size.toString
    ctx.log(s"warm passes ${passes.map(s => f"$s%.3f").mkString(" ")}")
    ctx.endToEnd("ops_per_s") = names.size / Stats.median(passes.toSeq)
    val all = warm.values.flatten.toSeq
    ctx.endToEnd("lat_p50_ms") = Stats.percentile(all, 50).getOrElse {
      ctx.fail(1, s"${all.size} warm samples are too few for p50"); Double.NaN
    } * 1e3
    ctx.endToEnd("lat_tail_ms") = warm.values.map(Stats.median).max * 1e3

    if (tr.enabled) {
      val (cg1, cgs1) = PlanListener.codegen()
      var last = -1L
      while (engine.events.get() != last) { last = engine.events.get(); Thread.sleep(150) }
      listen(false)
      val m = ctx.perLayer
      engine.report(m, win0, win1)
      Seq("queries.construct_s", "plan.analysis_s", "plan.optimization_s",
        "plan.planning_s", "plan.exchanges", "plan.broadcast_build_s")
        .foreach(k => m(k) = tr.get(k))
      m("codegen.classes") = (cg1 - cg0).toDouble
      m("codegen.compile_s") = cgs1 - cgs0
      // overhead: one more warm pass with the listeners removed, against
      // the median traced pass
      val plain = names.map(runOne).sum
      m("trace_overhead_pct") = (Stats.median(passes.toSeq) / plain - 1) * 100
      // every deploy-time artifact once, on a fresh copy of the fixture
      val full = copyFixture(ctx.bench, ctx.dir("sf-full"))
      Bench.warmupSteps.foreach { case (name, step) =>
        val t0 = System.nanoTime()
        step(spark, full)
        m(s"setup.${name}_s") = (System.nanoTime() - t0) / 1e9
      }
      m("spark.cached_mb_after_setup") = spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1e6
    }
    spark.sparkContext.setLocalProperty("perfbench.key", null)
  }
}

/** Golden query results: row count and an order-insensitive hash of the
  * rows, doubles rounded to 9 significant digits so summation order in a
  * float aggregate cannot flip the hash. */
object Golden {
  final case class Digest(rows: Long, hash: String) {
    override def toString: String = s"$rows/$hash"
  }

  def path(bench: String): Path = Paths.get(bench, "golden", "batch_suite.tsv")

  def load(bench: String): Map[String, Digest] =
    Files.readAllLines(path(bench)).asScala.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t"); f(0) -> Digest(f(1).toLong, f(2)) }.toMap

  def digest(df: DataFrame): Digest = {
    val rows = df.collect()
    var h1 = 0L
    var h2 = 0L
    rows.foreach { r =>
      val s = norm(r)
      h1 += scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c).toLong
      h2 += scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995).toLong
    }
    Digest(rows.length.toLong, f"$h1%016x$h2%016x")
  }

  private def norm(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
    case f: Float => norm(f.toDouble)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "→" + norm(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case x => x.toString
  }

  /** Record the digests of every query on the shipped fixture:
    * {{{ perfbench.Golden <benchmark dir> <scratch dir> }}} */
  def main(args: Array[String]): Unit = {
    val Array(bench, work) = args
    val spark = Main.session(batch = true, work)
    val d = BatchWorkload.copyFixture(bench, Files.createDirectories(Paths.get(work, "golden-sf")).toString)
    Bench.warmupSteps.foreach(_._2(spark, d))
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (n, fn) =>
      val g = digest(fn(spark, d))
      s"$n\t${g.rows}\t${g.hash}"
    }
    Files.writeString(path(bench), ("# query\trows\thash (perfbench.Golden on data/sf0.001)" +:
      lines).mkString("", "\n", "\n"))
    spark.stop()
  }
}
