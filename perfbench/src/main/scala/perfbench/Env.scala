package perfbench

import java.nio.file.{Files, Paths}
import scala.io.Source

/** Run-environment record: what the box was doing while a run measured,
  * so a polluted run identifies itself. Written per run to
  * `<bench>/work/results/env-<workload>-s<seed>-t<trace>.json`. */
object Env {
  final case class Start(jiffies: (Long, Long), load: String, t0: Long)

  def start(): Start =
    Start(graft.Tuning.cpuJiffies(), loadAvg(), System.nanoTime())

  def loadAvg(): String = try {
    val src = Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+").take(3).mkString(" ") finally src.close()
  } catch { case _: Throwable => "unknown" }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** A measured number with all its digits, as a JSON number. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15)
      v.toLong.toString else v.toString

  def finish(ctx: Ctx, s: Start, trace: Boolean): Unit = {
    val steal = graft.Tuning.stealPct(s.jiffies, graft.Tuning.cpuJiffies())
    val rec = Seq(
      "workload" -> ctx.workload, "seed" -> ctx.seed.toString,
      "seconds" -> ctx.seconds.toString, "trace" -> trace.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "git_commit" -> sys.props.getOrElse("perfbench.commit", "unknown"),
      "source_digest" -> sys.props.getOrElse("perfbench.sourceDigest", "unknown"),
      "loadavg_start" -> s.load, "loadavg_end" -> loadAvg(),
      "steal_pct" -> steal.toString,
      "wall_s" -> ((System.nanoTime() - s.t0) / 1e9).toString,
      "attempted" -> ctx.attempted.toString, "failed" -> ctx.failed.toString) ++
      ctx.env.toSeq
    val json = rec.map { case (k, v) => s""""$k":"${v.replace("\"", "'")}"""" }
      .mkString("{", ",", "}\n")
    ctx.log(s"env $json".trim)
    val dir = Paths.get(ctx.bench, "work", "results")
    Files.createDirectories(dir)
    val tag = s"${ctx.workload}-s${ctx.seed}-t${if (trace) 1 else 0}"
    Files.writeString(dir.resolve(s"env-$tag.json"), json)
    if (trace) Files.writeString(dir.resolve(s"spans-$tag.json"), ctx.tr.json)
    ()
  }
}
