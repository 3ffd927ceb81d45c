package graft.examples

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for declared queries to files — the
  * plans/rNN before/after evidence the optimization rounds commit.
  *
  * Usage: runMain graft.examples.PlanDump <sfDir> <outDir> [names]
  *   names — comma-separated query-name filter (default: all).
  *
  * Plans are captured at bench conditions (same master/conf family as
  * graft.Bench, artifacts served through the same build-or-load entry
  * points) so a committed plan file matches what the bench executed.
  * The explain is the pre-execution plan (AQE `isFinalPlan=false`);
  * Exchange counts / join strategies / PushedFilters are all visible
  * at this stage, which is what the plan-diff claims cite.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: runMain graft.examples.PlanDump <sfDir> <outDir> [names]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = graft.GraftSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // Bench-condition scan sources: the bench warms the split-layout
    // copies before any query, so the committed plan evidence must
    // resolve scans the same way (without this, a plan shows the
    // single-row-group original plus the scatter round-robin Exchange —
    // a shape the bench never executes). The other ensure* artifacts
    // need no pre-warm here: queries build-or-load them on demand and
    // the resulting plan is identical either way.
    try graft.Tables.ensureSplitLayout(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[plandump] split layout failed: $e")
    }
    var failed = 0
    val names = graft.SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .sortBy(_._1)
    names.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$name.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plandump] $name ok")
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[plandump] $name FAILED: $e")
      }
    }
    try graft.Resources.releaseAll()
    catch { case _: Throwable => () }
    spark.stop()
    // evidence must never be silently incomplete: a failed dump is a
    // failed run
    if (failed > 0) {
      System.err.println(s"[plandump] $failed queries failed")
      sys.exit(1)
    }
  }
}
