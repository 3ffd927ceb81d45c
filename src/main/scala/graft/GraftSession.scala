package graft

import org.apache.spark.sql.SparkSession

/** The one session profile every main and the test suite run under
  * (the ingest daemon excepted: spark-submit supplies its master and
  * conf). Settings equal to Spark's own defaults — adaptive execution on,
  * `coalescePartitions.parallelismFirst` on — are not restated.
  *
  * {{{
  * GraftSession()                     // local[cpus], one shuffle partition per core
  * GraftSession(GraftSession.cpus, 4)  // streaming: one per source shard
  * }}}
  */
object GraftSession {
  /** Local core count: `SPARK_GRAFT_CPUS`, 32 by default — the core
    * count the committed artifacts come from, so a run without the
    * variable does not silently measure a 4-thread engine (ScaleStress
    * records the measured effect). */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** `local[cores]` with one shuffle partition per core. */
  def apply(cores: Int = cpus): SparkSession = apply(cores, cores)

  /** `local[cores]` with `partitions` shuffle partitions, the engine's
    * native SQL functions, and the conf below. */
  def apply(cores: Int, partitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet's ts may be TIMESTAMP(NANOS); Tables adapts it
      .config("spark.sql.legacy.parquet.nanosAsLong", true)
      // Sort-based shuffle writer everywhere: the bypass-merge writer
      // opens one spill file per reduce partition per map task, measured
      // at ~6 ms CPU per file on local disk — a small-frame 64-task
      // stage burned 15.5 s of task time that the sort writer (one file
      // per map task) does in 2.4 s (r12 microbenchmark).
      // Spark already sorts above 200 reduce partitions; this pins it
      // for the ≤ 200 range local sessions sit in.
      .config("spark.shuffle.sort.bypassMergeThreshold", 0L)
      // 202 queries × several codegen'd stages each blow through the
      // default 100-entry generated-class cache, so even the bench's
      // second pass recompiled every stage (Janino, driver-side — it
      // lands in the inter-job gap): 111.8 → 78.8 s full-suite engine
      // time at 5000 (r15). Static conf; classes are KB-sized.
      .config("spark.sql.codegen.cache.maxEntries", 5000L)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
