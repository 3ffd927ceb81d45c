package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (Spark session startup is ~5s;
  * per-suite sessions would dominate test time), under the same
  * [[GraftSession]] profile every main runs, at local[4]. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(4)
}
