package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the graft engine.
  *
  * Scale notes (100 TB): AQE handles runtime coalescing/skew-splits;
  * `shuffle.partitions` is only the pre-AQE upper bound (32 locally,
  * thousands on a real cluster via `SPARK_GRAFT_CPUS`). Events parquet
  * carries INT64 TIMESTAMP(NANOS) which vanilla Spark rejects —
  * `nanosAsLong` reads it losslessly as epoch-nanos (see
  * sources.Tables which normalizes it).
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def builder(master: String = s"local[$cpus]"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.ui.enabled", "false")

  /** Apply graft runtime confs to an externally-built session (the
    * driver's Verify/Bench sessions). Static confs (nanosAsLong is
    * read per-query, so runtime-settable) applied best-effort. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
