package graft

import org.apache.spark.sql.SparkSession

/**
 * The one session factory every graft main builds through, so a plan
 * dumped by `QueryProbe --explain`, timed by [[Bench]] and checked by
 * [[Verify]] comes from the same conf.
 *
 * Base conf: `local[cpus]` with `cpus` shuffle partitions, UTC, an 8 MB
 * scan split (small testdata files still fan out over the cores),
 * `nanosAsLong` (events.ts ships as timestamp[ns] in some testdata
 * generations; every ts consumer goes through `Registry.tdEventsUs`),
 * UI off and [[GraftExtensions]] installed. `cpus` is `SPARK_GRAFT_CPUS`,
 * else every available processor.
 *
 * Callers add the few confs that genuinely differ (FAIR scheduling,
 * a starved `spark.memory.fraction`, a cluster-smoke master and jars);
 * an extra entry overrides the base entry of the same key.
 */
object GraftSession {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def conf(cpus: Int, extra: (String, String)*): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.files.maxPartitionBytes" -> "8m",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.extensions" -> "graft.GraftExtensions") ++ extra

  /** A session under `conf`, logging at WARN. */
  def start(conf: Map[String, String]): SparkSession = {
    val b = SparkSession.builder()
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def apply(extra: (String, String)*): SparkSession = start(conf(cpus, extra: _*))
}
