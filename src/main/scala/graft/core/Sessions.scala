package graft.core

import org.apache.spark.sql.SparkSession

/** The one local-session bootstrap shared by `graft.Bench`,
  * `graft.Verify`, the example driver, the tools and the test suites:
  * `local[cpus]` with one shuffle partition per core, the UI off, the
  * session clock in UTC and Spark's own logging at WARN (set through
  * `spark.log.level`, so it holds from SparkContext start, before any
  * job logs). Returns the builder, so a caller can still add its own
  * settings (an app name, a warehouse dir) before `getOrCreate()`.
  */
object Sessions {

  /** Worker threads: `SPARK_GRAFT_CPUS`, else every available core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int = Sessions.cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.log.level", "WARN")
}
