package graft.core

import graft.SparkSpec
import org.apache.logging.log4j.{Level, LogManager}

/** The shared bootstrap's contract: what `Sessions.local` gives Bench,
  * Verify, the tools and these suites (SparkSpec builds its session
  * with `Sessions.local(4)`). */
class SessionsSpec extends SparkSpec {

  test("Sessions.local: local[cpus], one shuffle partition per core, " +
      "UI off, UTC clock, WARN logging") {
    // the context's conf is the builder's, frozen at context start
    // (runtime `spark.conf.set` calls by other suites cannot mask it)
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(conf.get("spark.log.level") == "WARN")
    assert(LogManager.getRootLogger.getLevel == Level.WARN)
  }
}
