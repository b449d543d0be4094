package graft.tools

import graft.core.Sessions
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Plan dump and per-stage time attribution for catalog queries
  * (optimization rounds, guide §1/§7), under the session config and
  * warm-pass methodology Bench uses, so its numbers are comparable to
  * the bench floors.
  *
  * `runMain graft.tools.StageProfile <suffix> <q1,q2,...> [sfDir] [outDir] [reps]`
  *
  * Names resolve exactly or by prefix (`q274` → `q274_retrieval_metrics`).
  * For each query: writes `.explain("formatted")` to
  * `<outDir>/<name>_<suffix>.txt` (the plan evidence), then times
  * `reps` noop-sink evaluations, printing each rep's wall time and the
  * minimum, and for the last rep every completed stage's wall time,
  * CPU, task count and input/shuffle volumes, so "where do the
  * seconds go" is a read instead of a guess.
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("before")
    val names0 = args.lift(1).getOrElse("q1_agg")
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(3).getOrElse("plans")
    val reps = args.lift(4).map(_.toInt).getOrElse(2)
    val spark = Sessions.local().getOrCreate()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    val all = graft.SparkEntry.queries
    val names = names0.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      .flatMap { n =>
        val r = all.keys.find(_ == n).orElse(all.keys.find(_.startsWith(n)))
        if (r.isEmpty)
          System.err.println(s"[stageprofile] no query matches '$n'")
        r
      }
    if (names.isEmpty) return

    // Bench-methodology warm-up: run every selected query once on the
    // small warm dir so codegen/JIT happens outside the timed region
    // (without this, a query's position in the list changes its
    // number by 20-40% — measured, optimization round 19).
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    names.foreach { name =>
      try all(name)(spark, warmDir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()

    final case class St(id: Int, nm: String, ms: Long, tasks: Int,
        inMb: Double, srMb: Double, swMb: Double, cpuMs: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    // stage → the submitting JOB's callsite (the action frame inside
    // the operator, e.g. "localCheckpoint at Similarity.scala:209") —
    // SQL stages' own details only show the execution thread pool
    val stageSite =
      new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse("")
        e.stageIds.foreach(sid => stageSite.put(sid, site))
      }
      override def onStageCompleted(
          e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val ms = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        val where = Option(stageSite.get(si.stageId))
          .filter(_.nonEmpty)
          .getOrElse(si.name.takeWhile(_ != '\n'))
        stages.add(St(si.stageId, where, ms,
          si.numTasks,
          m.inputMetrics.bytesRead / 1e6,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.executorCpuTime / 1000000))
      }
    }

    names.foreach { name =>
      val fn = all(name)
      val plan = s"$outDir/${name}_$suffix.txt"
      try {
        java.nio.file.Files.writeString(java.nio.file.Paths.get(plan),
          fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        spark.catalog.clearCache()
        // timed passes: rebuild the frame each time (same as Bench)
        val ts = (1 to reps).map { r =>
          stages.clear()
          spark.sparkContext.addSparkListener(listener)
          spark.sparkContext.setJobDescription(s"$name rep$r")
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          // drain listener events before reading (the bus is async; the
          // private waitUntilEmpty is not accessible). A fixed sleep
          // silently dropped late stage-completed events on loaded
          // boxes, understating stage-sum vs wall — poll until the
          // stage count stabilizes instead, with a generous bound
          // (round-20 hardening).
          var lastN = -1
          var settledPolls = 0
          var waitedMs = 0
          while (settledPolls < 3 && waitedMs < 5000) {
            Thread.sleep(100); waitedMs += 100
            val n = stages.size()
            if (n == lastN) settledPolls += 1
            else { settledPolls = 0; lastN = n }
          }
          spark.sparkContext.removeSparkListener(listener)
          import scala.jdk.CollectionConverters._
          val ss = stages.asScala.toSeq.sortBy(-_.ms)
          val sumMs = ss.map(_.ms).sum
          println(f"%n[stageprofile] $name rep$r wall=$dt%.3f s  " +
            f"stage-sum=${sumMs / 1000.0}%.3f s  stages=${ss.size}")
          if (r == reps) ss.take(22).foreach { s =>
            println(f"  stage ${s.id}%4d ${s.ms}%6d ms cpu=${s.cpuMs}%6d ms " +
              f"tasks=${s.tasks}%3d in=${s.inMb}%8.2f MB sr=${s.srMb}%8.2f " +
              f"sw=${s.swMb}%8.2f  ${s.nm.take(90)}")
          }
          dt
        }
        val walls = ts.map(t => f"$t%.3f").mkString(" ")
        println(f"[stageprofile] $name%-34s min=${ts.min}%7.3f s  reps=[$walls]  plan=$plan")
      } catch {
        case e: Throwable =>
          spark.sparkContext.removeSparkListener(listener)
          println(s"[stageprofile] $name FAILED: ${e.getMessage}")
      } finally {
        try spark.catalog.clearCache() catch { case _: Throwable => () }
      }
    }
    spark.stop()
  }
}
