package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** In-memory span recorder for the traced run.
  *
  * The client thread opens spans around each operation and around the
  * calls it makes into each layer (build/action for catalog rows;
  * transform/validate/migrate/overwrite for the ETL task). A
  * [[SparkListener]] and a [[QueryExecutionListener]], registered only
  * while tracing, add the jobs and stages those calls caused: a job's
  * parent is the client span named by the `perfbench.span` local
  * property it was submitted under when that span was open at the job's
  * start, otherwise the innermost client span open then, and a stage's
  * parent is its job. The second rule covers jobs submitted from other
  * threads: `graft.core.Par` runs jobs on pooled threads that keep the
  * property of whichever thread created them (none, or a span since
  * closed). Nothing is written until [[report]] runs after the timed
  * region.
  *
  * All times are epoch milliseconds, the clock Spark's events use.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val clockOffsetMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def nowMs: Double = clockOffsetMs + System.nanoTime() / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1 // innermost open client span
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val queries = mutable.ArrayBuffer.empty[Query]
  private val blocks = mutable.Map.empty[String, Long]
  private var storageBytes = 0L
  private var storagePeak = 0L
  @volatile private var sentinelsSeen = 0
  private var sentinelsSent = 0
  private var attached = false

  /** Open a span for `body` under the current one. When the tracer is
    * detached this only runs `body`, so untraced passes pay nothing.
    */
  def span[T](kind: String, name: String)(body: => T): T =
    if (!attached) body
    else {
      val s = synchronized {
        val s = Span(spans.size, current, kind, name, nowMs)
        spans += s
        s
      }
      val saved = current
      current = s.id
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endMs = nowMs
        current = saved
        sc.setLocalProperty(SpanKey,
          if (saved < 0) null else saved.toString)
      }
    }

  private object jobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        val parent = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SpanKey)))
          .map(_.toInt).getOrElse(-1)
        // a stage's details are its call site, the submitting thread's
        // stack from the first frame outside Spark
        val fromPar = e.stageInfos.exists(_.details.contains(ParFrame))
        jobs(e.jobId) = Job(e.jobId, e.time.toDouble, parent, fromPar)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        val st = stage(i.stageId, i.attemptNumber())
        st.submitMs = i.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
        st.endMs = i.completionTime.map(_.toDouble).getOrElse(Double.NaN)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        val st = stage(e.stageId, e.stageAttemptId)
        st.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          st.runMs += m.executorRunTime
          st.cpuNs += m.executorCpuTime
          st.inputBytes += m.inputMetrics.bytesRead
          st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          st.spillBytes += m.diskBytesSpilled
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      Tracer.this.synchronized {
        val b = e.blockUpdatedInfo
        if (b.blockId.isRDD) {
          val key = b.blockManagerId.executorId + "/" + b.blockId.name
          storageBytes += b.memSize - blocks.getOrElse(key, 0L)
          if (b.memSize > 0) blocks(key) = b.memSize else blocks.remove(key)
          storagePeak = math.max(storagePeak, storageBytes)
        }
      }
  }

  private object queryListener extends QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
      if (qe.analyzed.exists(_.output.exists(_.name == SentinelColumn)))
        sentinelsSeen += 1
      else {
        val phases = qe.tracker.phases.values
        val plan = qe.executedPlan
        val scans = PlanWalk.collectWithSubqueries(plan) {
          case s: FileSourceScanLike =>
            s.metrics.get("filesSize").map(_.value).getOrElse(0L)
        }
        val writes = PlanWalk.collect(plan) {
          case w: DataWritingCommandExec =>
            (w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L),
              w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L))
        }
        val q = Query(
          startMs = if (phases.isEmpty) nowMs
            else phases.map(_.startTimeMs).min.toDouble,
          planMs = phases.map(_.durationMs).sum.toDouble,
          scanBytes = scans.sum,
          writeMs = if (writes.isEmpty) 0.0 else ns / 1e6,
          writtenBytes = writes.map(_._1).sum,
          writtenFiles = writes.map(_._2).sum)
        Tracer.this.synchronized(queries += q)
      }
    override def onFailure(fn: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt),
      Stage(id, attempt, stageJob.getOrElse(id, -1)))

  /** Register both listeners; client spans are recorded from now on. */
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    attached = true
  }

  /** Wait until the listeners have seen every event posted so far, then
    * unregister them. A sentinel query is submitted last; both
    * listeners share Spark's listener queue, so its completion arriving
    * means every earlier event has arrived too.
    */
  def detach(): Unit = if (attached) {
    sentinelsSent += 1
    spark.range(1).toDF(SentinelColumn)
      .write.format("noop").mode("overwrite").save()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sentinelsSeen < sentinelsSent && System.nanoTime() < deadline)
      Thread.sleep(2)
    require(sentinelsSeen >= sentinelsSent,
      "listener events did not drain within 30 s")
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
    attached = false
  }

  def storagePeakBytes: Long = synchronized(storagePeak)

  /** Per-operation layer figures for every op span, plus the raw span
    * list (ops → client phases → jobs → stages) for the artifact.
    */
  def report(): (Seq[Map[String, Any]], Seq[Map[String, Any]]) =
    synchronized {
      val opOf = new Array[Int](spans.size)
      spans.foreach(s => opOf(s.id) = if (s.parent < 0) s.id
        else opOf(s.parent))
      val ops = spans.filter(_.kind == "op")
      def within(ms: Double, op: Span) = ms >= op.startMs && ms <= op.endMs
      // Spark stamps a job's start in whole milliseconds, rounded down
      def openAt(s: Span, ms: Double) =
        s.startMs <= ms + 1 && (s.endMs >= ms || s.endMs.isNaN)
      // client spans nest on one thread, so the innermost open span is
      // the open one that started last
      val parentOf: Map[Int, Int] = jobs.values.map { j =>
        j.id -> (
          if (j.parent >= 0 && j.parent < spans.size &&
              openAt(spans(j.parent), j.startMs)) j.parent
          else spans.filter(openAt(_, j.startMs)).maxByOption(_.startMs)
            .map(_.id).getOrElse(-1))
      }.toMap
      def jobOp(j: Job): Int =
        if (parentOf(j.id) >= 0) opOf(parentOf(j.id)) else -1
      val jobsByOp = jobs.values.groupBy(jobOp)
      val stagesByJob = stages.values.groupBy(_.job)
      val figures = ops.map { op =>
        val opJobs = jobsByOp.getOrElse(op.id, Nil).toSeq
        val opStages = opJobs.flatMap(j => stagesByJob.getOrElse(j.id, Nil))
        val opQueries = queries.filter(q => within(q.startMs, op))
        val phases = spans.filter(s => s.parent == op.id)
        def phaseS(kind: String) =
          phases.filter(_.kind == kind).map(_.durationMs).sum / 1e3
        val jobActive = unionMs(opJobs.map(j =>
          (math.max(j.startMs, op.startMs), math.min(j.endMs, op.endMs))))
        // driver-side build: a catalog row's `fn`, the task's transform()
        val buildSpans = phases.filter(s => s.kind == "build" ||
          s.kind == "transform").map(_.id).toSet
        val selfMs = (op +: phases).map(s => s.kind -> (s.durationMs -
          unionMs(childIntervals(s, opJobs, parentOf))))
          .groupMapReduce(_._1)(_._2)(_ + _)
        val jobSelfMs = opJobs.map(j => j.durationMs - unionMs(
          stagesByJob.getOrElse(j.id, Nil).toSeq
            .map(st => (st.submitMs, st.endMs)))).sum
        Map[String, Any](
          "name" -> op.name,
          "wall_s" -> op.durationMs / 1e3,
          "build_s" -> (phaseS("build") + phaseS("transform")),
          "build_jobs" -> opJobs.count(j => buildSpans.contains(parentOf(j.id))),
          "par_jobs" -> opJobs.count(_.fromPar),
          "par_build_jobs" -> opJobs.count(j =>
            j.fromPar && buildSpans.contains(parentOf(j.id))),
          "action_s" -> phaseS("action"),
          "transform_s" -> phaseS("transform"),
          "validate_s" -> phaseS("validate"),
          "migrate_s" -> phaseS("migrate"),
          "overwrite_s" -> phaseS("overwrite"),
          "job_active_s" -> jobActive / 1e3,
          "driver_idle_s" -> (op.durationMs - jobActive) / 1e3,
          "plan_s" -> opQueries.map(_.planMs).sum / 1e3,
          "queries" -> opQueries.size,
          "jobs" -> opJobs.size,
          "stages" -> opStages.size,
          "tasks" -> opStages.map(_.tasks).sum,
          "task_run_s" -> opStages.map(_.runMs).sum / 1e3,
          "cpu_s" -> opStages.map(_.cpuNs).sum / 1e9,
          "scan_bytes" -> opQueries.map(_.scanBytes).sum,
          "input_bytes" -> opStages.map(_.inputBytes).sum,
          "shuffle_bytes" -> opStages.map(_.shuffleBytes).sum,
          "spill_bytes" -> opStages.map(_.spillBytes).sum,
          "write_s" -> opQueries.map(_.writeMs).sum / 1e3,
          "written_bytes" -> opQueries.map(_.writtenBytes).sum,
          "written_files" -> opQueries.map(_.writtenFiles).sum,
          "self_s" -> (selfMs.map { case (k, v) => k -> v / 1e3 } +
            ("job" -> jobSelfMs / 1e3) +
            // stages are leaves; overlapping ones (Par) count once
            ("stage" -> unionMs(opStages.map(st =>
              (math.max(st.submitMs, op.startMs),
                math.min(st.endMs, op.endMs)))) / 1e3)))
      }.toSeq
      val opSpans = spans.map(s => Map[String, Any]("id" -> s.id,
        "parent" -> s.parent, "op" -> opOf(s.id), "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
      // job and stage spans get ids after the client spans
      val jobId = jobs.keys.zipWithIndex.map { case (j, i) =>
        j -> (spans.size + i) }.toMap
      val jobSpans = jobs.values.map(j => Map[String, Any](
        "id" -> jobId(j.id), "parent" -> parentOf(j.id), "op" -> jobOp(j),
        "from_par" -> j.fromPar,
        "kind" -> "job", "name" -> s"job ${j.id}", "start_ms" -> j.startMs,
        "end_ms" -> j.endMs))
      val stageSpans = stages.values.zipWithIndex.map { case (st, i) => Map[String, Any](
        "id" -> (spans.size + jobs.size + i),
        "parent" -> jobId.getOrElse(st.job, -1),
        "op" -> jobs.get(st.job).map(jobOp).getOrElse(-1),
        "kind" -> "stage", "name" -> s"stage ${st.id}.${st.attempt}",
        "start_ms" -> st.submitMs, "end_ms" -> st.endMs,
        "tasks" -> st.tasks, "task_run_ms" -> st.runMs) }
      (figures, (opSpans ++ jobSpans ++ stageSpans).toSeq)
    }

  /** Intervals of the client spans and jobs directly under span `s`,
    * the jobs clipped to it. */
  private def childIntervals(s: Span, opJobs: Seq[Job],
      parentOf: Map[Int, Int]) =
    spans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)).toSeq ++
      opJobs.filter(j => parentOf(j.id) == s.id).map(j =>
        (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
}

object Tracer {
  val SpanKey = "perfbench.span"
  val SentinelColumn = "perfbench_sentinel"
  /** Call-site frame of a job submitted through `graft.core.Par`. */
  val ParFrame = "graft.core.Par$"

  final case class Span(id: Int, parent: Int, kind: String, name: String,
      startMs: Double) {
    var endMs: Double = Double.NaN
    def durationMs: Double = endMs - startMs
  }
  /** `parent` is the span the job's local property named, if any. */
  final case class Job(id: Int, startMs: Double, parent: Int,
      fromPar: Boolean) {
    var endMs: Double = Double.NaN
    def durationMs: Double = endMs - startMs
  }
  final case class Stage(id: Int, attempt: Int, job: Int) {
    var submitMs, endMs = Double.NaN
    var tasks = 0
    var runMs, cpuNs, inputBytes, shuffleBytes, spillBytes = 0L
  }
  final case class Query(startMs: Double, planMs: Double, scanBytes: Long,
      writeMs: Double, writtenBytes: Long, writtenFiles: Long)

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Length of the union of `[start, end]` intervals; intervals with a
    * missing end are skipped. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, reach = 0.0
    var started = false
    iv.filter { case (a, b) => !a.isNaN && !b.isNaN && b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (!started || a > reach) { total += b - a; reach = b; started = true }
        else if (b > reach) { total += b - reach; reach = b }
      }
    total
  }
}
