package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark process: set-up, the timed closed loop, and the
  * output dump the checks read. `run.py` generates the inputs, starts
  * this main, and turns its result file into metrics.
  *
  * One client thread issues the operations of a pass back to back, the
  * way a batch scheduler waits on each task. An operation is one catalog
  * query (build the DataFrame, then drain it into the `noop` sink) or
  * one `FactCustomerTask.execute()`.
  *
  * Arguments are `--key value` pairs:
  *  - `workload`: `relational`, `iterative` or `etl_batch`;
  *  - `plan`: file with one pass per line, its operations comma-separated
  *    (query names, or report dates for `etl_batch`);
  *  - `data`: the input dir (the ETL sink writes beside it, to
  *    `<data>-out`);
  *  - `work`: dir for Spark scratch and the check dump;
  *  - `out`: result JSON to write;
  *  - `cores`, `seconds`, `trace` (0 or 1).
  */
object Main {
  /** Timed passes an untraced run makes at least. A traced run makes one
    * more, so that its traced pass is followed by an untraced one, the
    * baseline of the tracing overhead. */
  val MinPasses = 2

  /** Untimed warm passes before the timed ones. An operation keeps getting
    * faster for a minute or more after the JVM starts, while the JIT
    * compiles Spark's driver-side code, and how far it has got by a given
    * pass varies from run to run, so timed passes early on that curve
    * spread with it. On `etl_batch` the first pass after one warm pass is
    * still 30–50 % slower than five passes later, the second 20–25 %, so
    * it warms for two passes. `iterative` warms for one: its passes are
    * longer, and a second would not fit the time a run may take. */
  def warmPasses(workload: String): Int =
    if (workload == "etl_batch") 2 else 1

  def main(args: Array[String]): Unit = {
    val start = System.nanoTime()
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val cores = a("cores").toInt
    val trace = a("trace") == "1"
    val work = a("work")
    val plan = Files.readAllLines(Paths.get(a("plan"))).asScala.toSeq
      .filter(_.nonEmpty).map(_.split(",").toSeq)
    val isEtl = workload == "etl_batch"
    val queries = SparkEntry.queries

    // One operation. Catalog rows: build the DataFrame (`fn`, where the
    // eager driver-side jobs run), then drain it into the noop sink, or
    // into parquet at `dump` for the output checks.
    def runOp(spark: SparkSession, tracer: Tracer, op: String,
        dataDir: String, dump: Option[String]): Unit =
      tracer.span("op", op) {
        if (isEtl) {
          new TracedFactCustomerTask(spark, java.sql.Date.valueOf(op),
            dataDir, new TracedTarget(s"$dataDir-out", tracer), tracer)
            .execute()
        } else {
          val df = tracer.span("build", op)(queries(op)(spark, dataDir))
          tracer.span("action", op)(dump match {
            case Some(d) => df.coalesce(1).write.mode("overwrite")
              .parquet(s"$d/$op")
            case None => df.write.format("noop").mode("overwrite").save()
          })
        }
      }

    // One pass: the operations back to back, each timed on its own.
    // Queries that persist intermediates must not carry them into the
    // next operation (the rule graft.Bench applies between rows), so the
    // cache is cleared after each one, outside its timer.
    def runPass(spark: SparkSession, tracer: Tracer, ops: Seq[String],
        dataDir: String, dump: Option[String]): Pass = {
      val t0 = System.nanoTime()
      val recs = ops.map { op =>
        val s0 = System.nanoTime()
        val error =
          try { runOp(spark, tracer, op, dataDir, dump); "" }
          catch { case e: Throwable =>
            System.err.println(s"[perfbench] $op failed: $e")
            String.valueOf(e.getMessage).take(200)
          }
        val wall = (System.nanoTime() - s0) / 1e9
        spark.catalog.clearCache()
        OpRun(op, wall, error)
      }
      Pass((System.nanoTime() - t0) / 1e9, recs)
    }

    // Set-up: the session, then the warm passes on the timed inputs, so
    // the timed passes run warm. Set-up time runs from the start of this
    // main to the first timed operation: the program's own start-up
    // (catalog registration, first-use initialisation, JIT) lands there.
    // Catalog rows write their results to parquet in the first warm pass,
    // beside their DuckDB oracle SQL, for the output checks (the ETL
    // checks read the sink after the timed passes).
    // The session's scratch, warehouse and temp files stay under `work`.
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark)
    val warm = plan.take(warmPasses(workload)).zipWithIndex.map {
      case (ops, i) => runPass(spark, tracer, ops, a("data"),
        if (isEtl || i > 0) None else Some(s"$work/check"))
    }
    val setupS = (System.nanoTime() - start) / 1e9
    if (!isEtl) {
      val oracle = SparkEntry.oracleSql
      Json.write(s"$work/check/oracle_sql.json",
        plan.head.flatMap(n => oracle.get(n).map(n -> _)).toMap)
    }

    // Timed passes: at least `MinPasses`, then more while another pass
    // of average length would end nearer to `seconds` than stopping now
    // does (at most half a pass early or late). Traced runs
    // alternate untraced and traced passes, so the tracing overhead is
    // measured within one run.
    val passes = mutable.ArrayBuffer.empty[Pass]
    val seconds = a("seconds").toDouble
    val minPasses = MinPasses + (if (trace) 1 else 0)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var p = warm.size
    while (p < plan.size && (passes.size < minPasses ||
        elapsed + elapsed / passes.size / 2 <= seconds)) {
      val traced = trace && passes.size % 2 == 1
      if (traced) tracer.attach()
      val pass = runPass(spark, tracer, plan(p), a("data"), None)
      if (traced) tracer.detach()
      passes += pass.copy(traced = traced)
      p += 1
    }
    val (layers, spans) = tracer.report()
    spark.stop()

    val hwm = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    Json.write(a("out"), Map(
      "workload" -> workload,
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "setup_s" -> setupS,
      "warm_passes" -> warm.map(_.json),
      "passes" -> passes.map(_.json),
      "layers" -> layers,
      "storage_peak_mb" -> tracer.storagePeakBytes / 1048576.0,
      "rss_peak_mb" -> hwm))
    if (trace) Json.write(a("spans"), spans)
  }
}

final case class OpRun(name: String, wallS: Double, error: String)

final case class Pass(wallS: Double, ops: Seq[OpRun],
    traced: Boolean = false) {
  def json: Map[String, Any] = Map("wall_s" -> wallS, "traced" -> traced,
    "ops" -> ops.map(o =>
      Map("name" -> o.name, "wall_s" -> o.wallS, "error" -> o.error)))
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }

  def write(path: String, v: Any): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.writeString(Paths.get(path), render(v))
  }
}
