package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The benchmark's JVM side: runs one workload in one process and writes
  * its raw measurements to `<out>/jvm_result.json` (and, traced, the
  * span dump to `<out>/spans.json`). The Python runner (`run.py`)
  * generates the inputs before this starts and reduces the raw record
  * into metrics afterwards.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --out <dir> --star <dir> [--raw <dir>] [--chunks <dir>]`.
  *
  * Timed regions hold only the calls into the program; output checks,
  * result hashing and the extra set-ups run outside them.
  */
object Main {
  val Cores = 4
  val Setups = 3

  /** One op: a query, a pipeline stage or a micro-batch. `leg` is
    * "main" in an untraced run; "warmup", "untraced" and "traced" in a
    * traced one. */
  final case class Op(name: String, leg: String, pass: Int, latencyS: Double,
                      error: Option[String])

  /** Everything one run measures, in the form written to JSON. */
  final class Run(val workload: String, val seed: Long, val trace: Boolean) {
    val setups = mutable.ArrayBuffer[Double]()
    val ops = mutable.ArrayBuffer[Op]()
    val passes = mutable.ArrayBuffer[(String, Double)]()
    val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
    val counters = mutable.LinkedHashMap[String, Double]()
    val info = mutable.LinkedHashMap[String, Any]()
    var peakHeapBytes = 0L
    /** Benchmark bookkeeping inside a pass (result hashing, heap
      * sampling), taken out of the pass's wall time; traced, it is a
      * `bench.untimed` span, so it is no layer's self time either. */
    var untimedNs = 0L

    def untimed[A](t: Tracer)(body: => A): A = {
      val t0 = System.nanoTime()
      try t.span("bench.untimed")(body) finally untimedNs += System.nanoTime() - t0
    }

    def count(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
    def check(name: String, ok: Boolean, detail: String = ""): Unit = {
      checks += ((name, ok, detail))
      if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(a("workload"), a("seed").toLong, a("trace") == "1")
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val w: Workload = run.workload match {
      case "nilm_pack"     => new PackWorkload(run, a("star"), Packs.nilm, out)
      case "doc_pack"      => new PackWorkload(run, a("star"), Packs.doc, out)
      case "ingest_etl"    => new IngestWorkload(run, a("raw"), out)
      case "stream_replay" => new StreamWorkload(run, a("chunks"), out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val seconds = a("seconds").toDouble

    // set-up 1 runs from process start: JVM, session, extensions,
    // tables and the untimed warm-up op
    var spark = w.setUp(newSession(out))
    run.setups += (System.currentTimeMillis() - jvmStart) / 1e3
    run.info("spark_version") = spark.version
    run.info("heap_max_bytes") = Runtime.getRuntime.maxMemory
    run.info("cores") = Cores

    HeapPeak.reset()
    val tracer = new Tracer(spark, run.trace)
    if (run.trace) {
      // warm-up, traced, untraced: the traced leg against the untraced
      // one is the tracing overhead. The JIT keeps warming over the
      // legs, so the figure errs high, never low.
      val untraced = new Tracer(spark, false)
      w.timed(spark, seconds / 3, untraced, "warmup")
      tracer.attach()
      w.timed(spark, seconds / 3, tracer, "traced")
      tracer.listener.drain()
      tracer.detach()
      w.timed(spark, seconds / 3, untraced, "untraced")
    } else w.timed(spark, seconds, tracer, "main")
    run.peakHeapBytes = HeapPeak.peakBytes
    val tCheck = System.nanoTime()
    try w.check(spark)
    catch { case e: Throwable => run.check("checks", ok = false, e.toString.take(300)) }
    run.info("check_s") = (System.nanoTime() - tCheck) / 1e9
    if (run.trace) writeSpans(out.resolve("spans.json"), tracer)

    // further set-ups (the reported set-up time is their median; a
    // traced run reports no set-up time)
    for (_ <- 2 to (if (run.trace) 1 else Setups)) {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = w.setUp(newSession(out))
      run.setups += (System.nanoTime() - t0) / 1e9
    }
    spark.stop()
    Json.write(out.resolve("jvm_result.json"), Map(
      "workload" -> run.workload, "seed" -> run.seed, "trace" -> run.trace,
      "setups_s" -> run.setups,
      "passes" -> run.passes.map { case (leg, s) => Map("leg" -> leg, "s" -> s) },
      "ops" -> run.ops.map(o => Map("name" -> o.name, "leg" -> o.leg,
        "pass" -> o.pass, "latency_s" -> o.latencyS, "error" -> o.error.orNull)),
      "checks" -> run.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "counters" -> run.counters, "info" -> run.info,
      "peak_heap_bytes" -> run.peakHeapBytes))
  }

  /** graft.Bench's session config: local[cores], shuffle partitions =
    * cores, UTC, UI off; spill and warehouse dirs inside `out`. */
  def newSession(out: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.register(spark)
    spark
  }

  private def writeSpans(p: Path, t: Tracer): Unit = {
    val jobs = t.listener.jobs.values().toArray(Array.empty[JobStats]).toSeq
      .sortBy(_.jobId)
    Json.write(p, Map(
      "spans" -> t.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "attrs" -> s.attrs)),
      "jobs" -> jobs.map(j => Map("id" -> j.jobId, "parent" -> j.parentSpan,
        "start_ns" -> j.startNs, "end_ns" -> (if (j.endNs > 0) j.endNs else j.startNs),
        "stages" -> j.stages, "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks,
        "task_run_ms" -> j.runMs, "task_cpu_ns" -> j.cpuNs,
        "shuffle_read_bytes" -> j.shuffleRead,
        "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill,
        "peak_exec_mem_bytes" -> j.peakExecMem))))
  }

  def timeS[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** One workload: how to set up, what one timed pass does, and the
  * output checks. */
trait Workload {
  /** Table resolution and the untimed warm-up op on a fresh session. */
  def setUp(spark: SparkSession): SparkSession

  def run: Main.Run

  /** Run whole passes until `seconds` have elapsed (at least one),
    * recording each pass's wall time and its ops under `leg`. */
  def timed(spark: SparkSession, seconds: Double, tracer: Tracer,
            leg: String): Unit = {
    val t0 = System.nanoTime()
    var k = 0
    while (k == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      run.untimedNs = 0L
      val (_, s) = Main.timeS(pass(spark, tracer, leg, k))
      run.passes += ((leg, s - run.untimedNs / 1e9))
      k += 1
    }
  }

  /** One pass over the workload's ops. */
  def pass(spark: SparkSession, t: Tracer, leg: String, k: Int): Unit

  /** Output checks, outside every timed region. */
  def check(spark: SparkSession): Unit
}

/** Tiny JSON writer for the raw records (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  def write(p: Path, v: Any): Unit =
    Files.writeString(p, render(v))

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
