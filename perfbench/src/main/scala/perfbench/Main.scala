package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.tables.GraftTable

/** Everything a workload needs: the session, the tracer, its inputs and
  * its own scratch root (nothing is written outside `tmp`). */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
    data: String, tmp: String)

/** One op's outcome, as the workload reports it. `rows` is the user rows
  * the op ingested (0 for reads). */
final case class OpOut(kind: String, ok: Boolean = true, rows: Long = 0L)

/** One op, as [[Main]] records it; `phase` is warmup, timed or traced. */
final case class OpRec(index: Int, kind: String, startMs: Double, ms: Double,
    var ok: Boolean, rows: Long, phase: String)

/** What a workload's end-of-run checks found: ops whose results were
  * wrong, named whole-run checks, the byte counts behind `write_amp` /
  * `space_amp`, and raw outputs left for `run.py` to check. */
final case class Finish(failedOps: Set[Int], checks: Map[String, Boolean],
    facts: Map[String, Double], outputs: Map[String, Any] = Map.empty)

/** A closed-loop, single-client workload. `setup` builds the fixture
  * under a fresh directory and is timed (Main repeats it and keeps the
  * last build); `prepare` is untimed; `op(i)` is one timed operation.
  * Ops come in rounds with a fixed mix. After one untimed warm-up round,
  * every section runs the same number of whole rounds, so each section
  * measures the same mix and the same number of ops whatever the speed
  * of the program. */
trait Workload {
  /** True when the last op completed a round. */
  def roundDone: Boolean = true
  def setup(dir: String): Unit
  def prepare(): Unit = ()
  def op(i: Int): OpOut
  def finish(ops: Seq[OpRec]): Finish
  def close(): Unit = ()
}

object Workload {
  /** Force `df`'s executed plan and collect it, each under its own
    * `queries` span; the caller's span keeps what built `df` (for a table
    * read, the snapshot and the file pruning). */
  def query(tracer: Tracer, df: DataFrame): Array[Row] = {
    tracer.span("queries.plan")(df.queryExecution.executedPlan)
    tracer.span("queries.exec")(df.collect())
  }

  /** Run `body`; when tracing, count the versions it committed to
    * `tables` and the log checkpoint files that appeared on disk. */
  def logged[A](tracer: Tracer, tables: Seq[GraftTable])(body: => A): A = {
    if (!tracer.enabled) return body
    def state = tables.map(t => (t.currentVersion, Disk.checkpoints(t.path)))
    val before = state
    val a = body
    val diff = before.zip(state).map { case (b, e) => (e._1 - b._1, e._2 - b._2) }
    tracer.count("tables.log", "commits", diff.map(_._1).sum)
    tracer.count("tables.log", "checkpoints", diff.map(_._2).sum)
    a
  }
}

/** The benchmark JVM: set-up repetitions, the timed section(s), the
  * forced-GC heap reading, the workload's checks, and the raw record —
  * every sample, span, job and counter — written as JSON to `--out` for
  * `run.py` to reduce.
  *
  * Usage: perfbench.Main --workload W --seed N --rounds R --trace 0|1
  *   --data DIR --tmp DIR --out FILE */
object Main {

  /** Set-up builds per run; `setup_s` is their median. */
  val SetupReps = 3

  /** Phase marker in the JVM log. */
  def note(msg: String): Unit = System.err.println(s"[perfbench] ${java.time.Instant.now} $msg")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val rounds = a("rounds").toInt
    val traced = a("trace") == "1"
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val tmp = a("tmp")
    Files.createDirectories(Paths.get(tmp))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      // a small status store, so live_heap_mb does not grow with the op count
      .config("spark.sql.ui.retainedExecutions", "5")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(spark)
    val ctx = Ctx(spark, tracer, a("seed").toLong, a("data"), tmp)
    val w: Workload = workload match {
      case "scan_analytics" => new ScanAnalytics(ctx)
      case "table_upsert" => new TableUpsert(ctx)
      case "stream_ingest" => new StreamIngest(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    val setupS = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      w.setup(s"$tmp/setup-$r")
      (System.nanoTime() - t0) / 1e9
    }
    note(s"set-up ${setupS.map(s => f"$s%.2f").mkString(" ")} s")
    w.prepare()
    note("prepared")

    val ops = mutable.ArrayBuffer[OpRec]()
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // exactly `rounds` whole rounds
    def section(phase: String, rounds: Int): Map[String, Any] = {
      val trace = phase == "traced"
      if (trace) tracer.start()
      val first = ops.size
      val cpu0 = os.getProcessCpuTime
      val t0 = tracer.nowMs
      def done = ops.size - first
      var round = 0
      while (round < rounds) {
        val i = ops.size
        tracer.op = i
        val s = tracer.nowMs
        val out = try w.op(i) catch {
          case scala.util.control.NonFatal(e) =>
            e.printStackTrace()
            OpOut("error", ok = false)
        }
        ops += OpRec(i, out.kind, s, tracer.nowMs - s, out.ok, out.rows, phase)
        if (w.roundDone) round += 1
      }
      val elapsedMs = tracer.nowMs - t0
      val cpuMs = (os.getProcessCpuTime - cpu0) / 1e6
      if (trace) tracer.stop()
      note(f"$phase: $done ops in ${elapsedMs / 1000}%.1f s")
      Map("phase" -> phase, "elapsed_ms" -> elapsedMs, "cpu_ms" -> cpuMs, "n_ops" -> done)
    }
    section("warmup", 1)
    val sections = Seq(section("timed", rounds)) ++
      (if (traced) Seq(section("traced", rounds)) else Nil)

    val mem = ManagementFactory.getMemoryMXBean
    // Spark's ContextCleaner frees the blocks of plans the first GC found
    // dead (broadcasts, shuffles) on its own thread; collect again after it
    System.gc(); Thread.sleep(1000); System.gc()
    val liveHeapMb = mem.getHeapMemoryUsage.getUsed / 1048576.0

    val fin = w.finish(ops.toSeq)
    fin.failedOps.foreach(i => ops(i).ok = false)
    note(s"checked: ${fin.checks}")
    w.close()

    val out = Map(
      "workload" -> workload,
      "seed" -> ctx.seed,
      "cores" -> cores,
      "spark_version" -> spark.version,
      "setup_s" -> setupS,
      "sections" -> sections,
      "live_heap_mb" -> liveHeapMb,
      "checks" -> fin.checks,
      "facts" -> fin.facts,
      "outputs" -> fin.outputs,
      "ops" -> ops.map(o => Map("i" -> o.index, "kind" -> o.kind,
        "start_ms" -> o.startMs, "ms" -> o.ms, "ok" -> o.ok, "rows" -> o.rows,
        "phase" -> o.phase)),
      "spans" -> tracer.spanRecords.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "jobs" -> tracer.jobRecords.map(j => Map("id" -> j.id, "span" -> j.span,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "tasks" -> j.tasks,
        "run_ms" -> j.runMs, "cpu_ms" -> j.cpuMs, "deser_ms" -> j.deserMs,
        "gc_ms" -> j.gcMs, "input_bytes" -> j.inputBytes,
        "shuffle_read_bytes" -> j.shuffleReadBytes,
        "shuffle_write_bytes" -> j.shuffleWriteBytes)),
      "counters" -> tracer.counterRecords.map { case (span, key, op, v) =>
        Map("span" -> span, "key" -> key, "op" -> op, "value" -> v) },
      "progress" -> tracer.progressRecords)
    val om = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(a("out")), om.writeValueAsString(out))
    spark.stop()
  }
}
