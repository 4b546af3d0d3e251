package perfbench

import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** Command line of one benchmark run (see `perfbench/run.py`). */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, data: String, work: String, out: String, cores: Int,
    pins: String)

/** One operation issued to the program. `ms` is wall time including any
  * tracing; `span` is the operation's root span when tracing is on.
  */
final case class Op(ms: Double, ok: Boolean, span: Option[Span])

/** What one run prints: correctness, counts and metrics by name. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, Double)])

/** Shared run discipline of both workloads. */
final class Harness(val a: Args) {
  var spark: SparkSession = _
  var tracer: Tracer = _
  private var attempted = 0L
  private var failed = 0L

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${a.cores}]")
      // as graft.Bench: text_sgd_* resolve graft_* functions through it
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", a.cores.toLong)
      .config("spark.sql.codegen.hugeMethodLimit", 8000L)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      // bounded status history, so retained_mb tracks the program's own
      // state, not how many operations fitted in the window
      .config("spark.ui.retainedJobs", 50L)
      .config("spark.ui.retainedStages", 50L)
      .config("spark.sql.ui.retainedExecutions", 50L)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.range(1000000L).selectExpr("sum(id)").collect()
    s
  }

  /** Starts a session and prepares the workload's inputs `reps` times,
    * keeping the last; returns the inputs and the median set-up seconds.
    */
  def setUp[P](reps: Int)(prepare: SparkSession => P): (P, Double) = {
    var p: Option[P] = None
    val secs = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session()
      p = Some(prepare(spark))
      (System.nanoTime() - t0) / 1e9
    }
    tracer = new Tracer(spark, a.trace)
    (p.get, Stats.median(secs))
  }

  /** Runs `body` as one counted operation inside span `name`. A throw or
    * a false result is a failed operation.
    */
  def op(name: String)(body: => Boolean): Op = {
    attempted += 1
    val n0 = tracer.spans.length
    val t0 = System.nanoTime()
    val ok =
      try tracer.span(name)(body)
      catch { case NonFatal(e) => Harness.log(s"$name failed: $e"); false }
    val ms = (System.nanoTime() - t0) / 1e6
    if (!ok) failed += 1
    Op(ms, ok, if (tracer.spans.length > n0) Some(tracer.spans.last) else None)
  }

  /** A correctness check outside the timed window, counted as an op. */
  def check(what: String)(body: => Boolean): Unit = {
    val o = op("check")(body)
    if (!o.ok) Harness.log(s"check failed: $what")
  }

  /** Latency sample in which a failed operation counts as the whole
    * window, so it can never read as a fast one.
    */
  def latencies(ops: Seq[Op], windowMs: Double): Seq[Double] = {
    require(ops.nonEmpty, "no unit operation finished in the window")
    ops.map(o => if (o.ok) o.ms else math.max(o.ms, windowMs))
  }

  /** Closed loop: issues `step` until `seconds` have passed; returns the
    * window's wall time in ms.
    */
  def window(step: () => Unit): (Long, Long) = {
    val t0 = System.nanoTime()
    val deadline = t0 + a.seconds * 1000000000L
    while (System.nanoTime() < deadline) step()
    (t0, System.nanoTime())
  }

  def result(metrics: Seq[(String, Double)]): Result =
    Result(failed == 0, attempted, failed, metrics)
}

object Harness {
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $msg")
}

/** Runtime-layer numbers of a traced window: work, GC and JIT deltas. */
final case class WindowTrace(startNs: Long, endNs: Long, work: Work,
    gcMs: Long, jitMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def contains(s: Span): Boolean = s.startNs >= startNs && s.endNs <= endNs
}

object WindowTrace {
  /** Runs the timed window and records its runtime deltas. */
  def around(h: Harness)(run: => (Long, Long)): WindowTrace = {
    val w0 = h.tracer.counters.map { c =>
      org.apache.spark.PerfbenchBus.drain(h.spark.sparkContext); c.snapshot
    }
    val (gc0, jit0) = (Jvm.gcMs, Jvm.jitMs)
    val (t0, t1) = run
    val (gc1, jit1) = (Jvm.gcMs, Jvm.jitMs)
    val w1 = h.tracer.counters.map { c =>
      org.apache.spark.PerfbenchBus.drain(h.spark.sparkContext); c.snapshot
    }
    WindowTrace(t0, t1, (for (a <- w1; b <- w0) yield a - b)
      .getOrElse(Work(0, 0, 0, 0, 0)), gc1 - gc0, jit1 - jit0)
  }

  /** Per-layer metrics of the runtime, common to every workload. `unit`
    * holds the workload's unit operations in the window.
    * `trace.span_cover` is the share of the window inside root spans.
    */
  def runtimeMetrics(h: Harness, w: WindowTrace, unit: Seq[Op])
      : Seq[(String, Double)] = {
    val spans = unit.flatMap(_.span)
    val n = math.max(1, spans.length).toDouble
    val unitMs = spans.map(_.ms).sum
    val covered = h.tracer.counters.map(c =>
      spans.map(s => c.jobCoveredMs(s.startMs, s.endMs)).sum).getOrElse(0L)
    val rootMs = h.tracer.spans
      .filter(s => s.parent == -1 && w.contains(s)).map(_.ms).sum
    Seq(
      "spark.jobs_per_op" -> spans.map(_.work.jobs).sum / n,
      "spark.stages_per_op" -> spans.map(_.work.stages).sum / n,
      "spark.task_s_per_op" -> spans.map(_.work.taskMs).sum / 1e3 / n,
      "spark.slot_util" -> Stats.ratio(w.work.taskMs, w.ms * h.a.cores),
      "spark.shuffle_write_mb" -> w.work.shuffleWriteBytes / 1e6,
      "spark.spill_mb" -> w.work.spillBytes / 1e6,
      "jvm.gc_s" -> w.gcMs / 1e3,
      "jvm.jit_s" -> w.jitMs / 1e3,
      "driver.share" -> Stats.ratio(unitMs - covered, unitMs),
      "trace.span_cover" -> Stats.ratio(rootMs, w.ms))
  }
}

object FsBench {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k -> v }.toMap
    Args(kv("--workload"), kv("--seed").toLong, kv("--seconds").toInt,
      kv("--trace") == "1", kv("--data"), kv("--work"), kv("--out"),
      kv("--cores").toInt, kv("--pins"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val h = new Harness(a)
    try {
      val r = a.workload match {
        case "store_serve" => new StoreServe(h).run()
        case "ops_mix" => new OpsMix(h).run()
        case "pin" => new OpsMix(h).pin(); return
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val json = Json.obj(Seq("correct" -> r.correct,
        "attempted" -> r.attempted, "failed" -> r.failed,
        "metrics" -> r.metrics.toMap))
      java.nio.file.Files.write(java.nio.file.Paths.get(a.out),
        json.getBytes("UTF-8"))
    } finally if (h.spark != null) h.spark.stop()
  }
}
