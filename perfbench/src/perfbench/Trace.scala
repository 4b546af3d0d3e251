package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Cumulative Spark work as seen on the listener bus. */
final case class Work(jobs: Long, stages: Long, taskMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long) {
  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages,
    taskMs - o.taskMs, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes)
}

/** Listener counting jobs, stages, task time, shuffle writes and spill,
  * and keeping each job's wall interval (driver clock, ms).
  */
final class RuntimeCounters extends SparkListener {
  private var work = Work(0, 0, 0, 0, 0)
  private val started = scala.collection.mutable.Map.empty[Int, Long]
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    work = work.copy(jobs = work.jobs + 1)
    started(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val m = e.stageInfo.taskMetrics
      work = work.copy(stages = work.stages + 1)
      if (m != null) work = work.copy(
        taskMs = work.taskMs + m.executorRunTime,
        shuffleWriteBytes =
          work.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes =
          work.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  def snapshot: Work = synchronized(work)

  /** Milliseconds of [from, to] during which at least one job ran. */
  def jobCoveredMs(from: Long, to: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }
}

/** One traced call: name, parent, wall interval and the Spark work the
  * listener attributed to it.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, startMs: Long, endMs: Long, work: Work, ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around calls into the program, kept in memory. With tracing off
  * `span` only runs the body. With tracing on, the listener bus is
  * drained before and after each call, so a span's work counts are
  * complete when it is recorded.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val counters: Option[RuntimeCounters] =
    if (enabled) {
      val c = new RuntimeCounters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
  val spans = ArrayBuffer.empty[Span]
  private var stack = List(-1)
  private var nextId = 0

  private def settled(): Work = counters match {
    case Some(c) => PerfbenchBus.drain(spark.sparkContext); c.snapshot
    case None => Work(0, 0, 0, 0, 0)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.head
      val w0 = settled()
      stack = id :: stack
      val (n0, m0) = (System.nanoTime(), System.currentTimeMillis())
      var ok = false
      try { val r = body; ok = true; r }
      finally {
        val (n1, m1) = (System.nanoTime(), System.currentTimeMillis())
        stack = stack.tail
        spans += Span(id, parent, name, n0, n1, m0, m1, settled() - w0, ok)
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Spans as JSON lines. */
  def dump(path: String): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "ok" -> s.ok,
        "jobs" -> s.work.jobs, "stages" -> s.work.stages,
        "task_ms" -> s.work.taskMs,
        "shuffle_write_bytes" -> s.work.shuffleWriteBytes,
        "spill_bytes" -> s.work.spillBytes))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** JVM-wide GC and JIT time, and heap retained after a forced GC. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def retainedMb: Double = {
    // the Spark context cleaner frees broadcast and shuffle blocks after
    // a GC has found them unreachable, so collect more than once
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}

object Stats {
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else quantile(xs, 0.5)
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}

object Json {
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def value(v: Any): String = v match {
    case s: String => "\"" + esc(s) + "\""
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "metric is not a finite number")
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case other => throw new IllegalArgumentException(s"no JSON for $other")
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => "\"" + esc(k) + "\":" + value(v) }
      .mkString("{", ",", "}")
}
