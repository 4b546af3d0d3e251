package graft

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `body`'s result and the number of Spark jobs it launched. Only jobs
    * of this thread's job group count, so work from other threads never
    * shows up.
    */
  def jobsIn[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      val a = body
      TestBus.drain(sc)
      (a, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** (set-up jobs, jobs per extra round) of building `op(rounds)` and
    * writing it to the noop sink, from runs at 1 and 3 rounds.
    */
  def roundJobs(op: Int => org.apache.spark.sql.DataFrame): (Int, Int) = {
    def jobs(rounds: Int) = jobsIn(
      op(rounds).write.format("noop").mode("overwrite").save())._2
    val (one, three) = (jobs(1), jobs(3))
    assert((three - one) % 2 == 0, s"1 round: $one jobs, 3 rounds: $three")
    val perRound = (three - one) / 2
    (one - perRound, perRound)
  }
}
