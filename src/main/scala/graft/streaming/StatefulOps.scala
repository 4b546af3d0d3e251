package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom keyed state via `mapGroupsWithState` — the Structured Streaming
  * extension point for semantics windows can't express: here, lifetime
  * running totals per user that survive across micro-batches (the
  * "customer-360 running profile" shape of a feature store's online path).
  *
  * State is per-key and lives in the state store (RocksDB/HDFS-backed on a
  * cluster); at 100 TB-of-stream scale the keys partition across executors
  * and each update touches only its key's state. On a static Dataset the
  * same code runs as a single batch — one code path, tested both ways.
  */
object StatefulOps {

  /** Per-user lifetime profile carried across micro-batches. */
  case class UserProfile(userId: Long, totalEvents: Long, totalValue: Double,
    maxValue: Double)

  private def merged(userId: Long, events: Iterator[(Long, Double)],
      prior: Option[UserProfile]): UserProfile = {
    var n = prior.map(_.totalEvents).getOrElse(0L)
    var tot = prior.map(_.totalValue).getOrElse(0.0)
    var mx = prior.map(_.maxValue).getOrElse(Double.NegativeInfinity)
    events.foreach { case (_, v) =>
      n += 1; tot += v; if (v > mx) mx = v
    }
    UserProfile(userId, n, tot, mx)
  }

  /** Running per-user totals over a `(user_id, value)` stream. Emits the
    * updated profile for every key touched in each micro-batch
    * (`OutputMode.Update` downstream).
    */
  def runningUserProfiles(events: Dataset[(Long, Double)]): Dataset[UserProfile] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[UserProfile, UserProfile](GroupStateTimeout.NoTimeout) {
        case (userId, it, state: GroupState[UserProfile]) =>
          val next = merged(userId, it, state.getOption)
          state.update(next)
          next
      }
  }

  /** The output mode this operator requires downstream. */
  val RequiredOutputMode: OutputMode = OutputMode.Update()
}
