package graft.util

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.{FutureTask, TimeUnit, TimeoutException}

import org.apache.spark.{JobExecutionStatus, SparkContext}

/** Bounded-await execution for harness query bodies (Verify / Bench /
  * Audit). Round 13 proved the failure mode: ONE query that never
  * terminates (a whole-stage-codegen compile explosion — not a slow job,
  * so no Spark-level timeout applies) silently zeroed every round
  * artifact, because all three harness mains iterate the full board in
  * the calling thread. The reference's own operational posture is
  * per-task timeouts (get_data_apis_vanilla.py:115 — 60 s per render
  * task); this is the engine-side equivalent.
  *
  * The body runs on a fresh daemon thread under a per-invocation Spark
  * job group. On timeout the group is cancelled with
  * `cancelJobGroupAndFutureJobs` — running jobs die
  * (`interruptOnCancel` reaches the executor threads) AND any job the
  * hung body submits LATER under the group is cancelled on arrival, so
  * a driver-side hang that eventually unblocks (codegen finishing after
  * minutes) cannot push work into the next query's bench window or
  * audit listener window. The daemon thread is then interrupted, and
  * the caller waits (bounded, 10 s) for the group's in-flight jobs to
  * drain from the status tracker before moving on — executor task
  * teardown is asynchronous, and tasks still winding down would pollute
  * the next query's timing otherwise.
  *
  * The group id carries a per-invocation sequence number: future-job
  * cancellation is sticky per group id, and Bench runs each query name
  * twice (min-of-passes) — pass 2 must start with a clean group even if
  * pass 1 timed out.
  *
  * The body runs in a [[Materialize]] query scope: every frame the query
  * persisted or checkpointed is released when the body thread exits —
  * before the result is handed back, and on failure or a late exit after
  * a timeout alike. */
object Watchdog {
  /** Default per-query bound, env-tunable: generous against the slowest
    * green query the board has ever recorded (~7 s at sf0.1), tight
    * against a genuine hang eating a round. */
  def defaultTimeoutSec: Long =
    sys.env.get("GRAFT_QUERY_TIMEOUT_SEC").map(_.toLong).getOrElse(180L)

  private val seq = new AtomicLong(0L)

  /** Post-cancel drain: true when no job in `group` is still RUNNING,
    * polled up to `boundMs`. UNKNOWN counts as drained — the tracker
    * drops state for cancelled jobs, and waiting on it would turn every
    * timeout into a full 10 s stall. */
  private def quiesce(sc: SparkContext, group: String,
                      boundMs: Long = 10000L): Boolean = {
    val deadline = System.nanoTime() + boundMs * 1000000L
    while (System.nanoTime() < deadline) {
      val running = sc.statusTracker.getJobIdsForGroup(group).exists { id =>
        sc.statusTracker.getJobInfo(id)
          .exists(_.status() == JobExecutionStatus.RUNNING)
      }
      if (!running) return true
      Thread.sleep(100L)
    }
    false
  }

  /** Run `body` with a bounded await. Right(result) on completion,
    * Left(cause) on failure, Left(TimeoutException) after `timeoutSec`.
    * `sc` is used to scope, cancel, and drain the query's Spark jobs. */
  def run[A](sc: SparkContext, name: String, timeoutSec: Long)
            (body: => A): Either[Throwable, A] = {
    val group = s"graft-wd-$name-${seq.incrementAndGet()}"
    val task = new FutureTask[A](() => {
      sc.setJobGroup(group, name, interruptOnCancel = true)
      try Materialize.scoped(body) finally sc.clearJobGroup()
    })
    val t = new Thread(task, s"graft-watchdog-$name")
    t.setDaemon(true)
    t.start()
    try Right(task.get(timeoutSec, TimeUnit.SECONDS))
    catch {
      case e: java.util.concurrent.ExecutionException =>
        Left(Option(e.getCause).getOrElse(e))
      case _: TimeoutException =>
        sc.cancelJobGroupAndFutureJobs(group)
        t.interrupt()
        val drained = quiesce(sc, group)
        Left(new TimeoutException(
          s"$name TIMED OUT after ${timeoutSec}s (watchdog" +
            (if (drained) ")" else "; jobs still draining after 10s)")))
    }
  }
}
