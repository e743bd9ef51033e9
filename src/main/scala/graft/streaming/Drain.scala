package graft.streaming

import scala.util.control.NonFatal

import org.apache.spark.sql.streaming.StreamingQuery

/** The one bounded wait for an AvailableNow drain. Such a query stops on
  * its own once it has processed what its source held, however long
  * that takes: a first drain or a large arrival wave may be one batch of
  * many minutes. So the bound is on a stall, not on the drain: the wait
  * fails only when [[StallMs]] pass with no progress, where progress is
  * a newly completed batch, a new job of the query, or a newly completed
  * task in one of its jobs' stages (the query's jobs are its run id's
  * job group, `foreachBatch` jobs included). */
object Drain {

  /** Block until `q` (an AvailableNow query checkpointed at
    * `checkpoint`) terminates, rethrowing its failure. If it makes no
    * progress for [[StallMs]], stop it and throw an
    * IllegalStateException naming the query, its last completed batch
    * id and its checkpoint. */
  def availableNow(q: StreamingQuery, checkpoint: String): Unit =
    availableNow(q, checkpoint, StallMs)

  private[graft] def availableNow(q: StreamingQuery, checkpoint: String,
                                  stallMs: Long): Unit = {
    val tracker = q.sparkSession.sparkContext.statusTracker
    // (last completed batch id, jobs started + tasks completed); only
    // compared for change, so a stage that ages out of the status
    // store counts as progress once and never hides a stall
    def progress: (Long, Long) = {
      val jobs = tracker.getJobIdsForGroup(q.runId.toString)
      val tasks = jobs.iterator.flatMap(tracker.getJobInfo(_))
        .flatMap(_.stageIds).flatMap(tracker.getStageInfo(_))
        .map(_.numCompletedTasks.toLong).sum
      (Option(q.lastProgress).fold(-1L)(_.batchId), jobs.length + tasks)
    }
    var seen = progress
    var since = System.nanoTime()
    while (!q.awaitTermination(math.max(1L, math.min(PollMs, stallMs / 4)))) {
      val now = progress
      if (now != seen) { seen = now; since = System.nanoTime() }
      else if ((System.nanoTime() - since) / 1000000L >= stallMs) {
        val last = if (seen._1 < 0) "none" else seen._1.toString
        val stopped = stop(q)
        throw new IllegalStateException(
          s"AvailableNow query ${Option(q.name).getOrElse(q.id)} made no " +
            s"progress for $stallMs ms (last completed batch id $last, " +
            s"checkpoint $checkpoint); " +
            (if (stopped) "it was stopped"
             else s"stop() did not return within $StopMs ms, so it may " +
               "still be running"))
      }
    }
  }

  /** Stop `q` on a daemon thread and wait at most [[StopMs]]: `stop()`
    * interrupts the batch and then joins the query's thread without a
    * limit, which never returns if the batch is stuck where an
    * interrupt does not reach (blocking I/O). True once it stopped. */
  private def stop(q: StreamingQuery): Boolean = {
    val t = new Thread(() => try q.stop() catch { case NonFatal(_) => () },
      s"drain-stop-${q.id}")
    t.setDaemon(true)
    t.start()
    t.join(StopMs)
    !t.isAlive
  }

  /** How long a drain may go without progress before it fails. */
  private val StallMs = 180000L

  /** How often the wait samples progress. */
  private val PollMs = 1000L

  /** How long a stalled drain's `stop()` may take. */
  private val StopMs = 60000L
}
