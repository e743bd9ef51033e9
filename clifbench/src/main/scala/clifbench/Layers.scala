package clifbench

import Main.Pass
import Recorder.unionMs

/** Per-layer metrics of the traced passes, named after the repository's
  * modules: `catalyst` (analysis, optimisation, planning), `exec` (DAG
  * scheduler, tasks, shuffle), `clif.etl`, `op` (the operator
  * builders behind SparkEntry.queries), `streaming` and
  * `clif.incremental`. Every metric is computed per traced pass; the
  * reported value is the median over passes. */
object Layers {

  /** Queries reached through SparkEntry.queries, each with a build and a
    * materialise span. */
  val OpQueries: Seq[String] = Seq("clif_blocked_dataset")

  /** Ops whose drains carry streaming state. */
  val StreamOps: Set[String] = Set("s_stream_dedup",
    "clif_blocked_incremental")

  /** Largest |catalyst + job wall + driver gap - traced wall| accepted, as
    * a share of the traced wall. The driver gap is the wall outside both
    * jobs and Catalyst phases, so the three are disjoint by construction;
    * what is left is Catalyst time overlapping a job (adaptive
    * re-planning inside an action) or another Catalyst phase. Events the
    * listeners miss would vanish into the gap, so [[attributionGaps]]
    * checks for them separately. */
  val ReconcileTolerance = 0.05

  /** Signs of lost attribution in one traced pass: an op with no SQL
    * execution or no job in its span, a job or execution still open when
    * the span closed, or more task run time than the op's job wall
    * could hold on `cores` slots. Returns one message per finding. */
  def attributionGaps(p: Pass, cores: Int): Seq[String] =
    p.ops.flatMap { o =>
      o.events.toSeq.flatMap { ev =>
        val slotMs = unionMs(ev.jobs) * cores
        Seq(
          if (ev.execs.isEmpty) Some("no SQL execution recorded") else None,
          if (ev.jobs.isEmpty) Some("no job recorded") else None,
          if (ev.open > 0) Some(s"${ev.open} jobs or executions left open")
          else None,
          // Task and job times are whole milliseconds: allow 1 ms a task.
          if (ev.tasks.runMs > slotMs + ev.tasks.n)
            Some(s"task run ${ev.tasks.runMs} ms exceeds job wall x " +
              s"$cores slots ($slotMs ms)")
          else None).flatten.map(m => s"${o.op}: trace: $m")
      }
    }

  /** Every per-layer metric with its unit, in report order. */
  val units: Seq[(String, String)] = Seq(
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "catalyst.executions" -> "count",
    "exec.jobs" -> "count", "exec.tasks" -> "count",
    "exec.job_wall_s" -> "s", "exec.driver_gap_s" -> "s",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.slot_util" -> "ratio", "exec.shuffle_read_mb" -> "MB",
    "exec.shuffle_write_mb" -> "MB",
    "exec.input_mb" -> "MB", "exec.output_mb" -> "MB") ++
    Workloads.EtlTables.map(t => s"clif.etl.${t}_s" -> "s") ++ Seq(
    "clif.etl.raw_scans" -> "count", "clif.etl.parquet_write_s" -> "s",
    "clif.etl.csv_write_s" -> "s", "clif.etl.validate_s" -> "s") ++
    OpQueries.flatMap(q => Seq(s"op.$q.build_s" -> "s",
      s"op.$q.materialize_s" -> "s")) ++ Seq(
    "streaming.batches" -> "count", "streaming.add_batch_s" -> "s",
    "streaming.query_planning_s" -> "s", "streaming.wal_commit_s" -> "s",
    "streaming.commit_offsets_s" -> "s", "streaming.latest_offset_s" -> "s",
    "streaming.trigger_s" -> "s", "streaming.start_stop_s" -> "s",
    "streaming.state_rows" -> "count", "streaming.state_commit_s" -> "s",
    "streaming.state_mb" -> "MB",
    "clif.incremental.wave1_s" -> "s", "clif.incremental.compact_s" -> "s",
    "clif.incremental.wave2_s" -> "s", "clif.incremental.grid_s" -> "s",
    "clif.incremental.buckets_rewritten" -> "count",
    "trace.overhead_s" -> "s", "trace.unattributed_s" -> "s")

  private val TableRe = """/([a-z_]+)\.(parquet|csv)""".r

  /** Metrics of one traced pass (all but trace.overhead_s). */
  def ofPass(p: Pass, cores: Int): Map[String, Double] = {
    val ev = p.ops.flatMap(_.events)
    val phases = ev.flatMap(_.phases)
    val execs = ev.flatMap(_.execs)
    val jobs = ev.flatMap(_.jobs)
    val tasks = ev.map(_.tasks).foldLeft(Recorder.Tasks())(_ + _)
    val batches = ev.flatMap(_.batches)
    def phase(n: String) = phases.filter(_.name == n)
      .map(x => x.endMs - x.startMs).sum / 1000.0
    val jobWall = unionMs(jobs) / 1000.0
    val busy = unionMs(jobs ++ phases.map(x => (x.startMs, x.endMs))) / 1000.0
    val catalyst = Seq("analysis", "optimization", "planning").map(phase).sum
    val mb = 1e6

    val etlTable = Workloads.EtlTables.toSet
    def tableOf(path: String): Option[String] =
      TableRe.findAllMatchIn(path).map(_.group(1)).find(etlTable)
    val writes = execs.flatMap(e => e.writes.flatMap(tableOf)
      .map(t => (t, e.writes.get.contains(".csv"), e.durationMs / 1000.0)))
    val validates = execs.filter(_.writes.isEmpty).flatMap(e =>
      e.scans.flatMap(tableOf).headOption.map(t => (t, e.durationMs / 1000.0)))
    val perTable = Workloads.EtlTables.map { t =>
      s"clif.etl.${t}_s" -> (writes.filter(_._1 == t).map(_._3).sum +
        validates.filter(_._1 == t).map(_._2).sum)
    }

    val byOp = p.ops.groupBy(_.op)
    val opSpans = OpQueries.flatMap { q =>
      val runs = byOp.getOrElse(q, Nil)
      Seq(s"op.$q.build_s" -> runs.map(_.buildMs).sum / 1000.0,
        s"op.$q.materialize_s" -> runs.map(_.materializeMs).sum / 1000.0)
    }
    val streamOps = p.ops.filter(o => StreamOps(o.op))
    val perOpState = streamOps.flatMap(_.events).map(_.batches)
    val drainS = p.notes.drainMs / 1000.0
    val triggerS = batches.map(_.triggerMs).sum / 1000.0
    val inc = p.notes.incremental

    Map(
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "catalyst.executions" -> execs.size.toDouble,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.tasks" -> tasks.n.toDouble,
      "exec.job_wall_s" -> jobWall,
      "exec.driver_gap_s" -> math.max(0.0, p.wallS - busy),
      "exec.task_run_s" -> tasks.runMs / 1000.0,
      "exec.task_cpu_s" -> tasks.cpuNs / 1e9,
      "exec.gc_s" -> tasks.gcMs / 1000.0,
      "exec.slot_util" ->
        (if (jobWall > 0) tasks.runMs / 1000.0 / (jobWall * cores) else 0.0),
      "exec.shuffle_read_mb" -> tasks.shuffleRead / mb,
      "exec.shuffle_write_mb" -> tasks.shuffleWrite / mb,
      "exec.input_mb" -> tasks.input / mb,
      "exec.output_mb" -> tasks.output / mb,
      "clif.etl.raw_scans" ->
        execs.map(_.scans.count(_.contains("_LDS.txt"))).sum.toDouble,
      "clif.etl.parquet_write_s" -> writes.filterNot(_._2).map(_._3).sum,
      "clif.etl.csv_write_s" -> writes.filter(_._2).map(_._3).sum,
      "clif.etl.validate_s" -> validates.map(_._2).sum,
      "streaming.batches" -> batches.size.toDouble,
      "streaming.add_batch_s" -> batches.map(_.addBatchMs).sum / 1000.0,
      "streaming.query_planning_s" -> batches.map(_.planningMs).sum / 1000.0,
      "streaming.wal_commit_s" -> batches.map(_.walMs).sum / 1000.0,
      "streaming.commit_offsets_s" ->
        batches.map(_.commitOffsetsMs).sum / 1000.0,
      "streaming.latest_offset_s" ->
        batches.map(_.latestOffsetMs).sum / 1000.0,
      "streaming.trigger_s" -> triggerS,
      "streaming.start_stop_s" -> math.max(0.0, drainS - triggerS),
      "streaming.state_rows" ->
        perOpState.map(bs => (0L +: bs.map(_.stateRows)).max).sum.toDouble,
      "streaming.state_commit_s" -> batches.map(_.stateCommitMs).sum / 1000.0,
      "streaming.state_mb" ->
        perOpState.map(bs => (0L +: bs.map(_.stateBytes)).max).sum / mb,
      "clif.incremental.wave1_s" -> inc.getOrElse("wave1_s", 0.0),
      "clif.incremental.compact_s" -> inc.getOrElse("compact_s", 0.0),
      "clif.incremental.wave2_s" -> inc.getOrElse("wave2_s", 0.0),
      "clif.incremental.grid_s" -> (inc.getOrElse("grid_s", 0.0) +
        byOp.get("clif_blocked_incremental").map(_.map(_.materializeMs)
          .sum / 1000.0).getOrElse(0.0)),
      "clif.incremental.buckets_rewritten" ->
        inc.getOrElse("buckets_rewritten", 0.0),
      "trace.unattributed_s" -> (p.wallS - catalyst - jobWall -
        math.max(0.0, p.wallS - busy))
    ) ++ perTable ++ opSpans
  }

  /** Medians over the traced passes, with the tracing overhead against
    * the untraced median wall. */
  def metrics(passes: Seq[Pass], untracedWallS: Double,
              cores: Int): Map[String, (Double, String)] = {
    val per = passes.map(ofPass(_, cores))
    val overhead = Main.median(passes.map(_.wallS)) - untracedWallS
    units.map { case (k, u) =>
      val v = if (k == "trace.overhead_s") overhead
        else Main.median(per.map(_(k)))
      k -> (v, u)
    }.toMap
  }
}
