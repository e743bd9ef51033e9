package clifbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark harness. The oracle-side check (a corrupted
  * expectation must fail) is in tests/test_oracle.py, beside run.py. */
class ClifbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val work = Files.createTempDirectory("clifbench_spec").toFile
  private lazy val spark: SparkSession = Main.session(2, work)

  override def afterAll(): Unit = {
    spark.stop()
    Fs.deleteTree(work)
  }

  private def windows(p: LogicalPlan): Int =
    p.collect { case w: Window => w }.size

  test("the timed clif_blocked_dataset plan keeps the LOCF window count() prunes") {
    val w = Workloads("blocked_dataset", spark, 7L, new File(work, "bd"))
    w.prepare()
    val op = w.ops.find(_.name == "clif_blocked_dataset").get
    val plans = mutable.Buffer.empty[LogicalPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.optimizedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val errors = mutable.Buffer.empty[String]
      Main.pass(w, Seq(op), None, mutable.Map.empty[String, Int]
        .withDefaultValue(0), errors)
      org.apache.spark.ClifbenchBus.drain(spark.sparkContext)
      assert(errors.isEmpty, errors)
    } finally spark.listenerManager.unregister(listener)
    val timed = plans.synchronized(plans.toList)
    assert(timed.exists(windows(_) > 0), timed.mkString("\n"))
    val counted = op.build().get.groupBy().count().queryExecution.optimizedPlan
    assert(windows(counted) == 0, counted)
  }

  test("traced layers reconcile with the traced wall") {
    val w = Workloads("blocked_dataset", spark, 8L, new File(work, "tr"))
    val res = Main.run(w, 0.0, traced = true, cores = 2)
    assert(res("failed") == 0, res("errors"))
    val m = res("layers").asInstanceOf[Map[String, Map[String, Any]]]
      .map { case (k, v) => k -> v("value").asInstanceOf[Double] }
    val e2e = res("metrics").asInstanceOf[Map[String, Map[String, Any]]]
    val tracedWall = e2e("wall_s")("value").asInstanceOf[Double] +
      m("trace.overhead_s")
    val layers = m("catalyst.analysis_s") + m("catalyst.optimization_s") +
      m("catalyst.planning_s") + m("exec.job_wall_s") + m("exec.driver_gap_s")
    assert(math.abs(layers - tracedWall) <= Layers.ReconcileTolerance *
      tracedWall, s"layers $layers vs traced wall $tracedWall ($m)")
    assert(m("exec.jobs") > 0 && m("catalyst.executions") > 0)
    assert(m("op.clif_blocked_dataset.materialize_s") > 0)
  }

  test("lost attribution fails the trace check") {
    val job = (1000L, 1100L)
    val ok = Recorder.Events(Nil, List(Recorder.Exec(100L, None, Nil)),
      List(job), Recorder.Tasks(n = 2, runMs = 150L), Nil)
    def pass(ev: Recorder.Events) = Main.Pass(1.0, 1.0,
      Seq(Main.OpRun("op", 1.0, 1.0, 0L, 2000L, Some(ev))), 0L, 2000L, 0L,
      Main.OpNotesSnapshot(0L, Map.empty))
    assert(Layers.attributionGaps(pass(ok), cores = 2).isEmpty)
    Seq(ok.copy(execs = Nil), ok.copy(jobs = Nil), ok.copy(open = 1),
      ok.copy(tasks = ok.tasks.copy(runMs = 300L))).foreach { ev =>
      assert(Layers.attributionGaps(pass(ev), cores = 2).nonEmpty, ev)
    }
  }

  test("generators are deterministic per seed and differ across seeds") {
    def raw(seed: Long, d: String): Map[String, Seq[String]] = {
      val dir = new File(work, d)
      Generators.rawExtracts(dir, seed, 20)
      dir.listFiles.map(f => f.getName ->
        scala.io.Source.fromFile(f).getLines().toSeq).toMap
    }
    val a = raw(1L, "raw_a")
    assert(a.size == 12 && a.values.forall(_.size > 1))
    assert(a == raw(1L, "raw_b"))
    assert(a != raw(2L, "raw_c"))
    val e1 = Generators.icuEvents(1L, 20)
    assert(e1.nonEmpty && e1 == Generators.icuEvents(1L, 20))
    assert(e1 != Generators.icuEvents(2L, 20))
  }
}
