package graft.ops

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.text.Dedup

class IterateSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs `body` starts, counted by a listener. A sentinel job in its
    * own group is waited for: the bus delivers events in order, so
    * once the sentinel is seen every earlier job start was too. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"iterate-spec-${System.nanoTime}"
    val sentinel = group + "-sentinel"
    val counted = new java.util.concurrent.atomic.AtomicInteger()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .foreach { g =>
            if (g == group) counted.incrementAndGet()
            else if (g == sentinel) done.countDown()
          }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "iterate spec")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "iterate spec sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the sentinel job")
      (out, counted.get)
    } finally sc.removeSparkListener(listener)
  }

  private def isLineageCut(df: DataFrame): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    plan.isInstanceOf[LogicalRDD] && plan.children.isEmpty
  }

  test("loop: the step runs once per round, each new state is pinned " +
    "once, and the final state's plan is the pinned blocks alone") {
    val init = spark.range(0, 8).select(col("id").as("x"))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, DataFrame)]
    val ((out, converged), jobs) = jobsOf {
      Iterate.loop(init, 3) { (s, round) =>
        seen += (round -> s)
        Iterate.Next(s.select((col("x") + 1).as("x")))
      }
    }
    assert(!converged)
    assert(seen.map(_._1) == Seq(1, 2, 3))
    // the init is used as given; every later round reads a pinned state
    assert(!isLineageCut(seen.head._2))
    assert(seen.tail.forall { case (_, s) => isLineageCut(s) })
    // narrow toy step: a pin is exactly one job, so 3 rounds = 3 pins
    assert(jobs == 3, s"jobs = $jobs")
    assert(isLineageCut(out))
    assert(out.as[Long].collect().sorted.toSeq == (3L until 11L))
  }

  test("loop: the final plan is cut after any number of rounds, and " +
    "pin alone cuts an arbitrary plan") {
    val init = spark.range(0, 4).select(col("id").as("x"))
    for (rounds <- Seq(1, 2, 5)) {
      val (out, _) = Iterate.loop(init, rounds) { (s, _) =>
        Iterate.Next(s.join(s.select(col("x").as("y")),
          col("x") === col("y")).select((col("x") * 2).as("x")))
      }
      assert(isLineageCut(out), s"rounds = $rounds")
      assert(out.as[Long].collect().sorted.toSeq ==
        (0L until 4L).map(_ << rounds))
    }
    val agg = init.groupBy(col("x") % 2).count()
    assert(!isLineageCut(agg) && isLineageCut(Iterate.pin(agg)))
  }

  test("loop: an early stop at a fixpoint returns the same rows as " +
    "running the full budget (the kCore/LPA contract)") {
    // x -> min(x + 1, 5) reaches its fixpoint {5} within 5 rounds
    val init = Seq(0L, 2L, 4L).toDF("x")
    def advance(s: DataFrame) = s.select(least(col("x") + 1, lit(5L)).as("x"))
      .distinct()
    def rows(df: DataFrame) = df.as[Long].collect().sorted.toSeq
    var fullSteps = 0
    val (full, fullConverged) = Iterate.loop(init, 12) { (s, _) =>
      fullSteps += 1; Iterate.Next(advance(s))
    }
    // probe on the pinned state against the previous one (LPA's form)
    var probeSteps = 0
    val (byProbe, probeConverged) = Iterate.loop(init, 12) { (s, _) =>
      probeSteps += 1
      Iterate.Next(advance(s), next => rows(next) == rows(s))
    }
    // probe before the step, no new state once converged (kCore's form)
    var fixSteps = 0
    val (byFixpoint, fixConverged) = Iterate.loop(init, 12) { (s, _) =>
      fixSteps += 1
      if (rows(advance(s)) == rows(s)) Iterate.Fixpoint
      else Iterate.Next(advance(s))
    }
    assert(rows(full) == Seq(5L))
    assert(rows(byProbe) == rows(full) && rows(byFixpoint) == rows(full))
    assert(!fullConverged && probeConverged && fixConverged)
    assert(fullSteps == 12 && probeSteps < 12 && fixSteps < 12,
      s"steps: full $fullSteps, probe $probeSteps, fixpoint $fixSteps")
    // the same contract through the operators that use each form
    val edges = Seq("x" -> "y", "y" -> "z", "z" -> "x", "x" -> "p1",
      "p1" -> "p2").toDF("m", "n")
    def pairs(df: DataFrame) =
      df.as[(String, Long)].collect().sorted.toSeq
    assert(pairs(Graphs.kCore(edges, "m", "n", k = 2, rounds = 3)) ==
      pairs(Graphs.kCore(edges, "m", "n", k = 2, rounds = 16)))
    def labels(df: DataFrame) =
      df.as[(String, String)].collect().sorted.toSeq
    assert(labels(Graphs.labelPropagation(edges, "m", "n", rounds = 6)) ==
      labels(Graphs.labelPropagation(edges, "m", "n", rounds = 16)))
  }

  test("duplicateClusters still throws when maxIters rounds do not " +
    "converge") {
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("id1", "id2")
    val e = intercept[IllegalStateException] {
      Dedup.duplicateClusters(pairs, maxIters = 1)
    }
    assert(e.getMessage.contains("did not converge in 1 rounds"))
    // the same chain converges with room to pointer-jump
    assert(Dedup.duplicateClusters(pairs, maxIters = 12)
      .as[(Long, Long)].collect().forall(_._2 == 0L))
  }
}
