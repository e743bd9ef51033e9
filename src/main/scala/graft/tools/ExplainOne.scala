package graft.tools

import graft.{GraftSession, SparkEntry}

/** Print the formatted physical plan of one or more SparkEntry queries
  * (comma-separated): runMain graft.tools.ExplainOne <q1[,q2,...]> [sfDir]
  * Core count comes from SPARK_GRAFT_CPUS (default 4) — with the
  * scale-adaptive scan fan-out, CPUS=1 shows the no-fan-out plan an
  * already-parallel production input gets. */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local()
    names.foreach { name =>
      println(s"==== $name ====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
  }
}
