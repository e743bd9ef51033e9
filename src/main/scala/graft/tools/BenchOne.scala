package graft.tools

import graft.{GraftSession, SparkEntry}

/** Time one board query N times in Bench's exact session context:
  * runMain graft.tools.BenchOne <query> [n] */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq // comma-separated: one warm JVM
    val n = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    names.foreach { name =>
      (1 to n).foreach { i =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        println(f"[benchone] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
