package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check.py).
  *
  * runMain graft.Verify <sfDir> <outDir> [query ...]
  * With query names, only those queries (and their oracles) are dumped.
  * Exits non-zero when any query failed to run. */
object Verify {

  /** Write each query's result to `outDir/<name>` as parquet. Failures
    * are RECORDED, not swallowed: only NonFatal is caught (an OOM or
    * fatal error means the JVM is suspect and the dump should die), and
    * the remaining queries still run. Returns name -> error message for
    * every query that failed. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, String] =
    queries.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch {
        case scala.util.control.NonFatal(e) =>
          Some(name -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }.toMap

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Verify <sfDir> <outDir> [query ...]")
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSet
    val queries =
      if (names.isEmpty) SparkEntry.queries
      else {
        val unknown = names -- SparkEntry.queries.keySet
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
        SparkEntry.queries.filter(kv => names.contains(kv._1))
      }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = dump(spark, sfDir, outDir, queries)
    failed.toSeq.sortBy(_._1).foreach { case (name, err) =>
      System.err.println(s"[verify] $name failed: $err")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => queries.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} of ${queries.size} queries failed")
      sys.exit(1)
    }
  }
}
