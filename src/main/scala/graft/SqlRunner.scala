package graft

import org.apache.spark.sql.DataFrame

/** SQL entry point: registers every synthetic table as a temp view plus
  * the native function surface (cosine_sim / dot_product /
  * portable_simhash / normalize_spaces via GraftSession.tune), then
  * executes ANSI-ish SQL from a file or stdin — the engine's "Spark SQL"
  * front door. A JDBC/Thrift server would mount the same session state;
  * this main is the dependency-free equivalent for batch use.
  *
  * Usage: runMain graft.SqlRunner <dataDir> [sqlFile]
  *   - statements split on ';' (trailing/empty statements ignored)
  *   - each result prints as CSV with a header (stable, diffable)
  */
object SqlRunner {

  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val sql: String = args.lift(1) match {
      case Some(path) =>
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), "UTF-8")
      case None => scala.io.Source.stdin.mkString
    }
    val spark = GraftSession.local()
    Tables.registerAll(spark, dataDir)
    SqlRecipes.register(spark) // operator library as SQL table functions
    statements(sql).foreach { st =>
      printCsv(spark.sql(st))
    }
    spark.stop()
  }

  /** Split a script into executable statements: ';' separated, blank and
    * comment-only (--) fragments dropped. */
  def statements(script: String): Seq[String] =
    script.split(";").map(_.trim)
      .map(_.linesIterator.filterNot(_.trim.startsWith("--")).mkString("\n"))
      .map(_.trim).filter(_.nonEmpty).toSeq

  private def printCsv(df: DataFrame): Unit = {
    println(df.columns.mkString(","))
    // SQL-runner output is a human surface: cap rows like every SQL CLI
    df.limit(10000).collect().foreach { row =>
      println((0 until row.length).map { i =>
        val v = if (row.isNullAt(i)) "" else row.get(i).toString
        if (v.contains(",") || v.contains("\"") || v.contains("\n"))
          "\"" + v.replace("\"", "\"\"") + "\""
        else v
      }.mkString(","))
    }
  }
}
