package graft.tools

import graft.queries.Registry

/** Generated operator catalog: CATALOG.md, one row per board query with
  * its family and concept, rendered from [[graft.queries.Registry]].
  * The registry itself rejects duplicate names and blank oracles or
  * concepts at load, so this file is a readable index, not a check;
  * CatalogSpec only requires it to be fresh.
  *
  * Usage: runMain graft.tools.Catalog
  */
object Catalog {

  def render(): String = {
    val rows = Registry.families.flatMap { case (family, qs) =>
      qs.map(q => (q.name, family, q.concept))
    }.sortBy(_._1)
    val sb = new StringBuilder
    sb ++= "# CATALOG — generated operator board "
    sb ++= "(runMain graft.tools.Catalog)\n\n"
    sb ++= s"${rows.size} queries in ${Registry.families.size} families, " +
      "from graft.queries.Registry; each query's builder, DuckDB oracle " +
      "and concept sit side by side in its family's file under " +
      "src/main/scala/graft/queries/.\n\n"
    sb ++= "| query | family | concept |\n"
    sb ++= "|---|---|---|\n"
    rows.foreach { case (q, family, concept) =>
      sb ++= s"| $q | $family | $concept |\n"
    }
    sb.result()
  }

  def main(args: Array[String]): Unit = {
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("CATALOG.md"), render())
    println(s"[catalog] wrote CATALOG.md (${Registry.all.size} queries)")
  }
}
