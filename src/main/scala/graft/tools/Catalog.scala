package graft.tools

/** Generated operator catalog + the board's structural invariants.
  *
  * The board is deep (300+ oracled queries across a dozen modules),
  * and its two registries, `SparkEntry.queries` and `oracleSql`, are
  * Map LITERALS with no compiler-checked linkage (a duplicate key
  * silently SHADOWS the earlier entry — later wins, no compile error;
  * round 13 caught three near-dup op designs and one real shadowing
  * hazard by hand). This tool makes the linkage an ARTIFACT: it
  * extracts the keys straight from SOURCE (the only place duplicates
  * are still visible) and writes CATALOG.md — one row per query:
  * concept, module, oracle. CatalogSpec re-derives everything and
  * fails on duplicate keys, a query/oracle set mismatch, or a stale
  * CATALOG.md.
  *
  * Usage: runMain graft.tools.Catalog
  */
object Catalog {

  val entrySrc = "src/main/scala/graft/SparkEntry.scala"

  private def readFile(p: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(p))

  /** Key lists (NOT sets — duplicates preserved) of the `queries` and
    * `oracleSql` Map literals, extracted from source. The runtime
    * Maps cannot reveal duplicates: the literal keeps the LAST entry.
    * Entries sit at 4-space indent (`    "name" -> ...`); oracle SQL
    * bodies are `|`-margin strings, so no SQL line matches. */
  def sourceKeys(src: String = readFile(entrySrc))
      : (Seq[String], Seq[String]) = {
    val iq = src.indexOf("def queries")
    val io = src.indexOf("def oracleSql")
    require(iq >= 0 && io > iq, "SparkEntry blocks not found")
    val re = """(?m)^    "([a-z0-9_]+)" ->""".r
    (re.findAllMatchIn(src.substring(iq, io)).map(_.group(1)).toSeq,
      re.findAllMatchIn(src.substring(io)).map(_.group(1)).toSeq)
  }

  /** Implementing module per query, derived from each entry's source
    * segment (the text between its key and the next entry's key):
    * the first operator-library reference wins; a query built purely
    * from the DataFrame API reads "inline". */
  def modules(src: String = readFile(entrySrc)): Map[String, String] = {
    val iq = src.indexOf("def queries")
    val io = src.indexOf("def oracleSql")
    val block = src.substring(iq, io)
    val entryRe = """(?m)^    "([a-z0-9_]+)" ->""".r
    val hits = entryRe.findAllMatchIn(block).toSeq
    val libs = Seq(
      "BlockedDataset" -> "clif.BlockedDataset",
      "ClifEtl" -> "clif.ClifEtl",
      "EventStreams" -> "streaming.EventStreams",
      "Multimodal" -> "media.Multimodal",
      "Similarity" -> "sim.Similarity",
      "LshIndex" -> "text.LshIndex",
      "Dedup." -> "text.Dedup",
      "TextOps" -> "text.TextOps",
      "Linkage" -> "ops.Linkage",
      "Graphs" -> "ops.Graphs",
      "Sketches" -> "ops.Sketches",
      "WindowOps" -> "ops.WindowOps",
      "Analytics" -> "ops.Analytics",
      "Quality" -> "ops.Quality",
      "Reshape" -> "ops.Reshape",
      "Scalars" -> "ops.Scalars",
      "Joins" -> "ops.Joins",
      "Merge" -> "ops.Merge",
      "Scale." -> "ops.Scale",
      "Prefix" -> "ops.Prefix",
      "UriSource" -> "sources.UriSource",
      "XlsxSource" -> "sources.XlsxSource",
      "FixedWidth" -> "sources.FixedWidth")
    hits.zipWithIndex.map { case (m, i) =>
      val end = if (i + 1 < hits.length) hits(i + 1).start
                else block.length
      val seg = block.substring(m.start, end)
      val mod = libs.collectFirst {
        case (needle, name) if seg.contains(needle) => name
      }.getOrElse("inline")
      m.group(1) -> mod
    }.toMap
  }

  /** Concept phrase per query, extracted from the `// ---- <text>`
    * banner comment that precedes each entry (the text up to the
    * first em dash / colon / closing `----`, truncated at 60 chars).
    * Exists for the grep-the-concept-FIRST rule: r13 caught three
    * near-duplicate op designs by hand, and r14's verdict found two
    * duplicate-CONCEPT queries that the duplicate-KEY gate cannot see
    * (distinct keys, same statistic) — a greppable concept column in
    * CATALOG.md is the cheap structural defense. Entries with no
    * banner read "-". */
  def concepts(src: String = readFile(entrySrc)): Map[String, String] = {
    val iq = src.indexOf("def queries")
    val io = src.indexOf("def oracleSql")
    // fail AT the slice, not three calls later (r15 ADVICE): a rename
    // of either anchor would make indexOf return -1 and substring
    // throw (or mis-slice) far from the cause
    require(iq >= 0 && io > iq, "SparkEntry.scala: expected the " +
      "'def queries' anchor before the 'def oracleSql' anchor — " +
      "concepts() slices the entry block between them")
    val block = src.substring(iq, io)
    val entryRe = """(?m)^    "([a-z0-9_]+)" ->""".r
    val hits = entryRe.findAllMatchIn(block).toSeq
    val bannerRe = """// ---- (.+)""".r
    hits.zipWithIndex.map { case (m, i) =>
      val segStart = if (i == 0) 0 else hits(i - 1).start
      val seg = block.substring(segStart, m.start)
      val banner = bannerRe.findAllMatchIn(seg).toSeq.lastOption
        .map(_.group(1)).getOrElse("-")
      val phrase = banner
        .replaceFirst("""^(training-data ops|similarity( eval)?|""" +
          """streaming|multimodal( plumbing)?|text|[A-Z]+\d*[a-z]?): """,
          "") // category prefix off; the concept phrase remains
        .split(" — | ---").head // first clause only
        .replaceAll("""\s*-+\s*$""", "").trim
      m.group(1) -> (if (phrase.isEmpty) "-" else phrase.take(60))
    }.toMap
  }

  def render(): String = {
    val src = readFile(entrySrc) // read ONCE; the extractors share it
    val (qk, ok) = sourceKeys(src)
    val mods = modules(src)
    val cons = concepts(src)
    val sb = new StringBuilder
    sb ++= "# CATALOG — generated operator board "
    sb ++= "(runMain graft.tools.Catalog)\n\n"
    sb ++= s"${qk.size} queries; every row spec-enforced by " +
      "CatalogSpec (duplicate keys, query/oracle set equality, " +
      "staleness of this file).\n\n"
    sb ++= "| query | concept | module | oracle |\n"
    sb ++= "|---|---|---|---|\n"
    qk.sorted.foreach { q =>
      val o = if (ok.contains(q)) "y" else "MISSING"
      sb ++= s"| $q | ${cons.getOrElse(q, "-")} " +
        s"| ${mods.getOrElse(q, "inline")} | $o |\n"
    }
    sb.result()
  }

  def main(args: Array[String]): Unit = {
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("CATALOG.md"), render())
    val (qk, _) = sourceKeys()
    println(s"[catalog] wrote CATALOG.md (${qk.size} queries)")
  }
}
