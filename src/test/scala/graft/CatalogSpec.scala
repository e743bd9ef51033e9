package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Catalog

/** Repository-level invariants: CATALOG.md is fresh, every main is
  * documented, and a few policies each live in exactly one place in
  * src/main. The query board's own invariants (unique names, an oracle and a concept
  * per query) are enforced by [[graft.queries.Registry]] at load; see
  * RegistrySpec. */
class CatalogSpec extends AnyFunSuite {

  test("CATALOG.md is fresh (regenerate: sbt 'runMain " +
    "graft.tools.Catalog') — bench seconds excluded: the driver's " +
    "own Bench rerun rewrites BENCH_FULL.json after generation") {
    val onDisk = java.nio.file.Files.readString(
      java.nio.file.Paths.get("CATALOG.md"))
    assert(onDisk == Catalog.render(),
      "CATALOG.md is STALE — regenerate with graft.tools.Catalog")
  }

  test("every main under src/main/scala is named in README.md or the " +
    "verify skill (no one-off mains piling up unseen)") {
    import scala.jdk.CollectionConverters._
    val docs = Seq("README.md", ".claude/skills/verify/SKILL.md")
      .map(p => java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
      .mkString("\n")
    val files = java.nio.file.Files.walk(
        java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val objectRe = """(?m)^\s*object\s+(\w+)""".r
    val mains = files.flatMap { f =>
      val src = java.nio.file.Files.readString(f)
      val pkg = """(?m)^package\s+([\w.]+)""".r.findAllMatchIn(src)
        .map(_.group(1)).mkString(".")
      """def main\(""".r.findAllMatchIn(src).flatMap { m =>
        objectRe.findAllMatchIn(src.substring(0, m.start)).toSeq
          .lastOption.map(o => s"$pkg.${o.group(1)}")
      }
    }.distinct.sorted
    assert(mains.contains("graft.Verify"), s"main scan drifted: $mains")
    // whole-name match: `graft.Bench` is not named by `graft.BenchOne`
    val unnamed = mains.filterNot(m =>
      ("(?<![\\w.])" + java.util.regex.Pattern.quote(m) + "(?!\\w)").r
        .findFirstIn(docs).isDefined)
    assert(unnamed.isEmpty,
      s"mains named in neither README.md nor SKILL.md: $unnamed")
  }

  private val mainRoot = java.nio.file.Paths.get("src/main/scala")

  private def mainFiles: Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(mainRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
  }

  /** Files under src/main/scala other than `owner` whose text matches
    * `needle`; fails if `owner` itself has moved. */
  private def usedOutside(needle: String, owner: String)
      : Seq[java.nio.file.Path] = {
    val own = mainRoot.resolve(owner)
    val files = mainFiles
    assert(files.contains(own), s"$own moved: update this guard")
    files.filter(f => f != own &&
      needle.r.findFirstIn(java.nio.file.Files.readString(f)).isDefined)
  }

  test("localCheckpoint appears in src/main/scala only in " +
    "graft/ops/Iterate.scala (one module owns the pinning policy)") {
    val offenders = usedOutside("localCheckpoint", "graft/ops/Iterate.scala")
    assert(offenders.isEmpty,
      s"pin through graft.ops.Iterate.pin instead: ${offenders.mkString(", ")}")
  }

  test("an argument-less awaitTermination() in src/main/scala only " +
    "directly follows a stop() on the same query (one bounded drain wait)") {
    // any receiver: chained, wrapped or plain; awaitAnyTermination()
    // never qualifies. Returns (line, directly after a stop()) per wait.
    val wait = """\.\s*awaitTermination\(\s*\)|\bawaitAnyTermination\(\s*\)""".r
    val plain = """(?<![\w.])(\w+)\s*$""".r
    def scan(src: String): Seq[(Int, Boolean)] =
      wait.findAllMatchIn(src).map { m =>
        val upTo = src.substring(0, m.start)
        val tail = upTo.takeRight(400)
        val afterStop = m.matched.startsWith(".") &&
          plain.findFirstMatchIn(tail).exists { r =>
            val q = java.util.regex.Pattern.quote(r.group(1))
            raw"(?<![\w.])$q\s*\.\s*stop\(\s*\)[\s;]*$$".r
              .findFirstIn(tail.substring(0, r.start)).nonEmpty
          }
        (upTo.count(_ == '\n') + 1, afterStop)
      }.toSeq
    assert(scan("q.stop(); q.awaitTermination()") == Seq((1, true)))
    Seq("q.awaitTermination()", "w.start().awaitTermination()",
      "q.get.stop(); q.get.awaitTermination()", "p.stop(); q.awaitTermination()",
      "x.q.stop(); q.awaitTermination()", "spark.streams.awaitAnyTermination()")
      .foreach(s => assert(scan(s) == Seq((1, false)), s))
    val waits = mainFiles.sorted.flatMap { f =>
      scan(java.nio.file.Files.readString(f)).map { case (line, ok) =>
        (s"${f.getFileName}:$line", ok)
      }
    }
    assert(waits.exists(_._2), s"wait scan drifted: $waits")
    val offenders = waits.filterNot(_._2).map(_._1)
    assert(offenders.isEmpty,
      s"wait through graft.streaming.Drain.availableNow: ${offenders.mkString(", ")}")
  }

  test("SparkSession.builder appears in src/main/scala only in " +
    "graft/GraftSession.scala (one session builder for every main)") {
    val offenders =
      usedOutside("""SparkSession\s*\.builder""", "graft/GraftSession.scala")
    assert(offenders.isEmpty,
      s"build sessions with GraftSession.local instead: ${offenders.mkString(", ")}")
  }

  test("the out-of-order guard text appears once in src/main/scala " +
    "(one ordering guard for the per-key stream folds)") {
    val needle = "out-of-order arrival across triggers"
    val hits = mainFiles.flatMap(f => java.util.regex.Pattern.quote(needle)
      .r.findAllIn(java.nio.file.Files.readString(f)).map(_ => f))
    assert(hits == Seq(mainRoot.resolve("graft/streaming/EventStreams.scala")),
      s"raise through EventStreams.outOfOrder instead: $hits")
  }

  test("setLastModified appears in src/main/scala only inside " +
    "EventStreams.stageDrainBatches (one file stager)") {
    val offenders =
      usedOutside("setLastModified", "graft/streaming/EventStreams.scala")
    assert(offenders.isEmpty,
      s"stage through EventStreams.stageDrainBatches: ${offenders.mkString(", ")}")
    val src = java.nio.file.Files.readString(
      mainRoot.resolve("graft/streaming/EventStreams.scala"))
    val start = src.indexOf("def stageDrainBatches(")
    assert(start >= 0, "stageDrainBatches moved: update this guard")
    // the stager's body ends at the next member at object indentation
    val end = """\n  \S""".r.findFirstMatchIn(src.substring(start))
      .map(start + _.start).getOrElse(src.length)
    val outside = "setLastModified".r.findAllMatchIn(src)
      .map(_.start).filter(i => i < start || i >= end).toSeq
    assert(outside.isEmpty,
      s"setLastModified outside stageDrainBatches at offsets $outside")
  }

  test("ClifEtl holds the only thread pool in src/main/scala, sized from " +
    "the session's cores (one bounded overlap of the ETL's tables)") {
    val pool = """Executors\s*\.\s*new\w+|ThreadPoolExecutor|ForkJoinPool|""" +
      """ExecutionContext\s*\.\s*from"""
    val offenders = usedOutside(pool, "graft/clif/ClifEtl.scala")
    assert(offenders.isEmpty,
      s"overlap work through ClifEtl's pool: ${offenders.mkString(", ")}")
    val src = java.nio.file.Files.readString(
      mainRoot.resolve("graft/clif/ClifEtl.scala"))
    val sizes = """newFixedThreadPool\(\s*(\w+)""".r.findAllMatchIn(src)
      .map(_.group(1)).toSeq
    assert(sizes == Seq("threads"), s"one pool, sized by a parameter: $sizes")
    assert(src.contains("run(spark, inDir, outDir, poolSize(spark),"),
      "the public run must size its pool with poolSize")
    val sizeDef = """(?s)def poolSize\(.*?\n\n""".r.findFirstIn(src)
    assert(sizeDef.exists(_.contains("sparkContext.defaultParallelism")),
      s"poolSize must derive from the session's cores: $sizeDef")
  }

  test("no run of 15 consecutive non-blank lines appears in two " +
    "triple-quoted literals under graft/queries (a chain two oracles " +
    "replay is one shared fragment)") {
    val run = 15
    val queriesDir = mainRoot.resolve("graft/queries")
    // each literal's non-blank lines, margin-stripped and trimmed
    val literals = mainFiles.filter(_.startsWith(queriesDir)).sorted
      .flatMap { f =>
        val src = java.nio.file.Files.readString(f)
        "(?s)\"\"\"(.*?)\"\"\"".r.findAllMatchIn(src).map { m =>
          val line = src.substring(0, m.start).count(_ == '\n') + 1
          s"${f.getFileName}:$line" -> m.group(1).split("\n").toSeq
            .map(_.trim.stripPrefix("|").trim).filter(_.nonEmpty)
        }
      }
    assert(literals.size > 300, s"literal scan drifted: ${literals.size}")
    val firstSeen = scala.collection.mutable.HashMap.empty[Seq[String], String]
    // (first literal, later literal) -> the first line they share
    val shared = literals.flatMap { case (at, lines) =>
      lines.sliding(run).filter(_.size == run).toSeq.distinct.flatMap { w =>
        firstSeen.get(w) match {
          case Some(other) => Some((other, at) -> w.head)
          case None => firstSeen(w) = at; None
        }
      }
    }.distinctBy(_._1)
    assert(shared.isEmpty,
      "factor the repeated chain into one fragment (see Query's scaladoc)")
  }

  test("the round-6 cosine chain is spelled in graft/queries only in " +
    "EmbeddingQueries.cos (one oracle fragment for the ANN scoring rule)") {
    val queriesDir = mainRoot.resolve("graft/queries")
    // the chain with all whitespace removed; `a` and `b` are captured
    // and must recur in the two norms; each lambda's variable may have
    // any name, and must recur in its own body
    def norm(v: Int) =
      raw""",(\w+)->CAST\(\${v}ASDOUBLE\)\*CAST\(\${v}ASDOUBLE\)\)\)\)"""
    val chain = ("""ROUND\(list_sum\(list_transform\(list_zip\(([^,]+),""" +
      """([^)]+)\),(\w+)->CAST\(\3\[1\]ASDOUBLE\)\*CAST\(\3\[2\]ASDOUBLE\)""" +
      """\)\)/\(sqrt\(list_sum\(list_transform\(\1""" + norm(4) +
      """\*sqrt\(list_sum\(list_transform\(\2""" + norm(5) + """\),6\)""").r
    val hits = mainFiles.filter(_.startsWith(queriesDir)).sorted
      .flatMap { f =>
        val src = java.nio.file.Files.readString(f)
        "(?s)\"\"\"(.*?)\"\"\"".r.findAllMatchIn(src).flatMap { m =>
          val line = src.substring(0, m.start).count(_ == '\n') + 1
          val body = m.group(1).split("\n")
            .map(_.trim.stripPrefix("|")).mkString.replaceAll("\\s", "")
          chain.findAllMatchIn(body)
            .map(c => (s"${f.getFileName}:$line", c.group(1), c.group(2)))
        }
      }
    val (fragment, inline) = hits.partition { case (at, a, b) =>
      at.startsWith("EmbeddingQueries.scala:") && a == "$a" && b == "$b"
    }
    assert(fragment.size == 1, s"chain scan drifted: $hits")
    assert(inline.isEmpty,
      s"interpolate EmbeddingQueries.cos instead: ${inline.mkString(", ")}")
  }
}
