package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Catalog

/** Repository-level invariants: CATALOG.md is fresh, every main is
  * documented, and two policies each live in exactly one main file. The
  * query board's own invariants (unique names, an oracle and a concept
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

  /** Files under src/main/scala other than `owner` whose text matches
    * `needle`; fails if `owner` itself has moved. */
  private def usedOutside(needle: String, owner: String)
      : Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val own = root.resolve(owner)
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
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

  test("SparkSession.builder appears in src/main/scala only in " +
    "graft/GraftSession.scala (one session builder for every main)") {
    val offenders =
      usedOutside("""SparkSession\s*\.builder""", "graft/GraftSession.scala")
    assert(offenders.isEmpty,
      s"build sessions with GraftSession.local instead: ${offenders.mkString(", ")}")
  }
}
